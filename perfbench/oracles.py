"""Record the DuckDB oracle results of the ``corpus_dedup`` queries.

    python3 perfbench/oracles.py

Runs each query's oracle from ``__spark_entry__.oracle_sql()`` over
``data/documents.parquet`` and writes ``data/oracles.json``: the hash of
the documents and, per query, the hash of its oracle SQL, the row count,
the column names and the order-independent value hash. Rerun it when the
documents or an oracle's SQL change; until then the workload computes a
changed oracle itself, in every run.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from corpus import DATA_DIR, ORACLES_FILE, QUERIES, compute_oracles, sha256_file  # noqa: E402
from harness import ROOT  # noqa: E402


def main() -> int:
    sys.path.insert(0, ROOT)
    rec = {
        "documents_sha256": sha256_file(os.path.join(DATA_DIR, "documents.parquet")),
        "queries": compute_oracles(DATA_DIR, QUERIES),
    }
    with open(ORACLES_FILE, "w") as f:
        json.dump(rec, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps({q: v["rows"] for q, v in rec["queries"].items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
