"""``corpus_dedup`` — closed loop over four warm near-duplicate queries
from ``__spark_entry__.queries()`` on the repository's documents test
data at sf0.1 (5,000 documents, kept as ``data/documents.parquet``).

The window is whole passes: at least MIN_PASSES and at least
``--seconds``. Reports ``work_s`` = one pass of the four queries (the
sum of their medians), and ``corpus.<query>_s`` per query on the notes
line.

Only ``functions.dedup_text`` and ``functions.graph`` run here, so a CDC
change should leave this workload flat, and the reverse. The documents
are fixed test data, so the seed does not apply. Each result is checked
against the repository's DuckDB oracle (``__spark_entry__.oracle_sql()``).
The oracles take about 45 s on 4 cores at this size, so they are
computed once by ``oracles.py`` and recorded in ``data/oracles.json``
with the hash of the documents and of each oracle's SQL; a query whose
SQL no longer matches its record has its oracle computed in the run.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

from harness import ROOT

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
ORACLES_FILE = os.path.join(DATA_DIR, "oracles.json")
QUERIES = ["dedup_clusters", "ngram_jaccard_dups", "simhash_near_dups", "minhash_lsh_dups"]
# one cold pass (about twice a warm one: on a smaller corpus it takes
# as long, measured on 4 cores); the window then holds at least
# MIN_PASSES warm passes
WARM_PASSES = 1
MIN_PASSES = 1


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def sha256_text(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def value_hash(pdf) -> str:
    """The contract check's order-independent value hash of a result."""
    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from check_contract import value_hash as vh

    return vh(pdf)


def compute_oracles(data_dir: str, names: list[str]) -> dict:
    """Run each query's DuckDB oracle over ``data_dir``'s documents:
    {query: {"sql_sha256", "rows", "columns", "value_hash"}}."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    path = os.path.join(data_dir, "documents.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in names:
            exp = con.execute(sql[q]).df()
            out[q] = {"sql_sha256": sha256_text(sql[q]), "rows": len(exp),
                      "columns": sorted(exp.columns), "value_hash": value_hash(exp)}
    finally:
        con.close()
    return out


def expected_results(data_dir: str, names: list[str]) -> tuple[dict, list[str]]:
    """Each query's oracle result from ``data/oracles.json`` when its
    record matches the documents and the oracle's current SQL; the others
    are computed now. Returns the results and the recomputed names."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    docs = sha256_file(os.path.join(data_dir, "documents.parquet"))
    rec = {}
    if os.path.exists(ORACLES_FILE):
        with open(ORACLES_FILE) as f:
            saved = json.load(f)
        if saved.get("documents_sha256") == docs:
            rec = saved["queries"]
    stale = [q for q in names
             if q not in rec or rec[q]["sql_sha256"] != sha256_text(sql[q])]
    out = {q: rec[q] for q in names if q not in stale}
    out.update(compute_oracles(data_dir, stale))
    return out, stale


def run_query(run, expected: dict | None, fn, name: str, tracer, data_dir: str) -> float:
    """One timed query (result materialised on the driver), then its
    oracle check, unless ``expected`` is None (the warm-up, checked by
    the same code on the same documents in the window), and the cache
    release bench.py also does between queries; returns the timed
    seconds."""
    layer = "graph" if name == "dedup_clusters" else "dedup_text"
    t0 = time.perf_counter()
    with tracer.span(f"bench.query.{name}", layer=layer):
        got = fn(run.spark, data_dir).toPandas()
    dt = time.perf_counter() - t0
    run.spark.catalog.clearCache()
    if expected is not None:
        exp = expected[name]
        ok = (len(got) == exp["rows"] and sorted(got.columns) == exp["columns"]
              and value_hash(got) == exp["value_hash"])
        run.op(ok, f"{name}: result differs from the DuckDB oracle")
    return dt


def main(run, tracer, data_dir: str = DATA_DIR) -> float:
    import __spark_entry__ as entry
    from bench import BENCH_QUERIES

    names = [q for q in QUERIES if q in BENCH_QUERIES]
    qs = entry.queries()
    t0 = time.perf_counter()
    expected, stale = expected_results(data_dir, names)
    prep_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    warm = [{q: run_query(run, None, qs[q], q, tracer, data_dir) for q in names}
            for _ in range(WARM_PASSES)]
    warm_s = time.perf_counter() - t0

    times: dict[str, list[float]] = {q: [] for q in names}
    tracer.window_start()
    t0 = time.perf_counter()
    while len(times[names[0]]) < MIN_PASSES or time.perf_counter() - t0 < run.seconds:
        for q in names:
            times[q].append(run_query(run, expected, qs[q], q, tracer, data_dir))
    tracer.window_end()

    run.metric("work_s", sum(statistics.median(times[q]) for q in names), "s")
    for q in names:
        run.detail(f"corpus.{q}_s", statistics.median(times[q]), "s")
    tracer.units = len(times[names[0]])
    run.notes.update(passes=len(times[names[0]]), pass_times=times, prep_s=prep_s,
                     oracles_computed=stale, warmup_s=warm_s, warmup_query_s=warm)
    return prep_s + warm_s
