"""Tiny-scale smoke of every workload, traced and untraced.

    python3 perfbench/smoke.py

Fails (exit 1) when a run's output check fails, when a metric named in
BENCHMARK.json is missing or has another unit, or when more than
MAX_UNATTRIBUTED of the traced window's executor run time ran in jobs
with no span group (a wrapper that lost its job group, e.g. on a pool
thread). Takes a few minutes: six short Spark sessions, each in its own
process (one SparkContext per process).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench_run  # noqa: E402
from harness import ROOT  # noqa: E402

MAX_UNATTRIBUTED = 0.05
TINY = {
    "catchup_bulk": ({"n_keys": 2_000, "n_repos": 20, "n_slots": 4_000, "n_tables": 3}, 2),
    "live_multi": ({"n_keys": 800, "n_repos": 10, "n_tables": 4, "slots_per_file": 8}, 3),
    # the corpus is the fixed test data: one cold and one measured pass
    "corpus_dedup": (None, 1),
}


def check(res: dict, expected: dict, label: str) -> list[str]:
    errs = []
    if not res["correct"] or res["failed"]:
        errs.append(f"{label}: {res['failed']} failed of {res['attempted']}: "
                    f"{res['notes'].get('failures')}")
    got = res["metrics"]
    for name, unit in expected.items():
        if name not in got:
            errs.append(f"{label}: metric {name} missing")
        elif got[name]["unit"] != unit:
            errs.append(f"{label}: metric {name} unit {got[name]['unit']} != {unit}")
    return errs


def one(workload: str, trace: bool) -> dict:
    """Run one tiny case in a child process; returns its result object."""
    out = subprocess.run(
        [sys.executable, __file__, "--one", workload, str(int(trace))],
        capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        raise RuntimeError(f"{workload} trace={int(trace)} exited {out.returncode}: "
                           f"{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> int:
    if len(sys.argv) == 4 and sys.argv[1] == "--one":
        workload, trace = sys.argv[2], sys.argv[3] == "1"
        params, seconds = TINY[workload]
        print(json.dumps(bench_run.execute(workload, 1, seconds, trace, params=params)))
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    errs = []
    for workload in TINY:
        for trace in (False, True):
            label = f"{workload} trace={int(trace)}"
            res = one(workload, trace)
            errs += check(res, layer if trace else e2e, label)
            if trace:
                frac = res["metrics"]["trace.unattributed_run_frac"]["value"]
                if frac > MAX_UNATTRIBUTED:
                    errs.append(f"{label}: unattributed run time {frac:.3f} > "
                                f"{MAX_UNATTRIBUTED}")
            print(f"{label}: ok" if not errs else f"{label}: {errs}", flush=True)
    for e in errs:
        print("FAIL", e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
