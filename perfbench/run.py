"""Benchmark entry point.

    python3 perfbench/run.py --workload catchup_bulk --seed 1 --seconds 5 --trace 0

Runs one workload in one process at local[4]. The inputs are a function
of ``--seed``; the workload measures for ``--seconds`` seconds, checks
its outputs, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` installs the layer trace and
reports the per-layer metrics instead. A line before it carries the
run's notes: sizes, unit counts, set-up parts and each workload's own
metrics (see NOTES.md).

Exits non-zero without a result when the engine or ``bench.py`` cannot
be imported, or when a run is void (generator lateness).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, Run, cpu_times, peak_rss_mb  # noqa: E402

# workload -> module; BENCHMARK.json lists the first two, live_multi runs
# on request
WORKLOADS = {"catchup_bulk": "catchup", "corpus_dedup": "corpus", "live_multi": "live"}


def execute(workload: str, seed: int, seconds: float, trace: bool, params=None) -> dict:
    """Run one workload; returns the result object (plus 'notes')."""
    sys.path.insert(0, ROOT)
    import bench  # noqa: F401  (the frozen harness; imported, never edited)
    import debezium_incubator_spark  # noqa: F401

    import tracing

    t_proc = time.perf_counter()
    cpu0 = cpu_times()
    run = Run(workload, seed, seconds, trace)
    mod = importlib.import_module(WORKLOADS[workload])
    tracer = tracing.Tracer(run) if trace else tracing.NullTracer()
    try:
        session_s = run.start_session()
        if trace:
            tracer.install()
        kw = {} if params is None else {"params": params}
        setup_s = session_s + mod.main(run, tracer, **kw)
        run.metric("setup_s", setup_s, "s")
        # reported, not bounded: the JVM's heap sizing moves it by ~20%
        # between identical runs
        run.detail("peak_rss_mb", peak_rss_mb(), "MB")
        run.metric("ops_ok_frac", 1.0 - run.failed / max(run.attempted, 1), "frac")
        if trace:
            import layers

            metrics = layers.per_layer(run, tracer)
            # the traced run's own end-to-end figures, to compare with an
            # untraced run of the same seed
            run.notes["traced_end_to_end"] = dict(run.metrics)
            tracer.write_spans(os.path.join(
                ROOT, ".perfbench_work", "traces", f"{tracer.run_id}.spans.jsonl"))
            tracer.uninstall()
        else:
            metrics = dict(run.metrics)
    finally:
        run.close()
    run.notes["wall_s"] = time.perf_counter() - t_proc
    cpu1 = cpu_times()
    run.notes["cpu_steal_frac"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    run.notes["workload_metrics"] = {k: {"value": v, "unit": u}
                                     for k, (v, u) in run.details.items()}
    if run.failures:
        run.notes["failures"] = run.failures[:20]
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "notes": run.notes,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    res = execute(a.workload, a.seed, a.seconds, bool(a.trace))
    notes = res.pop("notes")
    print(json.dumps({"notes": notes}, default=str))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
