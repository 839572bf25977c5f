"""``catchup_bulk`` — closed loop: catch a table up after downtime, in
two phases per round, from one generated snapshot and changelog.

Single table, as ``apply_job --mode batch`` does: ``CDCEngine.bootstrap``
of the snapshot, then ``CDCEngine.run`` over the changelog. Every epoch
carries more events than the table has live rows, and more than the
merge's 100k-event broadcast floor, so every bucket is touched and the
merge takes its fused path. A consumer then reads the change feed and
the current state.

Multi-table, as ``multi_apply_job`` does on a backlog: the snapshot's
keys belong to ``n_tables`` tables; ``MultiTableCDC.bootstrap`` loads them
and ``StreamingMultiTableCDC`` (available-now trigger) drains the same
changelog, whose files are already in the watched directory, in one
trigger: one ``MultiTableCDC.apply_batch`` fanned out to the tables'
engines, whose per-table epochs are below the broadcast floor. Then
every table's current state is read.

Each round starts from empty tables. The window is whole rounds: at
least one and at least ``--seconds``. Reports ``work_s`` = one round
(both phases), and on the notes line ``catchup.bootstrap_rows_per_s`` /
``catchup.events_per_s`` (single table, totals over the rounds), the two
read times and the multi-table phase's time and event rate.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from functools import reduce

from harness import grouped_digests, input_key, table_digest, wall_to_perf

# generator parameters; every one of them is part of the input cache key
PARAMS = {
    "n_keys": 50_000,
    "n_repos": 40,
    "n_slots": 200_000,
    "n_tables": 3,
}
NUM_BUCKETS = 8
EPOCHS = 2
# the multi-table phase reads the changelog's part files in one trigger
MAX_FILES_PER_TRIGGER = 64
TABLE_COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]


def table_names(n: int) -> list[str]:
    return [f"files_{i:02d}" for i in range(n)]


def reference_state(src, log, extra: list[str] = ()):
    """Independent last-writer-wins answer: the snapshot rows sit below
    every event, and per key the highest offset wins (``max_by``); a key
    whose winner is a delete or tombstone is absent. ``extra`` columns
    of ``src`` and ``log`` ride along with the winner."""
    from pyspark.sql import functions as F

    snap = src.select(
        "repo", "path", "commit", "lang", "content", *extra,
        F.lit(-1).cast("long").alias("offset"), F.lit("r").alias("op"),
    )
    ev = log.select(
        "repo", "path", "after.commit", "after.lang", "after.content", *extra,
        "offset", "op",
    )
    payload = F.struct("commit", "lang", "content", "op", *extra)
    win = (
        snap.unionByName(ev)
        .groupBy("repo", "path")
        .agg(F.max_by(payload, "offset").alias("w"))
    )
    return win.filter(~F.col("w.op").isin("d", "t")).select(
        "repo", "path", "w.commit", "w.lang", "w.content",
        F.sha2(F.col("w.content"), 256).alias("content_sha256"),
        *[F.col(f"w.{c}").alias(c) for c in extra],
    )


def union_by_table(frames: dict):
    """One DataFrame of every table's rows, tagged with its name in ``__t``."""
    from pyspark.sql import functions as F

    return reduce(lambda a, b: a.unionByName(b),
                  [df.withColumn("__t", F.lit(n)) for n, df in frames.items()])


def prepare(run, params: dict) -> dict:
    """Generate the seeded inputs and compute the reference digest of
    every table (the tables partition the keys, so the single table's
    reference is their sum)."""
    from pyspark.sql import functions as F

    from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table

    spark = run.spark
    base = run.path("inputs", input_key(run.seed, params))
    src_p, log_p = os.path.join(base, "source"), os.path.join(base, "changelog")
    gen = {k: params[k] for k in ("n_keys", "n_repos", "n_tables")}
    gen_source_table(spark, seed=run.seed, **gen).write.parquet(src_p)
    gen_changelog(spark, seed=run.seed, **params).write.parquet(log_p)
    src, log = spark.read.parquet(src_p), spark.read.parquet(log_p)

    files = sorted(os.path.join(log_p, f) for f in os.listdir(log_p)
                   if f.endswith(".parquet"))

    ref = reference_state(
        src.withColumn("__t", F.col("src_table")),
        log.withColumn("__t", F.col("source.table")),
        extra=["__t"],
    )
    refs = grouped_digests(ref, "__t", TABLE_COLS)
    total = (sum(n for n, _ in refs.values()), sum(s for _, s in refs.values()))
    return {"source": src_p, "changelog": log_p, "files": files, "ref": total,
            "refs": refs}


def single_table(run, inputs: dict, d: str, offsets_per_epoch: int, tracer) -> dict:
    """Bootstrap + stream into a fresh table, then a consumer's reads of
    it: the change feed from the bootstrap version to the last epoch and
    the current state (whose digest is the output check)."""
    from debezium_incubator_spark.lake.cdf import table_changes
    from debezium_incubator_spark.plans.pipeline import CDCEngine
    from debezium_incubator_spark.sources.changelog import ParquetChangelog

    spark = run.spark
    eng = CDCEngine(spark, f"{d}/table", f"{d}/ckpt", num_buckets=NUM_BUCKETS)
    eng.create_target()
    src = spark.read.parquet(inputs["source"]).drop("src_table")
    t0 = time.perf_counter()
    eng.bootstrap(src)
    boot_s = time.perf_counter() - t0
    rows = eng.metrics()["counters"].get("events_in", 0)
    v0 = eng.table.version()
    t0 = time.perf_counter()
    applied = eng.run(ParquetChangelog(inputs["changelog"]),
                      offsets_per_epoch=offsets_per_epoch)
    stream_s = time.perf_counter() - t0
    events = eng.metrics()["counters"].get("events_in", 0) - rows
    t0 = time.perf_counter()
    with tracer.span("bench.cdf_read", layer="cdf"):
        feed = table_changes(eng.table, spark, v0)
        changes = table_digest(feed, feed.columns)[0]
    cdf_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("bench.state_read", layer="lake"):
        digest = table_digest(eng.final_state(), TABLE_COLS)
    state_s = time.perf_counter() - t0
    return {"boot_s": boot_s, "rows": rows, "stream_s": stream_s, "cdf_s": cdf_s,
            "state_s": state_s, "events": events, "epochs": len(applied),
            "changes": changes, "digest": digest}


def multi_table(run, inputs: dict, d: str, n_tables: int, files: list[str], tracer) -> dict:
    """Bootstrap N tables, put ``files`` in a watched directory and drain
    it with an available-now trigger; then read every table's current
    state (their digests are the output check)."""
    from debezium_incubator_spark.plans.orchestrator import (
        MultiTableCDC,
        StreamingMultiTableCDC,
    )

    spark = run.spark
    watch = os.path.join(d, "watch")
    os.makedirs(watch)
    for p in files:
        shutil.copy(p, watch)
    t0 = time.perf_counter()
    orch = MultiTableCDC(run.spark, os.path.join(d, "lake"), num_buckets=NUM_BUCKETS)
    for name in table_names(n_tables):
        orch.create_table(name)
    orch.bootstrap(spark.read.parquet(inputs["source"]))
    boot_s = time.perf_counter() - t0
    rows = sum(m["counters"].get("events_in", 0) for m in orch.metrics().values())
    smt = StreamingMultiTableCDC(orch, watch, os.path.join(d, "stream-ckpt"),
                                 max_files_per_trigger=MAX_FILES_PER_TRIGGER)
    t_start = time.perf_counter()
    q = smt.start(spark)
    q.awaitTermination()
    stream_s = time.perf_counter() - t_start
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    err = q.exception()
    events = sum(m["counters"].get("events_in", 0) for m in orch.metrics().values()) - rows
    t0 = time.perf_counter()
    with tracer.span("bench.multi_state_read", layer="lake"):
        digests = grouped_digests(
            union_by_table({n: orch.final_state(n) for n in orch.engines}), "__t", TABLE_COLS)
    state_s = time.perf_counter() - t0
    return {"boot_s": boot_s, "stream_s": stream_s, "state_s": state_s, "events": events,
            "t_start": t_start, "progress": progress, "error": err, "digests": digests}


def one_round(run, inputs: dict, params: dict, tag: str, tracer) -> dict:
    """Both phases into fresh tables."""
    d = run.path("rounds", tag)
    shutil.rmtree(d, ignore_errors=True)
    single = single_table(run, inputs, os.path.join(d, "single"), epoch_offsets(params),
                          tracer)
    multi = multi_table(run, inputs, os.path.join(d, "multi"), params["n_tables"],
                        inputs["files"], tracer)
    shutil.rmtree(d, ignore_errors=True)
    single["work_s"] = sum(single[k] for k in ("boot_s", "stream_s", "cdf_s", "state_s"))
    multi["work_s"] = sum(multi[k] for k in ("boot_s", "stream_s", "state_s"))
    return {"single": single, "multi": multi, "work_s": single["work_s"] + multi["work_s"]}


def epoch_offsets(params: dict) -> int:
    """Offsets per epoch that split the log into EPOCHS equal slices
    (offsets are slot*4 + idx)."""
    return -(-params["n_slots"] * 4 // EPOCHS)


def check_round(run, inputs: dict, params: dict, r: dict) -> None:
    """The round's operations, each counted: the single table's bootstrap,
    stream, change feed and state, the multi-table stream and each
    table's state."""
    s, m = r["single"], r["multi"]
    run.op(s["rows"] == params["n_keys"],
           f"single bootstrap applied {s['rows']} rows, not {params['n_keys']}")
    run.op(s["epochs"] == EPOCHS, f"single stream applied {s['epochs']} epochs, not {EPOCHS}")
    run.op(s["changes"] > 0, "empty change feed")
    run.op(s["digest"] == inputs["ref"],
           f"single final state {s['digest']} != reference {inputs['ref']}")
    read = sum(p["numInputRows"] for p in m["progress"])
    run.op(m["error"] is None and read == m["events"],
           f"multi stream read {read} rows and applied {m['events']}, error {m['error']}")
    for name, ref in inputs["refs"].items():
        got = m["digests"].get(name)
        run.op(got == ref, f"{name}: state {got} != reference {ref}")


def queue_waits(progress: list[dict], t_start: float) -> list[float]:
    """Seconds from the query's start, when every file is already in the
    watched directory, to the start of the trigger that read each one."""
    return [max(0.0, wall_to_perf(p["timestamp"]) - t_start) for p in progress]


def main(run, tracer, params: dict = PARAMS) -> float:
    """Returns the setup seconds (excluding session start)."""
    t0 = time.perf_counter()
    inputs = prepare(run, params)
    prep_s = time.perf_counter() - t0

    # no warm-up round: the inputs' generation and reference have already
    # compiled the scans, shuffles, aggregates and writes; the envelope,
    # merge and stream paths run their first time in the round, as in a
    # fresh ``apply_job --mode batch`` process. A warm-up would add about
    # a fifth to every run, which the budget of a check does not allow.
    res = []
    tracer.window_start()
    elapsed = 0.0
    while not res or elapsed < run.seconds:
        with tracer.span("bench.round"):
            r = one_round(run, inputs, params, f"r{len(res)}", tracer)
        res.append(r)
        elapsed += r["work_s"]
        check_round(run, inputs, params, r)
    tracer.window_end()

    single, multi = [r["single"] for r in res], [r["multi"] for r in res]

    def total(rs, k):
        return sum(x[k] for x in rs)

    run.metric("work_s", statistics.median(r["work_s"] for r in res), "s")
    run.detail("catchup.bootstrap_rows_per_s",
               total(single, "rows") / total(single, "boot_s"), "rows/s")
    run.detail("catchup.events_per_s", total(single, "events") / total(single, "stream_s"),
               "1/s")
    run.detail("catchup.cdf_read_s", statistics.median(x["cdf_s"] for x in single), "s")
    run.detail("catchup.state_read_s", statistics.median(x["state_s"] for x in single), "s")
    run.detail("catchup.multi_s", statistics.median(x["work_s"] for x in multi), "s")
    run.detail("catchup.multi_events_per_s",
               total(multi, "events") / total(multi, "stream_s"), "1/s")
    run.notes.update(rounds=len(res), rows_per_round=single[0]["rows"],
                     events_per_round=single[0]["events"], epochs_per_round=EPOCHS,
                     changes_per_round=single[0]["changes"], tables=params["n_tables"],
                     multi_files=len(inputs["files"]),
                     multi_trigger_ms=[p["durationMs"]["triggerExecution"]
                                       for x in multi for p in x["progress"]],
                     prep_s=prep_s)
    tracer.events_in = total(single, "events") + total(multi, "events")
    tracer.progress = [p for x in multi for p in x["progress"]]
    tracer.queue_waits = [w for x in multi
                          for w in queue_waits(x["progress"], x["t_start"])]
    tracer.units = len(res)
    return prep_s
