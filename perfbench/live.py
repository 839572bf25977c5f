"""``live_multi`` — open loop: four tables bootstrapped during set-up,
then ``StreamingMultiTableCDC.start(processing_time=...)`` watches a
directory, as ``multi_apply_job --mode continuous`` does.

Pre-written changelog files land in the watched directory by atomic
rename on a fixed schedule, each carrying about 1% of the live rows.
Freshness of a file is the time from its *scheduled* landing to the
moment every table's checkpoint has moved past the file's last offset
(seen by one poller thread). After the live window a consumer reads
``table_changes`` across the window's versions and each table's current
state.

Reports ``work_s`` = the median file freshness, and on the notes line
the ``live.*`` freshness median and tail and the consumer's read times.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from catchup import TABLE_COLS, reference_state, table_names, union_by_table
from harness import grouped_digests, input_key, summarize, wall_to_perf

PARAMS = {
    "n_keys": 8_000,  # live rows over all tables
    "n_repos": 20,
    "n_tables": 4,
    "slots_per_file": 70,  # ~82 events per file, ~1% of the live rows
}
NUM_BUCKETS = 4
# one file lands every PERIOD_S seconds: below capacity, since each
# file read costs every table's merge a Python-UDF task (about 0.4 s of
# one core per file at 4 tables, measured on 4 cores)
PERIOD_S = 1.0
# the processing-time trigger fires on wall-clock multiples of its
# interval; set above one trigger's duration, with the feed starting just
# after a multiple, the phase between landings and triggers is the same
# in every run
TRIGGER_S = 6.0
TRIGGER = f"{TRIGGER_S:g} seconds"
LAND_OFFSET_S = 0.1
MAX_FILES_PER_TRIGGER = 64
WARM_FILES = 4
FRESHNESS_LIMIT_S = 30.0
POLL_S = 0.05  # the poller shares the driver's interpreter lock
CONSUMER_REPS = 1


def prepare(run, params: dict, n_files: int) -> dict:
    """Generate the seeded snapshot and changelog, cut the log into
    ``n_files`` offset-ordered parquet files in a staging directory, and
    compute each table's reference state over all of them."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table

    spark = run.spark
    gen = {k: params[k] for k in ("n_keys", "n_repos", "n_tables")}
    spf = params["slots_per_file"]
    base = run.path("inputs", input_key(run.seed, {**params, "n_files": n_files}))
    src_p = os.path.join(base, "source")
    gen_source_table(spark, seed=run.seed, **gen).write.parquet(src_p)
    log = gen_changelog(spark, seed=run.seed, n_slots=n_files * spf, **gen).persist()
    stage = os.path.join(base, "stage")
    os.makedirs(stage)
    tbl = log.orderBy("offset").toArrow()
    file_of = pc.divide(tbl["offset"], 4 * spf)  # offsets are slot*4 + idx
    files = []
    for i in range(n_files):
        part = tbl.filter(pc.equal(file_of, i))
        p = os.path.join(stage, f"part-{i:05d}.parquet")
        pq.write_table(part, p)
        files.append({"stage": p, "max_offset": pc.max(part["offset"]).as_py(),
                      "rows": part.num_rows})
    src = spark.read.parquet(src_p)
    # tables partition the keys, so one LWW over every table's rows is
    # each table's reference; the key's table rides along as a column
    ref = reference_state(
        src.withColumn("__t", F.col("src_table")),
        log.withColumn("__t", F.col("source.table")),
        extra=["__t"],
    )
    refs = grouped_digests(ref, "__t", TABLE_COLS)
    log.unpersist()
    return {"source": src_p, "files": files, "refs": refs}


class Feed:
    """Lands staged files on schedule (generator thread) and records when
    every table has committed past each file (poller thread)."""

    def __init__(self, orch, watch: str, files: list[dict]):
        self.orch, self.watch, self.files = orch, watch, files
        self.stop = threading.Event()
        self.landed: dict[int, float] = {}
        self.done: dict[int, float] = {}
        self.scheduled: dict[int, float] = {}

    def land(self, idxs: list[int], t0: float, period: float) -> None:
        for k, i in enumerate(idxs):
            due = t0 + k * period
            self.scheduled[i] = due
            delay = due - time.perf_counter()
            if delay > 0 and self.stop.wait(delay):
                return
            src = self.files[i]["stage"]
            os.utime(src)  # file-source order is modification time
            os.rename(src, os.path.join(self.watch, os.path.basename(src)))
            self.landed[i] = time.perf_counter()

    def positions(self) -> int:
        return min(
            int(e.store.latest().get("stream_pos", -1)) for e in self.orch.engines.values()
        )

    def poll(self, idxs: list[int], deadline: float) -> None:
        pending = list(idxs)
        while pending and time.perf_counter() < deadline and not self.stop.is_set():
            pos = self.positions()
            now = time.perf_counter()
            while pending and pending[0] in self.landed and \
                    self.files[pending[0]]["max_offset"] <= pos:
                self.done[pending.pop(0)] = now
            time.sleep(POLL_S)

    def run(self, idxs: list[int], t0: float, period: float, limit_s: float) -> None:
        """Land ``idxs`` from ``t0`` (perf_counter) every ``period`` s and
        wait until each is committed or ``limit_s`` after the last one."""
        deadline = t0 + len(idxs) * period + limit_s
        gen = threading.Thread(target=self.land, args=(idxs, t0, period),
                               name="perfbench-gen")
        pol = threading.Thread(target=self.poll, args=(idxs, deadline), name="perfbench-poll")
        gen.start()
        pol.start()
        try:
            pol.join()
        finally:
            self.stop.set()
            gen.join()
            pol.join()
            self.stop.clear()


def queue_waits(feed: Feed, progress: list[dict], idxs: list[int]) -> list[float]:
    """Seconds from each committed file's landing to the start of the
    trigger that committed it: the last trigger started before the file
    was seen committed."""
    starts = sorted(wall_to_perf(p["timestamp"]) for p in progress
                    if p.get("numInputRows", 0) > 0)
    waits = []
    for i in idxs:
        st = max((t for t in starts if t <= feed.done.get(i, -1.0)), default=None)
        if st is not None:
            waits.append(max(0.0, st - feed.landed[i]))
    return waits


def next_trigger() -> float:
    """perf_counter time of the trigger clock's next tick."""
    now = time.time()
    tick = (int(now // TRIGGER_S) + 1) * TRIGGER_S
    return time.perf_counter() + (tick - now)


def consumer_reads(run, orch, versions: dict, tracer) -> tuple[list, list, dict]:
    """CONSUMER_REPS rounds of (every table's change feed over its window
    versions) and (every table's current state), one Spark job each;
    returns the per-round seconds of both and the last state digests."""
    from debezium_incubator_spark.lake import cdf

    cdf_t, state_t, digests = [], [], {}
    for _ in range(CONSUMER_REPS):
        t0 = time.perf_counter()
        with tracer.span("bench.cdf_read", layer="cdf"):
            feed = union_by_table({
                n: cdf.table_changes(orch.engines[n].table, run.spark, v0, v1)
                for n, (v0, v1) in versions.items()
            })
            changes = grouped_digests(feed, "__t", feed.columns)
        cdf_t.append(time.perf_counter() - t0)
        for n in versions:
            run.op(changes.get(n, (0, 0))[0] > 0, f"{n}: empty change feed")
        t0 = time.perf_counter()
        with tracer.span("bench.state_read", layer="lake"):
            state = union_by_table({n: orch.final_state(n) for n in versions})
            digests = grouped_digests(state, "__t", TABLE_COLS)
        state_t.append(time.perf_counter() - t0)
    return cdf_t, state_t, digests


def main(run, tracer, params: dict = PARAMS) -> float:
    from debezium_incubator_spark.plans.orchestrator import (
        MultiTableCDC,
        StreamingMultiTableCDC,
    )

    spark = run.spark
    n_live = max(1, int(round(run.seconds / PERIOD_S)))
    t0 = time.perf_counter()
    inputs = prepare(run, params, WARM_FILES + n_live)
    prep_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    root, watch = run.path("lake"), run.path("watch")
    os.makedirs(watch)
    orch = MultiTableCDC(spark, root, num_buckets=NUM_BUCKETS)
    for name in table_names(params["n_tables"]):
        orch.create_table(name)
    orch.bootstrap(spark.read.parquet(inputs["source"]))
    boot_s = time.perf_counter() - t0

    # warm-up: two triggers, the first at query start on files already
    # there (cold), the second on the next clock tick; the window's
    # triggers then run warm and start on the tick after
    t0 = time.perf_counter()
    smt = StreamingMultiTableCDC(orch, watch, run.path("stream-ckpt"),
                                 max_files_per_trigger=MAX_FILES_PER_TRIGGER)
    feed = Feed(orch, watch, inputs["files"])
    half = WARM_FILES // 2
    feed.land(list(range(half)), t0, 0.0)
    q = smt.start(spark, processing_time=TRIGGER)
    try:
        feed.poll(list(range(half)), t0 + FRESHNESS_LIMIT_S)
        feed.land(list(range(half, WARM_FILES)), time.perf_counter(), 0.0)
        feed.poll(list(range(half, WARM_FILES)),
                  time.perf_counter() + TRIGGER_S + FRESHNESS_LIMIT_S)
        warm_s = time.perf_counter() - t0
        warm_ok = len(feed.done) == WARM_FILES

        versions0 = {n: e.table.version() for n, e in orch.engines.items()}
        n_progress0 = len(q.recentProgress)
        live = list(range(WARM_FILES, WARM_FILES + n_live))
        tracer.window_start()
        feed.run(live, next_trigger() + LAND_OFFSET_S, PERIOD_S, FRESHNESS_LIMIT_S)
        progress = q.recentProgress[n_progress0:]
        err = q.exception()
    finally:
        q.stop()
        smt.stop_poller()
    run.op(warm_ok and err is None, f"warm-up incomplete or stream error: {err}")

    late = max(feed.landed[i] - feed.scheduled[i] for i in live)
    if late > TRIGGER_S:
        raise RuntimeError(f"void run: generator ran {late:.3f}s late "
                           f"(more than the {TRIGGER_S}s trigger interval)")
    fresh = []
    for i in live:
        ok = i in feed.done and feed.done[i] - feed.scheduled[i] <= FRESHNESS_LIMIT_S
        run.op(ok, f"file {i} not fresh within {FRESHNESS_LIMIT_S}s")
        if ok:
            fresh.append(feed.done[i] - feed.scheduled[i])
    triggers = [p for p in progress if p.get("numInputRows", 0) > 0]
    landed_rows = sum(inputs["files"][i]["rows"] for i in feed.landed if i in live)
    read_rows = sum(p["numInputRows"] for p in triggers)
    run.op(read_rows == landed_rows,
           f"stream read {read_rows} rows of the {landed_rows} landed in the window")

    versions = {n: (versions0[n], e.table.version()) for n, e in orch.engines.items()}
    cdf_t, state_t, digests = consumer_reads(run, orch, versions, tracer)
    tracer.window_end()
    for name, ref in inputs["refs"].items():
        got = digests.get(name)
        run.op(got == ref, f"{name}: state {got} != reference {ref}")

    fs = summarize(fresh) if fresh else {"median": FRESHNESS_LIMIT_S,
                                        "tail": FRESHNESS_LIMIT_S, "n": 0,
                                        "tail_level": "none"}
    run.metric("work_s", fs["median"], "s")
    run.detail("live.freshness_p50_s", fs["median"], "s")
    run.detail("live.freshness_tail_s", fs["tail"], "s")
    run.detail("live.cdf_read_s", statistics.median(cdf_t), "s")
    run.detail("live.state_read_s", statistics.median(state_t), "s")
    run.notes.update(
        files=n_live, period_s=PERIOD_S, trigger=TRIGGER,
        rows_per_file=statistics.median(f["rows"] for f in inputs["files"]),
        freshness_n=fs["n"], freshness_tail_level=fs["tail_level"],
        generator_max_late_s=late, data_triggers=len(triggers),
        prep_s=prep_s, bootstrap_s=boot_s, warmup_s=warm_s,
        trigger_ms=[p["durationMs"] for p in triggers], fresh=fresh,
    )
    tracer.progress = progress
    tracer.queue_waits = queue_waits(feed, progress, live)
    tracer.events_in = sum(inputs["files"][i]["rows"] for i in live)
    tracer.units = len(live)
    return prep_s + boot_s + warm_s
