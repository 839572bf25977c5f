"""Per-layer metrics of a traced run, computed from the spans, the job
groups' stage metrics and the SQL plan-node metrics of the measured
window (see ``tracing``).

Attribution: a job counts for the innermost span whose group it ran
under. Lazy public functions (``table_changes``, ``LakeTable.read`` and
the corpus operators) return a plan, so their executor work lands under
the benchmark span of the action that runs it; those spans carry the
layer of the lazy work (``bench.cdf_read`` -> cdf, ``bench.state_read``
-> lake, ``bench.query.*`` -> dedup_text, or graph for dedup_clusters).

Window totals (times, bytes, rows, files, tasks) are divided by the
workload's units (rounds, passes or landed files), so a closed-loop
workload's counters repeat exactly whatever its number of units.

Every metric is emitted on every workload; a layer the workload does not
run reports 0.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

from tracing import p50

# name -> unit, in output order
METRICS = {
    "pipeline.bootstrap_s": "s",
    "pipeline.epoch_s_p50": "s",
    "pipeline.epoch_self_s_p50": "s",
    "pipeline.jobs_per_epoch": "count",
    "pipeline.prefetch_overlap_frac": "frac",
    "pipeline.run_s": "s",
    "pipeline.cpu_s": "s",
    "envelope.py_run_s": "s",
    "envelope.py_start_s": "s",
    "envelope.py_init_s": "s",
    "envelope.py_bytes_sent": "B",
    "envelope.py_bytes_returned": "B",
    "merge.stats_collect_s": "s",
    "merge.shuffle_write_bytes": "B",
    "merge.agg_time_s": "s",
    "merge.rows_out": "count",
    "merge.path_fused": "count",
    "merge.path_broadcast": "count",
    "merge.path_snapshot": "count",
    "merge.run_s": "s",
    "merge.cpu_s": "s",
    "lake.commit_s_p50": "s",
    "lake.bytes_written": "B",
    "lake.files_written": "count",
    "lake.bytes_read": "B",
    "lake.rows_written_per_event": "ratio",
    "lake.manifest_reads": "count",
    "lake.run_s": "s",
    "lake.cpu_s": "s",
    "checkpoint.save_s": "s",
    "checkpoint.saves": "count",
    "cdf.table_changes_s": "s",
    "cdf.bytes_read": "B",
    "cdf.files_read": "count",
    "orchestrator.apply_batch_s_p50": "s",
    "orchestrator.self_run_s": "s",
    "orchestrator.table_straggler_ratio": "ratio",
    "orchestrator.pool_overlap": "ratio",
    "stream.triggers": "count",
    "stream.trigger_s_p50": "s",
    "stream.rows_per_trigger": "count",
    "stream.queue_wait_s_p50": "s",
    "dedup_text.shingle_overlap_pairs_s": "s",
    "dedup_text.ngram_jaccard_pairs_s": "s",
    "dedup_text.minhash_lsh_pairs_s": "s",
    "dedup_text.simhash_near_dups_s": "s",
    "dedup_text.shuffle_bytes": "B",
    "dedup_text.run_s": "s",
    "dedup_text.cpu_s": "s",
    "graph.connected_components_s": "s",
    "graph.cc_jobs": "count",
    "graph.run_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "B",
    "spark.tasks": "count",
    "trace.unattributed_run_frac": "frac",
    "trace.overhead_frac": "frac",
}
# window totals, reported per unit of the workload (see module docstring);
# every other metric is a median, a ratio or already per call
TOTALS = {
    "pipeline.run_s", "pipeline.cpu_s", "envelope.py_run_s", "envelope.py_start_s",
    "envelope.py_init_s", "envelope.py_bytes_sent", "envelope.py_bytes_returned",
    "merge.stats_collect_s", "merge.shuffle_write_bytes", "merge.agg_time_s",
    "merge.rows_out", "merge.path_fused", "merge.path_broadcast", "merge.path_snapshot",
    "merge.run_s", "merge.cpu_s", "lake.bytes_written", "lake.files_written",
    "lake.bytes_read", "lake.manifest_reads", "lake.run_s", "lake.cpu_s",
    "checkpoint.save_s", "checkpoint.saves", "cdf.table_changes_s", "cdf.bytes_read",
    "cdf.files_read", "orchestrator.self_run_s", "stream.triggers",
    "dedup_text.shuffle_bytes", "dedup_text.run_s", "dedup_text.cpu_s", "graph.run_s",
    "spark.gc_s", "spark.spill_bytes", "spark.tasks",
}
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _interval_union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _overlap(a, b) -> float:
    return max(0.0, min(a[1], b[1]) - max(a[0], b[0]))


def per_layer(run, tracer) -> dict:
    t0, t1 = tracer.window[0], tracer.window[1]
    wall = t1 - t0
    spans = {s.id: s for s in tracer.spans}
    win = [s for s in tracer.spans if s.end is not None and s.start >= t0 and s.end <= t1]
    by_name = defaultdict(list)
    for s in win:
        by_name[s.name].append(s)
    children = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None and s.end is not None:
            children[s.parent].append(s)

    def dur(s):
        return s.end - s.start

    def subtree(sid):
        out, stack = set(), [sid]
        while stack:
            x = stack.pop()
            out.add(x)
            stack.extend(c.id for c in children[x])
        return out

    jobs = tracer.job_metrics()
    ops = tracer.operator_metrics()

    def layer_of(job):
        s = spans.get(job["span"])
        return s.layer if s is not None else None

    def jobs_in(layer):
        return [j for j in jobs if layer_of(j) == layer]

    def run_s(js):
        return sum(j["executorRunTime"] for j in js) / 1e3

    def cpu_s(js):
        return sum(j["executorCpuTime"] for j in js) / 1e9

    def field(js, f):
        return sum(j[f] for j in js)

    job_layer = {j["job"]: layer_of(j) for j in jobs}
    job_span = {j["job"]: spans.get(j["span"]) for j in jobs}

    def span_name(job_id):
        s = job_span.get(job_id)
        return s.name if s is not None else None

    def ops_where(pred):
        return [o for o in ops if any(pred(jid) for jid in o["jobs"])]

    def metric_sum(nodes, name):
        # fsum: the same total whatever order the store lists the nodes in
        return math.fsum(o["metrics"].get(name, 0.0) for o in nodes)

    m = dict.fromkeys(METRICS, 0.0)

    # pipeline -----------------------------------------------------------
    # timings of engines driven directly (CDCEngine.run), not through the
    # orchestrator, whose per-table calls are the orchestrator.* metrics
    def direct(s):
        p = s.parent
        while p is not None:
            if spans[p].layer == "orchestrator" or spans[p].name == "CDCEngine.bootstrap":
                return False
            p = spans[p].parent
        return True

    m["pipeline.bootstrap_s"] = p50([dur(s) for s in by_name["CDCEngine.bootstrap"]
                                     if direct(s)])
    epochs = [s for s in by_name["CDCEngine.apply_epoch"] if direct(s)]
    m["pipeline.epoch_s_p50"] = p50([dur(s) for s in epochs])
    m["pipeline.epoch_self_s_p50"] = p50([
        dur(s) - _interval_union((c.start, c.end) for c in children[s.id]) for s in epochs])
    if epochs:
        ids = set().union(*(subtree(s.id) for s in epochs))
        m["pipeline.jobs_per_epoch"] = sum(1 for j in jobs if j["span"] in ids) / len(epochs)
    pref = [s for s in by_name["CDCEngine.slice_stats"] if direct(s)]
    if pref:
        covered = sum(_interval_union(
            (max(p.start, e.start), min(p.end, e.end)) for e in epochs
            if _overlap((p.start, p.end), (e.start, e.end)) > 0) for p in pref)
        m["pipeline.prefetch_overlap_frac"] = covered / sum(dur(p) for p in pref)
    m["pipeline.run_s"] = run_s(jobs_in("pipeline"))
    m["pipeline.cpu_s"] = cpu_s(jobs_in("pipeline"))

    # envelope (the normalize_content Arrow UDF) ---------------------------
    py = [o for o in ops if o["node"] == "ArrowEvalPython"]
    m["envelope.py_run_s"] = metric_sum(py, "time to run Python workers")
    m["envelope.py_start_s"] = metric_sum(py, "time to start Python workers")
    m["envelope.py_init_s"] = metric_sum(py, "time to initialize Python workers")
    m["envelope.py_bytes_sent"] = metric_sum(py, "data sent to Python workers")
    m["envelope.py_bytes_returned"] = metric_sum(py, "data returned from Python workers")

    # merge ----------------------------------------------------------------
    cdc_layers = ("pipeline", "merge", "lake", "orchestrator")
    cdc_ops = ops_where(lambda j: job_layer.get(j) in cdc_layers
                        and span_name(j) != "bench.state_read")
    m["merge.stats_collect_s"] = sum(dur(s) for s in by_name["batch_stats_rows"])
    m["merge.shuffle_write_bytes"] = metric_sum(
        [o for o in cdc_ops if o["node"] == "Exchange"
         and "REPARTITION_BY_NUM" not in o["desc"]], "shuffle bytes written")
    m["merge.agg_time_s"] = metric_sum(
        [o for o in cdc_ops if o["node"] in AGG_NODES], "time in aggregation build")
    commit_ops = ops_where(lambda j: span_name(j) == "LakeTable.commit")
    writes = [o for o in commit_ops if o["node"] == WRITE_NODE]
    m["merge.rows_out"] = metric_sum(writes, "number of output rows")
    commits = by_name["LakeTable.commit"]
    for path in ("fused", "broadcast", "snapshot"):
        m[f"merge.path_{path}"] = sum(1 for s in commits if s.tags.get("merge_path") == path)
    m["merge.run_s"] = run_s(jobs_in("merge"))
    m["merge.cpu_s"] = cpu_s(jobs_in("merge"))

    # lake -----------------------------------------------------------------
    lake_jobs = jobs_in("lake")
    commit_jobs = [j for j in lake_jobs if span_name(j["job"]) == "LakeTable.commit"]
    m["lake.commit_s_p50"] = p50([dur(s) for s in commits])
    m["lake.bytes_written"] = field(commit_jobs, "outputBytes")
    m["lake.files_written"] = metric_sum(writes, "number of written files")
    m["lake.bytes_read"] = field(lake_jobs, "inputBytes")
    if tracer.events_in:
        m["lake.rows_written_per_event"] = m["merge.rows_out"] / tracer.events_in
    m["lake.manifest_reads"] = tracer.calls.get("LakeTable.manifest", 0)
    m["lake.run_s"] = run_s(lake_jobs)
    m["lake.cpu_s"] = cpu_s(lake_jobs)

    # checkpoint -----------------------------------------------------------
    saves = by_name["CheckpointStore.save"]
    m["checkpoint.save_s"] = sum(dur(s) for s in saves)
    m["checkpoint.saves"] = len(saves)

    # cdf ------------------------------------------------------------------
    m["cdf.table_changes_s"] = sum(dur(s) for s in by_name["table_changes"])
    cdf_jobs = jobs_in("cdf")
    m["cdf.bytes_read"] = field(cdf_jobs, "inputBytes")
    m["cdf.files_read"] = metric_sum(
        [o for o in ops_where(lambda j: job_layer.get(j) == "cdf")
         if o["node"].startswith("Scan parquet")], "number of files read")

    # orchestrator ---------------------------------------------------------
    batches = by_name["MultiTableCDC.apply_batch"]
    m["orchestrator.apply_batch_s_p50"] = p50([dur(s) for s in batches])
    m["orchestrator.self_run_s"] = run_s(
        [j for j in jobs if span_name(j["job"]) == "MultiTableCDC.apply_batch"])
    straggle, overlap = [], []
    for b in batches:
        per_table = [dur(c) for c in children[b.id] if c.name == "CDCEngine.apply_epoch"]
        if per_table:
            straggle.append(max(per_table) / statistics.median(per_table))
            overlap.append(sum(per_table) / dur(b))
    m["orchestrator.table_straggler_ratio"] = p50(straggle)
    m["orchestrator.pool_overlap"] = p50(overlap)

    # streaming (StreamingQuery.recentProgress) -----------------------------
    progress = [p for p in getattr(tracer, "progress", []) if p.get("numInputRows", 0) > 0]
    m["stream.triggers"] = len(progress)
    m["stream.trigger_s_p50"] = p50(
        [p["durationMs"]["triggerExecution"] / 1e3 for p in progress])
    m["stream.rows_per_trigger"] = p50([p["numInputRows"] for p in progress])
    # the workload's file visibility -> start of the trigger that read it
    m["stream.queue_wait_s_p50"] = p50(getattr(tracer, "queue_waits", []))

    # corpus operators -----------------------------------------------------
    for fn in ("shingle_overlap_pairs", "ngram_jaccard_pairs", "minhash_lsh_pairs",
               "simhash_near_dups"):
        m[f"dedup_text.{fn}_s"] = p50([dur(s) for s in by_name[fn]])
    dt_jobs = jobs_in("dedup_text")
    m["dedup_text.shuffle_bytes"] = field(dt_jobs, "shuffleWriteBytes")
    m["dedup_text.run_s"] = run_s(dt_jobs)
    m["dedup_text.cpu_s"] = cpu_s(dt_jobs)
    cc = by_name["connected_components"]
    m["graph.connected_components_s"] = p50([dur(s) for s in cc])
    if cc:
        ids = set().union(*(subtree(s.id) for s in cc))
        m["graph.cc_jobs"] = sum(1 for j in jobs if j["span"] in ids) / len(cc)
    m["graph.run_s"] = run_s(jobs_in("graph"))

    # whole run ------------------------------------------------------------
    m["spark.gc_s"] = field(jobs, "jvmGcTime") / 1e3
    m["spark.spill_bytes"] = field(jobs, "memoryBytesSpilled") + field(jobs, "diskBytesSpilled")
    m["spark.tasks"] = field(jobs, "numTasks")
    total = run_s(jobs)
    if total:
        m["trace.unattributed_run_frac"] = run_s([j for j in jobs if j["span"] is None]) / total
    m["trace.overhead_frac"] = tracer.overhead_s / wall

    units = max(1, tracer.units)
    for k in TOTALS:
        m[k] = m[k] / units
    run.notes["trace"] = {
        "units": units, "window_s": wall, "jobs": len(jobs), "spans": len(win),
        "lazy_calls": "spans of table_changes and the corpus operators time planning "
                      "only; their executor work is counted under the benchmark span "
                      "of the action that runs it, which carries the lazy layer",
        "overhead": "trace.overhead_frac = wrapper bookkeeping time / window wall; "
                    "compare traced_end_to_end with an untraced run of the seed for "
                    "the whole cost of tracing",
    }
    return {k: (float(v), METRICS[k]) for k, v in m.items()}
