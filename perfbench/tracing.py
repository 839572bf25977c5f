"""Outside-in layer trace for ``--trace 1`` runs.

Spans: wrappers installed around public functions of the engine's
modules record (id, name, layer, parent, start, end, thread, run id).
Spans are kept in memory and written out when the run ends. A span
started on a pool thread takes the span that submitted the work as its
parent (``ThreadPoolExecutor.submit`` is wrapped while tracing).

Job groups: each wrapper sets a Spark job group named after its span
inside the thread that executes the call and restores the previous group
on exit, so executor run/CPU/GC time, bytes, tasks and spill of every
job can be summed per span from the status store (``jobsList`` /
``stageList``). Operator metrics (ArrowEvalPython, Exchange, Aggregate,
write nodes) come from the SQL status store. Both stores are readable
with ``spark.ui.enabled=false``.

Lazy calls: a wrapped function that returns a lazy DataFrame measures
planning only; its executor work lands under the span of the action
that runs it (for the corpus operators, the benchmark's own
``bench.query`` span).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import statistics
import threading
import time
import uuid

GROUP_PREFIX = "pb:"

# (module, owner class or None, attribute, layer)
WRAPPED = [
    ("debezium_incubator_spark.plans.pipeline", "CDCEngine", "bootstrap", "pipeline"),
    ("debezium_incubator_spark.plans.pipeline", "CDCEngine", "run", "pipeline"),
    ("debezium_incubator_spark.plans.pipeline", "CDCEngine", "apply_epoch", "pipeline"),
    ("debezium_incubator_spark.plans.pipeline", "CDCEngine", "slice_stats", "pipeline"),
    ("debezium_incubator_spark.operators.merge", None, "merge_upsert", "merge"),
    ("debezium_incubator_spark.operators.merge", None, "batch_stats_rows", "merge"),
    ("debezium_incubator_spark.lake.table", "LakeTable", "commit", "lake"),
    ("debezium_incubator_spark.lake.checkpoint", "CheckpointStore", "save", "checkpoint"),
    ("debezium_incubator_spark.lake.cdf", None, "table_changes", "cdf"),
    ("debezium_incubator_spark.plans.orchestrator", "MultiTableCDC", "apply_batch", "orchestrator"),
    ("debezium_incubator_spark.plans.orchestrator", "MultiTableCDC", "bootstrap", "orchestrator"),
    ("debezium_incubator_spark.functions.dedup_text", None, "shingle_overlap_pairs", "dedup_text"),
    ("debezium_incubator_spark.functions.dedup_text", None, "ngram_jaccard_pairs", "dedup_text"),
    ("debezium_incubator_spark.functions.dedup_text", None, "minhash_lsh_pairs", "dedup_text"),
    ("debezium_incubator_spark.functions.dedup_text", None, "simhash_near_dups", "dedup_text"),
    ("debezium_incubator_spark.functions.graph", None, "connected_components", "graph"),
]
# modules that bound a wrapped function's name at import time (the others
# look it up in its own module when called)
REBIND = {
    "merge_upsert": ["debezium_incubator_spark.plans.pipeline"],
    "ngram_jaccard_pairs": ["debezium_incubator_spark.entry_queries"],
    "minhash_lsh_pairs": ["debezium_incubator_spark.entry_queries"],
    "simhash_near_dups": ["debezium_incubator_spark.entry_queries"],
}
# call counters only (no span): cheap driver-side metadata reads.
# LakeTable.summary reads through manifest, so its reads count there.
COUNTED = [("debezium_incubator_spark.lake.table", "LakeTable", "manifest")]


class NullTracer:
    """Tracing off: every hook is a no-op."""

    events_in = 0
    units = 1

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "bench"):
        yield

    def window_start(self) -> None:
        pass

    def window_end(self) -> None:
        pass


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "thread", "tags")

    def __init__(self, sid, name, layer, parent, thread):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.thread = thread
        self.start = time.perf_counter()
        self.end = None
        self.tags: dict = {}


class Tracer:
    def __init__(self, run):
        self.run = run
        self.run_id = f"{run.workload}-s{run.seed}-{uuid.uuid4().hex[:8]}"
        self.spans: list[Span] = []
        self.calls: dict[str, int] = {}
        self.events_in = 0  # events applied in the window (set by the workload)
        self.units = 1  # rounds, passes or files of the window (ditto)
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []
        self._orig: dict = {}  # "Class.attr" -> unwrapped function of COUNTED
        # [t0, t1, last job id and last SQL execution id before t0, after t1]
        self.window = None

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self):
        st = self._stack()
        return st[-1] if st else getattr(self._local, "inherited", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "bench"):
        t = time.perf_counter()
        sc = self.run.spark.sparkContext
        parent = self.current()
        sp = Span(next(self._ids), name, layer, parent.id if parent else None,
                  threading.current_thread().name)
        with self._lock:
            self.spans.append(sp)
        prev = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        prev_intr = sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
        sc.setJobGroup(f"{GROUP_PREFIX}{sp.id}", name)
        self._stack().append(sp)
        self._charge(t)
        try:
            yield sp
        finally:
            t = time.perf_counter()
            sp.end = t
            self._stack().pop()
            if prev is None:
                sc._jsc.clearJobGroup()
            else:
                sc.setJobGroup(prev, prev_desc or "", prev_intr)
            self._charge(t)

    def _charge(self, t0: float) -> None:
        """Add the bookkeeping time since ``t0`` to the trace overhead."""
        dt = time.perf_counter() - t0
        with self._lock:
            self.overhead_s += dt

    # ------------------------------------------------------------ install
    def install(self) -> None:
        import importlib
        from concurrent.futures import ThreadPoolExecutor

        tracer = self

        def wrap(fn, name, layer):
            def traced(*a, **kw):
                with tracer.span(name, layer) as sp:
                    if name == "LakeTable.commit":
                        tracer._tag_merge_path(sp, a)
                    return fn(*a, **kw)

            traced.__wrapped__ = fn
            return traced

        def count(fn, name):
            def counted(*a, **kw):
                with tracer._lock:
                    tracer.calls[name] = tracer.calls.get(name, 0) + 1
                return fn(*a, **kw)

            counted.__wrapped__ = fn
            return counted

        def patch(owner, attr, new):
            self._undo.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, new)

        for mod_name, cls, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls) if cls else mod
            name = f"{cls}.{attr}" if cls else attr
            new = wrap(owner.__dict__[attr], name, layer)
            patch(owner, attr, new)
            for other in REBIND.get(attr, []):
                patch(importlib.import_module(other), attr, new)
        for mod_name, cls, attr in COUNTED:
            owner = getattr(importlib.import_module(mod_name), cls)
            self._orig[f"{cls}.{attr}"] = owner.__dict__[attr]
            patch(owner, attr, count(owner.__dict__[attr], f"{cls}.{attr}"))

        orig_submit = ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()

            def run_with_parent(*a, **kw):
                tracer._local.inherited = parent
                try:
                    return fn(*a, **kw)
                finally:
                    tracer._local.inherited = None

            return orig_submit(pool, run_with_parent, *args, **kwargs)

        patch(ThreadPoolExecutor, "submit", submit)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    def _tag_merge_path(self, sp: Span, args) -> None:
        """Which merge path produced a commit: snapshot (empty target),
        broadcast-anti (a LeftAnti join in the plan) or fused. Reads the
        manifest through the unwrapped function, so the benchmark's own
        read does not count in ``lake.manifest_reads``."""
        t = time.perf_counter()
        try:
            table, df = args[0], args[1]
            if not self._orig["LakeTable.manifest"](table)["buckets"]:
                sp.tags["merge_path"] = "snapshot"
            else:
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                sp.tags["merge_path"] = "broadcast" if "LeftAnti" in plan else "fused"
        finally:
            self._charge(t)

    # ------------------------------------------------------------ window
    def _jobs_execs_top(self):
        sc = self.run.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(jvm.java.util.ArrayList())
        top_job = max((j.jobId() for j in _scala_iter(jobs)), default=-1)
        sql = self.run.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        top_exec = max((e.executionId() for e in _scala_iter(execs)), default=-1)
        return top_job, top_exec

    def window_start(self) -> None:
        with self._lock:
            self.overhead_s = 0.0
            self.calls.clear()
        self.window = [time.perf_counter(), None, *self._jobs_execs_top(), None, None]

    def window_end(self) -> None:
        self.window[1] = time.perf_counter()
        self.window[4:6] = self._jobs_execs_top()

    def in_window(self, job_id: int) -> bool:
        return self.window[2] < job_id <= self.window[4]

    # ------------------------------------------------------------ readout
    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "name": s.name, "layer": s.layer,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "thread": s.thread, **s.tags}) + "\n")

    def job_metrics(self) -> list[dict]:
        """One dict per job of the window: span id (None if no span
        group) and the summed metrics of the stages it ran."""
        sc = self.run.spark.sparkContext
        jvm, gw = sc._jvm, sc._gateway
        store = sc._jsc.sc().statusStore()
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        by_stage = {}
        for s in _scala_iter(stages):
            key = s.stageId()
            d = by_stage.setdefault(key, dict.fromkeys(STAGE_FIELDS, 0))
            for f in STAGE_FIELDS:
                d[f] += int(getattr(s, f)())
        jobs = store.jobsList(jvm.java.util.ArrayList())
        out, claimed = [], set()
        for j in _scala_iter(jobs):
            if not self.in_window(j.jobId()):
                continue
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            sid = (int(group[len(GROUP_PREFIX):])
                   if group and group.startswith(GROUP_PREFIX) else None)
            rec = {"job": j.jobId(), "span": sid, **dict.fromkeys(STAGE_FIELDS, 0)}
            for st in sorted(int(x) for x in _scala_iter(j.stageIds())):
                if st in claimed or st not in by_stage:
                    continue  # a skipped stage re-listed by a later job
                claimed.add(st)
                for f in STAGE_FIELDS:
                    rec[f] += by_stage[st][f]
            out.append(rec)
        return out

    def operator_metrics(self) -> list[dict]:
        """SQL plan-node metrics of every execution in the window:
        [{'exec', 'jobs', 'node', 'desc', 'metrics': {name: value}}]."""
        sql = self.run.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out = []
        for e in _scala_iter(execs):
            eid = e.executionId()
            if not self.window[3] < eid <= self.window[5]:
                continue
            values = sql.executionMetrics(eid)
            jobs_map = e.jobs()
            job_ids = [int(x) for x in _scala_iter(jobs_map.keys())]
            nodes = sql.planGraph(eid).allNodes()
            for n in _scala_iter(nodes):
                ms = {}
                for m in _scala_iter(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = _parse_metric(v.get())
                out.append({"exec": eid, "jobs": job_ids, "node": n.name(),
                            "desc": n.desc(), "metrics": ms})
        return out


STAGE_FIELDS = ["executorRunTime", "executorCpuTime", "jvmGcTime", "numTasks",
                "inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled"]


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def _parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: plain sums are a number; timing
    and size metrics carry a 'total (min, med, max ...)' header line and
    a unit. Times come back in seconds, sizes in bytes."""
    lines = [ln for ln in str(text).splitlines() if ln.strip()]
    body = lines[-1] if lines else ""
    m = _NUM.match(body)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2) or "", 1.0)


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
