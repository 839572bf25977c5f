"""Shared plumbing for the benchmark workloads: the Spark session, the
per-run work directory, timing statistics, memory and output hashing.

Every file the benchmark writes lives under ``<checkout>/.perfbench_work``
(Spark's local dirs, the JVM temp dir, generated inputs, lake tables),
and the run's own directory is removed when the run ends.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CORES = 4


class Run:
    """State of one benchmark process: work dir, session, operation
    counters and the metrics it reports."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.dir = os.path.join(WORK_ROOT, f"{workload}-s{seed}-p{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.details: dict[str, tuple[float, str]] = {}
        self.notes: dict[str, object] = {}
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def op(self, ok: bool, what: str = "") -> bool:
        """Count one operation; a failed one is remembered by name."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        """An end-to-end metric every workload reports."""
        self.metrics[name] = (float(value), unit)

    def detail(self, name: str, value: float, unit: str) -> None:
        """A workload's own metric, printed on the notes line."""
        self.details[name] = (float(value), unit)

    # ------------------------------------------------------------ session
    def start_session(self):
        """Start Spark at local[4] with every scratch path inside the
        checkout; returns the seconds it took."""
        shutil.rmtree(self.dir, ignore_errors=True)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        t0 = time.perf_counter()
        from debezium_incubator_spark.session import get_spark

        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # below get_spark's 8g default: these sizes peak near 4.5 GB
            # of resident memory in all, on a machine shared with others
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            # keep every job/stage/execution of the run in the status store
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark and its JVM (whose exit ends the Python workers),
        wait for the JVM to exit, and remove the run's directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits at end of its stdin
                gateway.proc.wait(timeout=120)
                SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)


def input_key(seed: int, params: dict) -> str:
    """Directory name of a generated input: the seed and every generator
    parameter, so two seeds or two sizes never share files."""
    return "-".join([f"seed{seed}"] + [f"{k}{v}" for k, v in sorted(params.items())])


# ---------------------------------------------------------------- statistics
def tail_level(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 11:
        return None
    return int(math.floor(100.0 * (n - 10) / n))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile with ten samples beyond it (the
    maximum when there are too few samples for one), and the count."""
    lvl = tail_level(len(values))
    return {
        "n": len(values),
        "median": statistics.median(values),
        "tail_level": "max" if lvl is None else f"p{lvl}",
        "tail": max(values) if lvl is None else percentile(values, lvl),
    }


def wall_to_perf(iso: str) -> float:
    """A Spark progress timestamp (UTC ISO-8601) on the perf_counter
    clock."""
    from datetime import datetime

    wall = datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
    return time.perf_counter() - (time.time() - wall)


# ---------------------------------------------------------------- machine
def cpu_times() -> tuple[int, int]:
    """(all, stolen) CPU jiffies of the machine, from /proc/stat; stolen
    time is what a virtual machine's host gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


# ---------------------------------------------------------------- memory
def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Sum of the resident-set high-water marks of this process and every
    live descendant (the Spark JVM and its Python workers)."""
    seen, stack, total = set(), [os.getpid()], 0
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _vm_hwm_kb(pid)
        stack.extend(_children(pid))
    return total / 1024.0


# ---------------------------------------------------------------- outputs
def _digest_aggs(cols: list[str]):
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    return F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")


def table_digest(df, cols: list[str]) -> tuple[int, int]:
    """(row count, order-independent row hash) of ``df`` over ``cols``."""
    row = df.agg(*_digest_aggs(cols)).first()
    return int(row["n"]), int(row["s"] or 0)


def grouped_digests(df, group_col: str, cols: list[str]) -> dict:
    """``table_digest`` per value of ``group_col``, in one Spark job."""
    return {r[group_col]: (int(r["n"]), int(r["s"] or 0))
            for r in df.groupBy(group_col).agg(*_digest_aggs(cols)).collect()}
