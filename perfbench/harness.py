"""Session pinning, sampling, statistics and tracing for the benchmark.

Nothing here touches engine internals: spans wrap calls into the engine's
public functions, and per-layer counts come from Spark's own status REST API
(UI on only in traced runs), summed over the jobs each span tagged with its
job group.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

import pandas as pd

CORES = 4
# Driver heap, pre-touched at JVM start (-Xms = -Xmx, AlwaysPreTouch): page
# faults land in setup, not in timed operations. The JVM's resident memory is
# therefore the pinned heap, not what the engine uses, and is not reported.
# 3 GiB holds the largest working set (a 48 MB epoch in 24 MB Arrow batches)
# with room to spare and leaves most of a 15 GiB host to the Python workers
# and the page cache; the engine's 48g/16g defaults cannot start a JVM there.
HEAP = "3g"
SHUFFLE_PARTITIONS = 8


def pin_environment(root: str, work: str) -> None:
    """Env the engine, the JVM it launches and the Python workers read; must
    run before the session starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_GRAFT_DRIVER_XMS": HEAP,
            "SPARK_GRAFT_JAVA_OPTS": f"-XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            # Python workers import the engine (extract UDF) from the checkout
            "PYTHONPATH": root + (os.pathsep + pp if pp else ""),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # collected timestamps convert through the driver's local zone
            "TZ": "UTC",
        }
    )
    time.tzset()
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, ui: bool, java_opts: str = ""):
    from data_exchange_routing_spark.session import get_spark

    if java_opts:
        os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"{java_opts} {os.environ['SPARK_GRAFT_JAVA_OPTS']}"
    extra = {
        "spark.ui.enabled": "true" if ui else "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        extra.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return get_spark("perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=extra)


def effective_conf(spark) -> dict:
    keep = ("spark.master", "spark.driver.memory", "spark.driver.defaultJavaOptions",
            "spark.sql.shuffle.partitions", "spark.default.parallelism",
            "spark.sql.adaptive.enabled", "spark.ui.enabled", "spark.local.dir",
            "spark.sql.files.maxPartitionBytes", "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.parquet.compression.codec", "spark.io.compression.codec")
    conf = dict(spark.sparkContext.getConf().getAll())
    out = {k: conf.get(k) for k in keep if k in conf}
    out.update({k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "PYTHONPATH")})
    return out


# ---------------------------------------------------------------------------
# processes and resident memory
# ---------------------------------------------------------------------------


def children() -> dict[int, list[int]]:
    """{parent pid: [child pids]} of every process visible in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def jvm_pid() -> int:
    """Pid of the driver JVM the session launched."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mb(root: int) -> float:
    """Resident set of every descendant of ``root``, ``root`` excluded."""
    kids = children()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        p = todo.pop()
        total += _rss_kb(p)
        todo.extend(kids.get(p, []))
    return total / 1024.0


class RssSampler:
    """Peak resident set of the descendants of ``root`` (for the driver JVM:
    the Python daemon and its workers), sampled on a thread."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def summary(xs: list[float]) -> dict:
    """Median, quartiles and the sample count of one timing series."""
    xs = list(xs)
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "p25": q[0], "p50": median(xs), "p75": q[2]}


# End-to-end timings are reported at a reference host speed. The 4-vCPU VM
# the bounds were set on loses its vCPUs to other tenants (/proc/stat steal
# up to 28% of CPU time), and an epoch then took up to 3.4x as long. The
# slowdown is amplified by how many threads an operation hands work between
# (driver, executors, Python workers), so single-threaded probes (pure
# Python, a JVM sort, page touching) moved only 1.3-2x. What moved with the
# workloads is a small plain-Spark job: ``reference_job``, run between
# timed operations, never inside one. Each operation is reported as
# latency x (REFERENCE_JOB_S / mean of the reference times just before and
# after it, or its round of queries) ** the workload's REFERENCE_EXPONENT;
# REFERENCE_JOB_S is about the reference job's time on the fast VM.
REFERENCE_JOB_S = 0.4

# The reference job runs in its own SQL session with these settings fixed,
# so a change to the engine's SQL configuration cannot move it.
REFERENCE_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.compression.codec": "snappy",
}
REFERENCE_ROWS = 50_000
_reference_sessions: dict = {}


def _mix(ids: pd.Series) -> pd.Series:
    return (ids * 2654435761 % 1_000_003).astype(str)


def reference_job(spark) -> float:
    """Seconds a fixed plain-Spark job takes right now: generated rows
    through an Arrow pandas UDF, a shuffle and a parquet write into the
    scratch directory, i.e. one small ingest-shaped job without the engine."""
    from pyspark.sql import functions as F

    key = id(spark)
    if key not in _reference_sessions:
        session = spark.newSession()
        for k, v in REFERENCE_CONF.items():
            session.conf.set(k, v)
        _reference_sessions[key] = (session, F.pandas_udf(_mix, "string"))
    session, mix = _reference_sessions[key]
    out = os.path.join(os.environ.get("TMPDIR", "."), "reference-job")
    t0 = time.perf_counter()
    df = session.range(0, REFERENCE_ROWS, numPartitions=CORES)
    df = df.select("id", (F.col("id") % 64).alias("k"), mix("id").alias("v"))
    df.repartition(2 * CORES, "k").write.mode("overwrite").parquet(out)
    return time.perf_counter() - t0


def at_reference_speed(seconds: float, reference_s: float, exponent: float) -> float:
    return seconds * (REFERENCE_JOB_S / reference_s) ** exponent


def host_noise_probe() -> dict:
    """Host-noise disclosure (metadata, never a gate): fresh-page touch rate
    and /proc/stat busy/steal fractions, computed as bench.py does."""
    import bench

    first, sustained = bench._probe_burst()
    return {"page_touch_gbps_first": first, "page_touch_gbps": sustained, "cpu": bench._cpu_sample()}


def host_noise(before: dict, after: dict) -> dict:
    import bench

    out = {"page_touch_gbps_start": before["page_touch_gbps"], "page_touch_gbps_end": after["page_touch_gbps"]}
    out.update(bench._host_noise(before["cpu"], after["cpu"]))
    return out


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


def _epoch_s(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


class Tracer:
    """Spans kept in memory; with ``enabled`` each span also tags the Spark
    jobs it launches (job group = span id) so their stage metrics can be
    summed per span after the run."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._jobs: dict[str, list[dict]] | None = None
        self._stages: dict[int, dict] | None = None
        self._sql: list[dict] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op_id,
               "parent": self._stack[-1] if self._stack else None, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    # -- Spark status REST API -------------------------------------------

    def _get(self, path: str):
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def _load(self) -> None:
        if self._jobs is not None:
            return
        self._jobs = {}
        for j in self._get("jobs"):
            self._jobs.setdefault(j.get("jobGroup") or "", []).append(j)
        self._stages = {}
        for s in self._get("stages"):
            if s.get("status") == "COMPLETE":
                self._stages.setdefault(s["stageId"], s)
        self._sql = self._get("sql?details=true&planDescription=false&length=1000000")

    def jobs(self, span: dict) -> list[dict]:
        """Jobs tagged by ``span`` or by its descendants."""
        self._load()
        ids = {span["id"]}
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
        return [j for i in ids for j in self._jobs.get(f"span-{i}", [])]

    def stage_sum(self, jobs: list[dict]) -> dict:
        """Stage metrics summed over every completed stage of ``jobs``."""
        self._load()
        keys = ("executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
                "outputBytes", "outputRecords", "shuffleReadBytes", "shuffleReadRecords",
                "shuffleWriteBytes", "shuffleWriteRecords", "memoryBytesSpilled", "diskBytesSpilled")
        tot = dict.fromkeys(keys, 0)
        tot["write_stages"] = 0
        tot["write_stage_shuffle_read_records"] = 0
        seen = set()
        for j in jobs:
            for sid in j.get("stageIds", []):
                st = self._stages.get(sid)
                if st is None or sid in seen:
                    continue
                seen.add(sid)
                for k in keys:
                    tot[k] += st.get(k) or 0
                if (st.get("outputRecords") or 0) > 0:
                    tot["write_stages"] += 1
                    tot["write_stage_shuffle_read_records"] += st.get("shuffleReadRecords") or 0
        return tot

    def sql_metric(self, jobs: list[dict], metric: str) -> float:
        """Sum of one SQL plan-node metric over the executions that ran ``jobs``."""
        self._load()
        ids = {j["jobId"] for j in jobs}
        total = 0.0
        for ex in self._sql:
            if ids.isdisjoint(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                for mt in node.get("metrics", []):
                    if mt.get("name") == metric:
                        total += float(str(mt.get("value", "0")).replace(",", "").split()[0])
        return total

    @staticmethod
    def job_busy_s(jobs: list[dict]) -> float:
        """Wall time covered by the union of the jobs' run intervals."""
        iv = [(_epoch_s(j.get("submissionTime")), _epoch_s(j.get("completionTime"))) for j in jobs]
        busy, end = 0.0, None
        for a, b in sorted(x for x in iv if None not in x):
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        return busy

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)
