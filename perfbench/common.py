"""Shared pieces of the benchmark: Spark session lifecycle, statistics,
memory and host probes, and Spark job accounting for traced runs."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import tempfile
import time
import urllib.request

# Maximum driver heap for every Spark process the benchmark starts: leaves
# most of a 15 GB host to the Python workers, the page cache and other
# tenants.
DRIVER_MEM = "3g"
# Initial driver heap, committed lazily (no pre-touch). Left to G1's own
# growth, the heap of identical rag_serve runs on a 4-core, 15 GB VM
# settled at 0.67 or 0.96 GB by GC timing alone, which made peak RSS
# bimodal (1.3 vs 1.65 GB). With this floor rag_serve's heap stays at
# 1 GB and its peak RSS moves with non-heap and Python memory and with
# heap needs above 1 GB; the cold build grows the heap past it, so heap
# growth shows on analytics_batch. Heap use below the floor shows in the
# traced spark.old_gen_peak_mb.
HEAP_FLOOR = "1g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(app_name: str, run_dir: str, trace: bool):
    """The engine's own session factory (``session.get_spark``) with every
    scratch path pointed inside ``run_dir``. Environment knobs the session
    reads (cores, heap, UI) are set by ``run.configure_env`` beforehand."""
    from cs_5542_lab_6_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            f"-Xms{HEAP_FLOOR}"
        ),
    }
    if trace:
        # keep every job of the run in the status store so per-operation
        # counts and the REST byte totals cover the whole timed loop
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.port": "0",
            }
        )
    return get_spark(app_name=app_name, master=f"local[{cpus()}]", extra_conf=conf)


def stop_spark(spark) -> dict[str, float]:
    """Stop the session and its JVM, wait for the JVM to exit, and return
    its memory figures in MB, read just before the JVM stops (so before
    any output check runs): ``peak_rss_mb``, the peak resident set of this
    process plus the JVM; ``spark.jvm_peak_rss_mb``, the JVM's alone; and
    ``spark.old_gen_peak_mb``, the old generation's peak use."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_rss = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    old_gen = sum(p.getPeakUsage().getUsed() for p in pools if "Old Gen" in p.getName())
    memory = {
        "peak_rss_mb": _vm_hwm_mb(os.getpid()) + jvm_rss,
        "spark.jvm_peak_rss_mb": jvm_rss,
        "spark.old_gen_peak_mb": old_gen / 2**20,
    }
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return memory


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# Host context probes (ported from the repository's bench.py)
# ---------------------------------------------------------------------------


def calibration_s(spark) -> float:
    """Fixed-work CPU probe: min-of-3 wall time of one hash-sum job over a
    range sized to the core count. Rises under hypervisor steal while the
    code is unchanged, so a noisy window shows in the artifact."""
    from pyspark.sql import functions as F

    n = cpus()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 64_000_000 * n, 1, 4 * n).select(
            F.sum(F.xxhash64("id") % 1_000_003)
        ).collect()
        runs.append(time.perf_counter() - t0)
    return min(runs)


def fsync_ms(base_dir: str, n: int = 100) -> float:
    """Mean milliseconds per 1 KB write+fsync on the device the run writes
    to — the storage-side twin of the CPU probe."""
    with tempfile.TemporaryDirectory(prefix="fsync_", dir=base_dir) as d:
        t0 = time.perf_counter()
        for i in range(n):
            with open(os.path.join(d, f"f{i}"), "w") as f:
                f.write("x" * 1024)
                f.flush()
                os.fsync(f.fileno())
        return (time.perf_counter() - t0) * 1000.0 / n


def host_metrics(spark, base_dir: str) -> dict[str, float]:
    return {
        "host.calibration_s": calibration_s(spark),
        "host.fsync_ms": fsync_ms(base_dir),
        "host.loadavg": os.getloadavg()[0],
    }


# ---------------------------------------------------------------------------
# Spark job accounting (traced runs)
# ---------------------------------------------------------------------------


class JobLedger:
    """Maps each timed operation to the Spark jobs it ran.

    Counts come from ``statusTracker()``; byte and executor-time totals
    from the driver's REST API, which needs the UI (on in traced runs)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.ops: dict[str, list[set[int]]] = {}

    def group_jobs(self, group: str | None) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def add(self, kind: str, job_ids: set[int]) -> None:
        self.ops.setdefault(kind, []).append(job_ids)

    def _tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                n += st.numCompletedTasks if st else 0
        return n

    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        app = self.sc.applicationId
        url = f"http://127.0.0.1:{port}/api/v1/applications/{app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def metrics(self, units: int) -> dict[str, float]:
        """Jobs and tasks per operation of each kind, plus input, shuffle
        write, spill and executor-time totals over all recorded jobs
        divided by ``units``."""
        out = {}
        for kind, ops in self.ops.items():
            out[f"spark.jobs_per_{kind}"] = sum(map(len, ops)) / len(ops)
            out[f"spark.tasks_per_{kind}"] = sum(map(self._tasks, ops)) / len(ops)
        all_jobs = set().union(*(op for ops in self.ops.values() for op in ops))
        # the listener bus updates the REST store asynchronously
        deadline = time.monotonic() + 10
        while True:
            jobs = {j["jobId"]: j for j in self._rest("jobs")}
            if all_jobs <= set(jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stage_ids = {s for j in all_jobs if j in jobs for s in jobs[j]["stageIds"]}
        tot = {"input": 0, "shuffle": 0, "spill": 0, "run_ms": 0}
        for st in self._rest("stages"):
            if st["stageId"] in stage_ids:
                tot["input"] += st.get("inputBytes", 0)
                tot["shuffle"] += st.get("shuffleWriteBytes", 0)
                tot["spill"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                tot["run_ms"] += st.get("executorRunTime", 0)
        units = max(1, units)
        out.update(
            {
                "spark.input_bytes": tot["input"] / units,
                "spark.shuffle_bytes": tot["shuffle"] / units,
                "spark.spill_bytes": tot["spill"] / units,
                "spark.executor_run_s": tot["run_ms"] / 1000.0 / units,
            }
        )
        return out
