"""Engine lifecycle and host readings for the benchmark.

Starts and stops the engine's SparkSession through
``beam_scala_examples_spark.session.get_spark``, owns the JVM the first
start launches (stopped and waited for at the end), and reads what the
host and Spark's public status surfaces say: peak RSS from ``/proc``,
the JVM's memory in use from its ``MemoryMXBean``,
the JVM census (``bench.foreign_jvms``), job counts from the status
tracker and stage totals from the UI's REST API.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import time
import urllib.request

from pyspark import SparkContext

from beam_scala_examples_spark.session import get_spark
from bench import foreign_jvms

# setup_s counts the median of this many session starts.
SESSION_STARTS = 3
# Most full collections held_mb makes while the heap keeps shrinking.
HELD_GC_ROUNDS = 8
# Maximum driver heap.  The heap starts small and grows with what the
# run keeps live, so the JVM's resident size follows the program's use.
DRIVER_HEAP = "2g"


def _extra_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        # Keep every file the JVM writes inside the run directory.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        # One progress entry per micro-batch for the whole run.
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000",
            "spark.ui.showConsoleProgress": "false",
        })
    else:
        conf["spark.ui.showConsoleProgress"] = "false"
    return conf


class Engine:
    """One benchmark run's view of the engine: (re)starts sessions and
    shuts the JVM down on ``close``."""

    def __init__(self, run_dir: str, trace: bool):
        self.run_dir = run_dir
        self.trace = trace
        self.spark = None
        self._proc = None

    def start(self, cpus: int | None = None, ui: bool | None = None):
        """Stop the live session, if any, and start a fresh one; with
        ``cpus`` the session runs at ``local[cpus]``, with ``ui`` the UI
        and its REST API are turned on or off from then on."""
        self.stop()
        if cpus is not None:
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        if ui is not None:
            self.trace = ui
            os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        self.spark = get_spark(
            app_name="perfbench", extra_conf=_extra_conf(self.run_dir, self.trace)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._proc is None:
            self._proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def start_repeatedly(self, times: int = SESSION_STARTS) -> list[tuple[float, float]]:
        """Start the session ``times`` times (each start stops the last);
        returns each start's (begin, end) wall-clock interval."""
        out = []
        for _ in range(times):
            t0 = time.time()
            self.start()
            out.append((t0, time.time()))
        return out

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — best effort; the kill below is the guarantee
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            try:
                if self._proc.stdin is not None:
                    self._proc.stdin.close()
                self._proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                self._proc.kill()
                self._proc.wait(timeout=30)

    # --- readings -------------------------------------------------------

    def peak_rss_mb(self) -> float:
        """VmHWM of this Python process plus the JVM, in MiB."""
        kb = _vm_hwm_kb(os.getpid())
        if self._proc is not None:
            kb += _vm_hwm_kb(self._proc.pid)
        return kb / 1024.0

    def held_mb(self) -> dict[str, float]:
        """Memory the run holds, in MiB: this Python process's peak RSS
        plus what the JVM still uses after a full collection, heap
        (cached relations, broadcasts, state) and non-heap (metaspace,
        code cache).  The JVM's own peak RSS is not used: it is set by
        how far the collector happened to grow the heap.

        Python garbage is collected first, so that its proxies release
        the JVM objects they pin.  Collections repeat, with pauses that let
        Spark's ContextCleaner and finishing result-serving threads let go
        of what they hold, until two in a row no longer shrink the heap."""
        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap, flat = float("inf"), 0
        for _ in range(HELD_GC_ROUNDS):
            gc.collect()
            jvm.java.lang.System.gc()
            now = mx.getHeapMemoryUsage().getUsed()
            flat = flat + 1 if now > 0.99 * heap else 0
            heap = min(heap, now)
            if flat == 2:
                break
            time.sleep(0.5)
        out = {
            "python_peak_rss": _vm_hwm_kb(os.getpid()) / 1024.0,
            "jvm_heap": heap / 2**20,
            "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        }
        out["total"] = sum(out.values())
        return out

    def jobs_in_group(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def rest(self, path: str):
        base = self.spark.sparkContext.uiWebUrl
        app = self.spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.loads(resp.read())


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# --- stage totals from the REST API -----------------------------------

STAGE_FIELDS = {
    # metric: (REST field, scale to the metric's unit)
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "gc_s": ("jvmGcTime", 1e-3),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
}


def stage_totals_by_group(engine: Engine) -> dict[str, dict[str, float]]:
    """Sum stage metrics per job group.  A stage shared by several jobs
    counts once, for the first job that lists it; skipped stages carry
    no tasks and add nothing."""
    jobs = sorted(engine.rest("jobs"), key=lambda j: j["jobId"])
    stages: dict[int, dict[str, float]] = {}
    for s in engine.rest("stages"):
        acc = stages.setdefault(s["stageId"], dict.fromkeys(STAGE_FIELDS, 0.0))
        for metric, (field, scale) in STAGE_FIELDS.items():
            acc[metric] += (s.get(field) or 0) * scale
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    for j in jobs:
        group = j.get("jobGroup") or ""
        acc = out.setdefault(group, dict.fromkeys(STAGE_FIELDS, 0.0))
        for sid in j.get("stageIds", []):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for k, v in stages[sid].items():
                acc[k] += v
    return out


# --- host evidence -----------------------------------------------------

def host_evidence() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg1": os.getloadavg()[0],
        "foreign_jvms": foreign_jvms(),
        "time": time.time(),
    }


# --- small statistics --------------------------------------------------

def tail(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest whole percentile that leaves at
    least ten samples above it, linearly interpolated between order
    statistics; the median when fewer than 20 samples allow no more."""
    xs = sorted(values)
    n = len(xs)
    p = max(50, (100 * (n - 10)) // n) if n >= 20 else 50
    h = (n - 1) * p / 100.0
    lo = int(h)
    hi = min(lo + 1, n - 1)
    return float(p), xs[lo] + (xs[hi] - xs[lo]) * (h - lo), n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
