"""Run scaffolding shared by the workloads: the per-run directory, the
Spark session lifecycle, Spark job/task counts and peak memory.

Every file a run writes (inputs, warehouse, Spark local dirs, stream
checkpoints, sinks, JVM temp files) lives under one per-run directory
inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import time

import numpy as np

#: A run measures in segments (a copy pass, an outage cycle). A segment
#: is contended when the hypervisor stole more than STEAL_MAX of the
#: VM's CPU time while it ran: a neighbour on the shared host then slows
#: every figure 15-40% for 20 s to several minutes. Past ``--seconds`` a
#: run keeps measuring until MIN_CLEAN segments ran uncontended, but no
#: longer than MAX_STRETCH x ``--seconds``. The metrics are medians over
#: the uncontended segments, or over all of them when fewer than
#: MIN_USED ran uncontended.
STEAL_MAX = 0.03
MIN_CLEAN = 6
MAX_STRETCH = 1.5
MIN_USED = 3


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Linearly interpolated percentile (q in [0, 1]) of a non-empty
    sample."""
    return float(np.percentile(list(values), q * 100.0))


def host_steal() -> tuple[int, int]:
    """Cumulative (stolen, total) CPU ticks of the whole VM."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Segment:
    """CPU and host steal over one segment of measured work."""

    def __init__(self, run: "Run"):
        self.run = run
        self.cpu0 = run.cpu_seconds()
        self.steal0 = host_steal()

    def close(self, points: int, busy_s: float, ops_ms: list[float]) -> dict:
        """``busy_s``: the segment's timed wall time; ``ops_ms``: the
        latencies of its operations."""
        stolen, total = (b - a for a, b in zip(self.steal0, host_steal()))
        steal = stolen / total if total else 0.0
        return {
            "points": points,
            "seconds": busy_s,
            "cpu_s": self.run.cpu_seconds() - self.cpu0,
            "steal": steal,
            "contended": steal > STEAL_MAX,
            "ops_ms": ops_ms,
        }


class StopRule:
    """When a measure loop, started with this rule, may stop, given the
    segments it ran: after ``seconds``; with ``stretch``, as the header
    says."""

    def __init__(self, seconds: float, stretch: bool):
        self.seconds = seconds
        self.stretch = stretch
        self.t0 = time.monotonic()

    def __call__(self, segments: list[dict]) -> bool:
        elapsed = time.monotonic() - self.t0
        if not segments or elapsed < self.seconds:
            return False
        clean = sum(not s["contended"] for s in segments)
        return (not self.stretch or clean >= MIN_CLEAN
                or elapsed >= MAX_STRETCH * self.seconds)


def summarize(segments: list[dict]) -> dict:
    """The gated figures, as medians over the uncontended segments."""
    used = [s for s in segments if not s["contended"]]
    if len(used) < MIN_USED:
        used = segments
    return {
        "points_per_s": pct((s["points"] / s["seconds"] for s in used), 0.5),
        "op_p50_ms": pct((ms for s in used for ms in s["ops_ms"]), 0.5),
        "cpu_ms_per_kpoint": pct((s["cpu_s"] * 1e6 / s["points"] for s in used), 0.5),
        "segments_used": len(used),
        "steal_p50": pct((s["steal"] for s in segments), 0.5),
    }


class Run:
    """One benchmark invocation: its directory, Spark session and JVM."""

    def __init__(self, root: str, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.dir = os.path.join(root, ".sfbench", f"run-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.dir, sub))
        self.spark = None
        self._jvm_proc = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def isolate_env(self) -> None:
        """Pin what the engine and the JVM read from the environment
        before pyspark is imported."""
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("spark-local"),
            "spark.driver.memory": "1g",
            # steady runs on a shared machine. C1 only: every stream
            # trigger and copy job plans and generates fresh code, which
            # kept C2 compiling through the whole run (~60% of the CPU,
            # +-25% run-to-run); C1 gives the same or better latency at
            # 40% of the CPU. A fixed heap, so peak RSS does not track
            # heap-growth decisions; a serial collector, so no GC threads
            # run concurrently.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1 -Xms1g -XX:+UseSerialGC"
            ),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.driver.host": "127.0.0.1",
        }

    def start_spark(self):
        """``session.get_spark`` on ``local[nproc]`` (looked up on the
        module so the traced run can wrap it)."""
        from syncflux_spark import session

        self.spark = session.get_spark(
            f"sfbench-{self.workload}", master=f"local[{cpus()}]", conf=self.conf()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._jvm_proc is None:
            from pyspark import SparkContext

            self._jvm_proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- counts -------------------------------------------------------------
    def last_job_id(self) -> int:
        jobs = self._jobs()
        return max((j.jobId() for j in jobs), default=-1)

    def jobs_since(self, after_job_id: int) -> tuple[int, int]:
        """(jobs, tasks run) with a job id above ``after_job_id``, from
        the application status store (works with the UI disabled)."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        n_jobs = n_tasks = 0
        for j in self._jobs():
            if j.jobId() > after_job_id:
                n_jobs += 1
                n_tasks += j.numCompletedTasks() + j.numFailedTasks()
        return n_jobs, n_tasks

    def _jobs(self):
        sc = self.spark.sparkContext
        seq = sc._jsc.sc().statusStore().jobsList(None)
        return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    # -- cpu and memory -----------------------------------------------------
    def cpu_seconds(self) -> float:
        """User + system CPU of this process and of the driver JVM. Time
        the hypervisor steals from the VM is in neither."""
        t = os.times()
        cpu = t.user + t.system
        if self._jvm_proc is not None:
            with open(f"/proc/{self._jvm_proc.pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            cpu += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        return cpu

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus the peak RSS of this process."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        if self._jvm_proc is not None:
            with open(f"/proc/{self._jvm_proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    # -- teardown -----------------------------------------------------------
    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the run dir."""
        try:
            self.stop_spark()
        finally:
            proc, self._jvm_proc = self._jvm_proc, None
            if proc is not None:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                # the JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            shutil.rmtree(self.dir, ignore_errors=True)
            parent = os.path.dirname(self.dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
