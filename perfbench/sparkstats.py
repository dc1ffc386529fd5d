"""Spark session lifecycle and the layer counters read from outside the
engine: scheduler, exchange and executor figures from the JVM status
store, resident storage from the block manager.

Jobs are attributed to an op by job-ID interval, not by job group: ops
run one at a time, so every job submitted between an op's start and end
belongs to it, including jobs launched from helper threads that do not
inherit the caller's job group.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import SparkSession

MB = 1024 * 1024


def start_session(cpus: int, local_dir: str) -> SparkSession:
    """The engine's recommended session on ``local[cpus]``, the posture
    ``bench.py`` uses, with every scratch directory under ``local_dir``."""
    from wasaffi_spark.conf import recommended_builder

    spark = (
        recommended_builder(master=f"local[{cpus}]", cpus=cpus, app_name="perfbench")
        # the inputs are small; bench.py's 16g would only crowd a shared host
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(spark: SparkSession | None) -> None:
    """Stop the session and the JVM pyspark launched, and wait for it."""
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


@dataclass
class OpLayers:
    """Layer counters of one op."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    idle_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    resident_rdds: int = 0
    resident_mb: float = 0.0
    job_ids: list[int] = field(default_factory=list)


class JobLedger:
    """Reads the status store at op boundaries."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self._first_job = 0

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def begin(self) -> None:
        self._first_job = self.next_job_id()

    def end(self, t0: float, t1: float) -> OpLayers:
        """Counters for the jobs submitted since :meth:`begin`; ``t0`` and
        ``t1`` are the op's start and end on the ``time.time()`` clock."""
        last_job = self.next_job_id()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = OpLayers(job_ids=list(range(self._first_job, last_job)))
        intervals = []
        seen_stages: set[int] = set()
        for jid in out.job_ids:
            job = store.job(jid)
            out.jobs += 1
            sub = job.submissionTime()
            done = job.completionTime()
            start = sub.get().getTime() / 1000.0 if sub.isDefined() else t0
            stop = done.get().getTime() / 1000.0 if done.isDefined() else t1
            intervals.append((max(start, t0), min(stop, t1)))
            for sid in str(job.stageIds().mkString(",")).split(","):
                if sid and int(sid) not in seen_stages:
                    seen_stages.add(int(sid))
                    self._add_stage(store, int(sid), t0, out)
        out.idle_s = (t1 - t0) - _union_length(intervals)
        out.resident_rdds, out.resident_mb = self.resident()
        return out

    @staticmethod
    def _add_stage(store, sid: int, t0: float, out: OpLayers) -> None:
        stage = store.lastStageAttempt(sid)
        # a stage reused from an earlier op shows up as skipped here; it
        # ran before this op started and is not this op's work
        if stage.status().toString() not in ("COMPLETE", "FAILED"):
            return
        sub = stage.submissionTime()
        if sub.isDefined() and sub.get().getTime() / 1000.0 < t0 - 0.001:
            return
        out.stages += 1
        out.tasks += stage.numTasks()
        out.executor_run_s += stage.executorRunTime() / 1000.0
        out.executor_cpu_s += stage.executorCpuTime() / 1e9
        out.shuffle_read_mb += stage.shuffleReadBytes() / MB
        out.shuffle_write_mb += stage.shuffleWriteBytes() / MB

    def resident(self) -> tuple[int, float]:
        """Persistent RDD count and their resident megabytes."""
        n = self._sc._jsc.getPersistentRDDs().size()
        size = sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())
        return int(n), size / MB


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
