"""One profile record per batch frame, read from the driver alone.

``profile(build)`` runs a zero-argument frame builder and a
full-evaluation consume of its frame under a fresh job group, then reads
back what the run cost: planning-phase ms from the consume's
``QueryExecution`` tracker; jobs, stages and tasks from ``statusTracker``;
input and shuffle bytes from the driver's in-process status store. The
store is populated with ``spark.ui.enabled=false``, so nothing here needs
the Spark UI or its REST API.

The job group opens before ``build()`` runs, so jobs a builder runs
eagerly (checkpoints, collected codebooks, iterative rounds) are counted
with the consume's.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_GROUP_IDS = itertools.count(1)
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _checksum_frame(df: DataFrame) -> DataFrame:
    # Force FULL evaluation: a bare count() lets ColumnPruning delete any
    # computed column nothing downstream references, including whole
    # Window operators, so a pure-projection query would be timed against
    # a gutted plan. xxhash64 over the full row struct makes every output
    # column load-bearing at ~one hash per row, JVM-side.
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("chk"),
    )


def consume(df: DataFrame) -> int:
    """Evaluate every column of every row of ``df``; return the row count."""
    return _checksum_frame(df).collect()[0]["n"]


@dataclass(frozen=True)
class Profile:
    build_ms: float
    exec_ms: float
    rows: int
    phases_ms: dict[str, int]  # the consume's analysis / optimization / planning
    jobs: int
    stages: int  # stages that ran; stages skipped on a reused shuffle are not counted
    tasks: int
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int

    @property
    def wall_s(self) -> float:
        return (self.build_ms + self.exec_ms) / 1000


def profile(build: Callable[[], DataFrame]) -> Profile:
    """Build a frame, consume it fully, and return what both cost."""
    sc = SparkSession.active().sparkContext
    gid = f"profile-{next(_GROUP_IDS)}"
    saved = [sc.getLocalProperty(key) for key in _GROUP_PROPS]
    sc.setJobGroup(gid, gid)
    try:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        checked = _checksum_frame(df)
        rows = checked.collect()[0]["n"]
        t2 = time.perf_counter()
    finally:
        for key, value in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(key, value)

    phases = {}
    it = checked._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = kv._2().durationMs()

    # The status store is filled by a listener on the event bus: drain it
    # so the last job's stages and tasks are counted.
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    job_ids = tracker.getJobIdsForGroup(gid)
    stage_ids = {sid for jid in job_ids for sid in tracker.getJobInfo(jid).stageIds}
    stages = tasks = inp = sread = swrite = 0
    for sid in stage_ids:
        # Past spark.ui.retainedStages the store evicts skipped stages
        # first (they have no completion time): a stage it no longer
        # holds ran no tasks in this group.
        if tracker.getStageInfo(sid) is None:
            continue
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        stages += 1
        tasks += st.numCompleteTasks()
        inp += st.inputBytes()
        sread += st.shuffleReadBytes()
        swrite += st.shuffleWriteBytes()
    return Profile(
        build_ms=round((t1 - t0) * 1000, 1),
        exec_ms=round((t2 - t1) * 1000, 1),
        rows=rows,
        phases_ms=phases,
        jobs=len(job_ids),
        stages=stages,
        tasks=tasks,
        input_bytes=inp,
        shuffle_read_bytes=sread,
        shuffle_write_bytes=swrite,
    )
