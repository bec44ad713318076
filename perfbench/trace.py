"""Tracing for the per-layer run, measured from outside the package.

Spans are held in memory and written once, at the end of the run. The
layer counters come from three places: timing wrappers around the
package's public session/table helpers, Spark job groups read back
through `statusTracker`, and a `StreamingQueryListener` that keeps every
micro-batch's progress. Nothing here is installed in an untraced run.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False  # the wrappers pass straight through until a traced pass
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def take(self) -> dict[str, float]:
        """Counters since the last take (one pass's worth)."""
        out, self.counters = self.counters, {}
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def install_wrappers(tracer: Tracer) -> None:
    """Time `session.spread`, `session.checkpoint_frame` and
    `tables.load_table`. Must run before `registry.all_specs()` imports
    the operator modules, which bind these names at import time."""
    from nt_etl_order_book_spark import registry, session, tables

    if "nt_etl_order_book_spark.operators.windows" in sys.modules:
        raise RuntimeError("operator modules already imported: wrappers would be bypassed")

    spread, checkpoint_frame, load_table = session.spread, session.checkpoint_frame, tables.load_table

    def traced_spread(df, *cols):
        if not tracer.enabled:
            return spread(df, *cols)
        t0 = time.perf_counter()
        with tracer.span("session.spread"):
            out = spread(df, *cols)
        tracer.add("session.spread.ms", (time.perf_counter() - t0) * 1000)
        tracer.add("session.spread.calls", 1)
        tracer.add("session.spread.repartitioned", out is not df)
        return out

    def traced_checkpoint_frame(df, *, eager=True):
        if not tracer.enabled:
            return checkpoint_frame(df, eager=eager)
        t0 = time.perf_counter()
        with tracer.span("session.checkpoint_frame"):
            out = checkpoint_frame(df, eager=eager)
        tracer.add("session.checkpoint_frame.ms", (time.perf_counter() - t0) * 1000)
        tracer.add("session.checkpoint_frame.calls", 1)
        return out

    def traced_load_table(spark, sf_dir, name):
        if not tracer.enabled:
            return load_table(spark, sf_dir, name)
        t0 = time.perf_counter()
        with tracer.span("tables.load_table"):
            out = load_table(spark, sf_dir, name)
        tracer.add("tables.load_table_ms", (time.perf_counter() - t0) * 1000)
        return out

    session.spread = traced_spread
    session.checkpoint_frame = traced_checkpoint_frame
    tables.load_table = traced_load_table
    registry.all_specs()  # import the operator modules now, against the wrappers


class JobGroup:
    """Jobs and completed tasks of everything run under one job group."""

    _seq = 0

    def __init__(self, sc, name: str) -> None:
        JobGroup._seq += 1
        self.sc, self.gid = sc, f"perfbench-{JobGroup._seq}-{name}"

    def __enter__(self):
        self.sc.setJobGroup(self.gid, self.gid)
        return self

    def __exit__(self, *exc) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.gid)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks


class ProgressListener(StreamingQueryListener):
    """Every micro-batch's progress, keyed by query id."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query, timeout_s: float = 20.0) -> list[dict]:
        """The query's progress events, once the async listener bus has
        delivered as many as the query itself recorded."""
        want = len(query.recentProgress)
        deadline = time.time() + timeout_s
        while True:
            with self._lock:
                got = list(self.progress.get(str(query.id), ()))
            if len(got) >= want or time.time() > deadline:
                return got
            time.sleep(0.05)
