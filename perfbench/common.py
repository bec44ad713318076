"""Pieces the workloads share: the per-pass record and the timed query
call."""

from __future__ import annotations

import statistics
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.catalog import QUERY_FIELDS
from perfbench.trace import JobGroup, Tracer


@dataclass
class Pass:
    """One unit of a workload's work, timed with tracing off or on."""

    wall_s: float
    throughput: float  # work items per second, as the workload defines them
    op_ms: list[float]  # latency of each operation in the pass
    ops: int  # operations attempted
    failed: int = 0  # operations that raised
    cpu_s: float = 0.0  # CPU time of the driver, its JVM and workers during the pass
    counters: dict[str, float] = field(default_factory=dict)  # tracer counters (traced passes)
    detail: dict = field(default_factory=dict)  # workload-specific layer data


def consume(df: DataFrame) -> int:
    """Run the whole plan: a bare count() lets column pruning drop
    computed columns, so hash every output column (as bench.py does)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("chk"),
    ).collect()[0]
    return row["n"]


class QueryTimer:
    """Times build (calling the query function until a DataFrame returns,
    eager actions inside it included) and execution of named queries.
    With tracing on, each call runs under its own job group and its
    build/exec times, job and task counts are kept per query name."""

    def __init__(self, spark, tracer: Tracer | None) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.per_query: dict[str, dict[str, list[float]]] = {}

    def run(self, name: str, build) -> float | None:
        """Latency in ms, or None when the query raised."""
        tr = self.tracer
        try:
            if tr is None or not tr.enabled:
                t0 = time.perf_counter()
                consume(build())
                return (time.perf_counter() - t0) * 1000
            with tr.span(f"query.{name}"), JobGroup(self.sc, name) as group:
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = build()
                t1 = time.perf_counter()
                with tr.span("exec"):
                    consume(df)
                t2 = time.perf_counter()
            jobs, tasks = group.counts()
            rec = self.per_query.setdefault(name, {"build_ms": [], "exec_ms": [], "jobs": [], "tasks": []})
            rec["build_ms"].append((t1 - t0) * 1000)
            rec["exec_ms"].append((t2 - t1) * 1000)
            rec["jobs"].append(jobs)
            rec["tasks"].append(tasks)
            return (t2 - t0) * 1000
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, the run goes on
            print(f"# {name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            return None

    def layers(self, names) -> dict[str, tuple[float, str]]:
        """Per-query medians over the traced executions."""
        out = {}
        for name in names:
            rec = self.per_query.get(name, {})
            for key, unit in QUERY_FIELDS:
                vals = rec.get(key)
                out[f"query.{name}.{key}"] = (statistics.median(vals) if vals else 0.0, unit)
        return out
