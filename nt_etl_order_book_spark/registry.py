"""Query registry: the SURVEY.md §2 operator inventory as named queries.

Each operator lands here as a :class:`QuerySpec`:

- ``name``   — the stable query id from SURVEY §2 (judge-checked).
- ``fn``     — ``(spark, sf_dir) -> DataFrame`` Spark-first implementation.
- ``oracle`` — equivalent ANSI SQL for the DuckDB oracle, or ``None`` for
  genuinely non-SQL-expressible ops (approximate sketches, seeded LSH),
  which get the driver's weaker rows-only check.

Determinism discipline (so the driver's order-insensitive value-hash
matches DuckDB bit-for-bit):

- double aggregation goes through exact ``DECIMAL`` accumulation, final
  result cast back to double — identical in both engines regardless of
  partition/accumulation order;
- every window / top-k ordering carries a unique tiebreak column;
- no wall-clock (`current_timestamp`) inside oracle-checked queries;
- session timezone UTC (DuckDB timestamps are naive).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a (query, oracle) pair to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# The driver's per-round correctness sweep checks the first 50 names of
# `queries()`. `all_specs()` orders the registry so that window rotates
# by itself: the queries in _SWEEP_CHANGED first (their old driver rows
# predate a change to their implementation or oracle), then queries the
# driver never swept, then ascending last CORRECTNESS_r*.json round, with
# ties in registration order. The order is a pure function of the
# registry and the recorded history, so it is deterministic for a given
# checkout. _SWEEP_CHANGED is the one hand input: list a query when its
# implementation or oracle changes, and reset it to () once the driver
# has swept it again.
_SWEEP_CHANGED: tuple[str, ...] = ()

# Round records (BENCH_r*.json, CORRECTNESS_r*.json) live at the
# checkout root, one level above this package.
_HISTORY_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def round_records(kind: str, repo: str | None = None) -> Iterator[tuple[int, dict]]:
    """Yield ``(round, record)`` for each ``{kind}_r<N>.json`` in ``repo``
    (default: the checkout root), in ascending round order.

    The driver wraps bench.py's JSON line under ``"parsed"``; that
    envelope is unwrapped, and a record whose ``parsed`` is null (the
    driver could not parse the line) reads as ``{}``. Unreadable or
    non-object files are skipped, and a missing directory yields nothing.
    """
    repo = repo or _HISTORY_DIR
    pattern = re.compile(rf"{re.escape(kind)}_r(\d+)\.json")
    try:
        names = os.listdir(repo)
    except OSError:
        return
    rounds = sorted((int(m.group(1)), m.group(0)) for m in map(pattern.fullmatch, names) if m)
    for rnd, fname in rounds:
        try:
            with open(os.path.join(repo, fname)) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        if "parsed" in data:
            data = data["parsed"] if isinstance(data["parsed"], dict) else {}
        yield rnd, data


def sweep_order(
    names: Iterable[str], changed: Iterable[str] = _SWEEP_CHANGED, repo: str | None = None
) -> list[str]:
    """``names`` (in registration order) in driver-sweep priority order;
    see the comment above _SWEEP_CHANGED."""
    last_swept = {q: rnd for rnd, record in round_records("CORRECTNESS", repo) for q in record}
    changed = set(changed)
    # sorted() is stable, so ties keep registration order.
    return sorted(names, key=lambda n: (n not in changed, last_swept.get(n, -1)))


def all_specs() -> dict[str, QuerySpec]:
    """Import all operator modules (side-effect: registration) and return the registry."""
    # Imports are deferred so `import nt_etl_order_book_spark` stays cheap.
    from nt_etl_order_book_spark.operators import (  # noqa: F401
        aggregates,
        audits,
        composites,
        eventflow,
        joins,
        setops,
        skew,
        timeseries,
        transforms,
        windows,
    )
    from nt_etl_order_book_spark.functions import (  # noqa: F401
        bpe,
        dedup,
        graph,
        multimodal,
        packing,
        quality,
        sampling,
        sketches,
        scalar,
        similarity,
        text,
        udfs,
    )

    return {name: _REGISTRY[name] for name in sweep_order(_REGISTRY)}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
