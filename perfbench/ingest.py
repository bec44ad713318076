"""ingest_replay: the reference's own job, draining a backlog after an
outage. Stage 1 drains the whole backlog through the two sink queries
(dedup armed); stage 2 drains its first files through the live-quotes
operator. Every message is due at t0, the start of stage 1.

Loads `sources`, `streaming.pipeline` with its dedup state store, and
`streaming.book_state`; `analytics` and `functions` stay idle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from collections import Counter

from perfbench import backlog
from perfbench.common import Pass
from perfbench.trace import ProgressListener

# One file per trigger: stage 1 runs `files` micro-batches per sink query.
SPEC = backlog.BacklogSpec(messages=30_000, tickers=300, files=10)
# Stage 2 drains this many of the backlog's first files. A live-quotes
# micro-batch costs 1-2 s however small (4 cores), so more would not fit
# the run budget: see README.md, "Run time".
QUOTES_FILES = 2
WARM_SPEC = backlog.BacklogSpec(messages=400, tickers=30, files=1)
WARM_QUOTES_FILES = 1
TIMEOUT_S = 150


def _drain(queries) -> None:
    for q in queries:
        if not q.awaitTermination(TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"streaming query {q.name or q.id} did not drain in {TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))


class IngestReplay:
    # One state store per shuffle partition: the live-quotes operator takes
    # the session's count, so the session is sized to the host, as a
    # single-host deployment would be (at 32 the quotes stage is bound by
    # fixed per-store cost, ~3.6 s per micro-batch on 4 cores).
    shuffle_partitions = len(os.sched_getaffinity(0))

    def __init__(self, spark, tmp: str, seed: int, tracer) -> None:
        from nt_etl_order_book_spark.streaming.pipeline import stateful_shuffle_partitions

        self.spark, self.tmp, self.seed, self.tracer = spark, tmp, seed, tracer
        self.listener: ProgressListener | None = None
        self.n_pass = 0
        # DEPLOY.md's state bound: unique deltas per horizon.
        expected_state = SPEC.messages * backlog.HORIZON_MS // SPEC.span_ms
        self.state_partitions = stateful_shuffle_partitions(spark, expected_state)

    # ------------------------------------------------------------ setup
    def generate(self, i: int) -> None:
        msgs = backlog.generate(SPEC, self.seed)
        for name in ("backlog", "quotes_backlog"):
            shutil.rmtree(os.path.join(self.tmp, name), ignore_errors=True)
        backlog.write_backlog(msgs, os.path.join(self.tmp, "backlog"), SPEC.files)
        per = -(-len(msgs) // SPEC.files)
        self.msgs, self.quote_msgs = msgs, msgs[: per * QUOTES_FILES]
        backlog.write_backlog(self.quote_msgs, os.path.join(self.tmp, "quotes_backlog"), QUOTES_FILES)

    def warm(self) -> None:
        """Drain a small backlog through both stages."""
        msgs = backlog.generate(WARM_SPEC, self.seed + 1)
        src = os.path.join(self.tmp, "warm_backlog")
        backlog.write_backlog(msgs, src, WARM_SPEC.files)
        self._stage1(src, os.path.join(self.tmp, "warm"))
        quotes_src = os.path.join(self.tmp, "warm_quotes_backlog")
        per = -(-len(msgs) // WARM_SPEC.files)
        backlog.write_backlog(msgs[: per * WARM_QUOTES_FILES], quotes_src, WARM_QUOTES_FILES)
        self._stage2(quotes_src, os.path.join(self.tmp, "warm"))
        shutil.rmtree(os.path.join(self.tmp, "warm"), ignore_errors=True)

    def enable_tracing(self) -> None:
        self.tracer.enabled = True
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    def disable_tracing(self) -> None:
        self.tracer.enabled = False
        self.spark.streams.removeListener(self.listener)

    # ------------------------------------------------------------ stages
    def _stage1(self, src: str, out: str):
        from nt_etl_order_book_spark.streaming.pipeline import (
            deltas_query,
            read_json_stream,
            snapshots_query,
        )

        msgs = read_json_stream(self.spark, src, max_files_per_trigger=1)
        qs = [
            snapshots_query(msgs, os.path.join(out, "snapshots"), os.path.join(out, "cp_snapshots")),
            deltas_query(
                msgs,
                os.path.join(out, "deltas"),
                os.path.join(out, "cp_deltas"),
                state_partitions=self.state_partitions,
            ),
        ]
        _drain(qs)
        return qs

    def _stage2(self, src: str, out: str):
        from nt_etl_order_book_spark.streaming.book_state import streaming_quotes
        from nt_etl_order_book_spark.streaming.pipeline import read_json_stream

        live: dict[str, tuple] = {}

        def emit(batch_df, _batch_id):
            for r in batch_df.collect():
                live[r.ticker] = (r.as_of_ts, r.best_bid, r.best_ask, r.spread, r.n_levels)

        q = (
            streaming_quotes(read_json_stream(self.spark, src, max_files_per_trigger=1))
            .writeStream.outputMode("update")
            .foreachBatch(emit)
            .option("checkpointLocation", os.path.join(out, "cp_quotes"))
            .trigger(availableNow=True)
            .start()
        )
        _drain([q])
        return q, live

    def run_pass(self) -> Pass:
        self.n_pass += 1
        out = os.path.join(self.tmp, f"pass{self.n_pass}")
        prev = os.path.join(self.tmp, f"pass{self.n_pass - 1}")
        for d in (prev, out):  # keep only the newest pass, for the check
            shutil.rmtree(d, ignore_errors=True)
        tr = self.tracer if self.tracer and self.tracer.enabled else None
        failed = 0
        t0 = time.perf_counter()
        try:
            if tr:
                with tr.span("ingest.stage1"):
                    sink_qs = self._stage1(os.path.join(self.tmp, "backlog"), out)
            else:
                sink_qs = self._stage1(os.path.join(self.tmp, "backlog"), out)
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            print(f"# stage 1 failed: {exc}", file=sys.stderr)
            sink_qs, failed = [], failed + 1
        t1 = time.perf_counter()
        try:
            if tr:
                with tr.span("ingest.stage2"):
                    quote_q, live = self._stage2(os.path.join(self.tmp, "quotes_backlog"), out)
            else:
                quote_q, live = self._stage2(os.path.join(self.tmp, "quotes_backlog"), out)
        except Exception as exc:  # noqa: BLE001
            print(f"# stage 2 failed: {exc}", file=sys.stderr)
            quote_q, live, failed = None, {}, failed + 1
        t2 = time.perf_counter()
        print(
            f"# pass {self.n_pass}: sinks {len(self.msgs)} msgs in {t1 - t0:.2f}s,"
            f" live quotes {len(self.quote_msgs)} msgs in {t2 - t1:.2f}s",
            file=sys.stderr,
        )
        batch_ms = [
            float(p["durationMs"]["triggerExecution"]) for q in sink_qs for p in q.recentProgress
        ]
        detail = {
            "out": out,
            "live": live,
            "quotes_msgs_per_s": len(self.quote_msgs) / (t2 - t1),
            # backlog lines the sink stage read; the deltas query's own
            # count is doubled, as its plan scans the source twice
            "lines_read": sum(p["numInputRows"] for p in sink_qs[0].recentProgress) if sink_qs else 0,
        }
        if tr:
            detail["sink_progress"] = [self.listener.batches(q) for q in sink_qs]
            detail["quote_progress"] = self.listener.batches(quote_q) if quote_q else []
        return Pass(
            wall_s=t2 - t0,
            throughput=len(self.msgs) / (t1 - t0),
            op_ms=batch_ms,
            ops=2,
            failed=failed,
            counters=self.tracer.take() if tr else {},
            detail=detail,
        )

    # ------------------------------------------------------------ checks
    def check(self, passes: list[Pass]) -> tuple[int, int, list[str]]:
        """Compare the newest pass's sinks, batch quotes and live quotes
        with the oracle. A wrong output marks its stage failed in every
        pass (the job is deterministic)."""
        from nt_etl_order_book_spark.analytics import current_book, quotes

        spark, last = self.spark, passes[-1]
        attempted = sum(p.ops for p in passes)
        failed = sum(p.failed for p in passes)
        problems: list[str] = []
        snaps, deltas = backlog.sink_rows(self.msgs)
        out = last.detail["out"]
        try:
            got_snaps = spark.read.parquet(os.path.join(out, "snapshots")).toPandas()
            got_deltas = spark.read.parquet(os.path.join(out, "deltas")).toPandas()
            got_snaps = Counter(
                (int(r.timestamp), r.ticker, r.side, int(r.price_dollars * 100), int(r.contracts), r.redis_stream_id)
                for r in got_snaps.itertuples()
            )
            got_deltas = Counter(
                (int(r.timestamp), r.ticker, r.side, int(r.price_dollars * 100), int(r.delta), r.redis_stream_id, int(r.event_ts))
                for r in got_deltas.itertuples()
            )
            if got_snaps != Counter(snaps):
                problems.append("snapshots sink differs from the oracle")
            if got_deltas != Counter(deltas):
                problems.append("deltas sink differs from the oracle (dedup)")
            self.sink_rows_written = sum(got_deltas.values())
            read = last.detail["lines_read"]
            if self.sink_rows_written * len(self.msgs) != len(deltas) * read:
                problems.append(
                    f"dedup keep ratio {self.sink_rows_written}/{read} differs from the oracle's"
                    f" {len(deltas)}/{len(self.msgs)}"
                )
            book = current_book(
                spark.read.parquet(os.path.join(out, "snapshots")),
                spark.read.parquet(os.path.join(out, "deltas")),
            )
            got_q = {r.ticker: (r.best_bid, r.best_ask, r.spread, r.mid) for r in quotes(book).collect()}
            want_q = backlog.quotes_of(backlog.book_at(snaps, deltas))
            if got_q != want_q:
                problems.append("quotes(current_book(sinks)) differ from the oracle")
        except Exception as exc:  # noqa: BLE001
            problems.append(f"sink check raised {type(exc).__name__}: {exc}")
        stage1_bad = bool(problems)
        want_live = backlog.live_quotes(self.quote_msgs, dedup=False)
        if last.detail["live"] != want_live:
            problems.append("live quotes differ from the no-dedup oracle")
        dedup_live = backlog.live_quotes(self.quote_msgs, dedup=True)
        self.divergent = sum(1 for t, v in last.detail["live"].items() if dedup_live.get(t) != v)
        failed += len(passes) * (stage1_bad + (last.detail["live"] != want_live))
        return attempted, min(failed, attempted), problems

    # ------------------------------------------------------------ layers
    def layers(self, traced: list[Pass]) -> dict[str, tuple[float, str]]:
        from nt_etl_order_book_spark.sources.orderbook import (
            flatten_deltas,
            flatten_snapshots,
            parse_messages,
        )

        out: dict[str, tuple[float, str]] = {}
        sink = [p for tp in traced for q in tp.detail["sink_progress"] for p in q]
        state = [s for p in sink for s in p.get("stateOperators") or []]

        def med(xs):
            return float(statistics.median(xs)) if xs else 0.0

        def dur(batches, key):
            return med([p["durationMs"].get(key, 0) for p in batches])

        out["streaming.batches"] = (len(sink) / len(traced), "count")
        for key, name in (
            ("addBatch", "add_batch_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("walCommit", "wal_commit_ms"),
            ("commitOffsets", "commit_offsets_ms"),
            ("latestOffset", "latest_offset_ms"),
        ):
            out[f"streaming.{name}"] = (dur(sink, key), "ms")
        out["streaming.state_commit_ms"] = (med([s.get("commitTimeMs", 0) for s in state]), "ms")
        out["streaming.state_update_ms"] = (med([s.get("allUpdatesTimeMs", 0) for s in state]), "ms")
        out["streaming.state_rows_peak"] = (max((s.get("numRowsTotal", 0) for s in state), default=0), "count")
        out["streaming.state_rows_removed"] = (
            sum(s.get("numRowsRemoved", 0) for s in state) / len(traced),
            "count",
        )
        read = traced[-1].detail["lines_read"]
        out["streaming.dedup_keep_ratio"] = (self.sink_rows_written / read if read else 0.0, "ratio")
        quote = [p for tp in traced for p in tp.detail["quote_progress"]]
        quote_state = [s for p in quote for s in p.get("stateOperators") or []]
        out["book_state.batches"] = (len(quote) / len(traced), "count")
        out["book_state.add_batch_ms"] = (dur(quote, "addBatch"), "ms")
        out["book_state.state_commit_ms"] = (med([s.get("commitTimeMs", 0) for s in quote_state]), "ms")
        out["book_state.msgs_per_s"] = (med([tp.detail["quotes_msgs_per_s"] for tp in traced]), "1/s")
        out["book_state.replay_divergent_tickers"] = (self.divergent, "count")
        # A batch parse + flatten of the backlog, outside the passes.
        t0 = time.perf_counter()
        with self.tracer.span("sources.flatten"):
            msgs = parse_messages(self.spark.read.text(os.path.join(self.tmp, "backlog")))
            for df in (flatten_snapshots(msgs), flatten_deltas(msgs)):
                df.write.format("noop").mode("overwrite").save()
        out["sources.flatten_ms"] = ((time.perf_counter() - t0) * 1000, "ms")
        return out
