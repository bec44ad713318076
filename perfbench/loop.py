"""query_loop: one client running a closed loop over the read side, in an
order shuffled by the seed:

- `analytics` queries over sink tables that setup writes by
  batch-flattening a seeded backlog;
- oracle-backed order-book registry queries over a seeded `events` table;
- the near-dup and ANN extension operators over a 10x corpus.

The order-book queries are small and bound by driver planning and job
dispatch, so `session`, planning and `operators` changes show in their
build times and job counts; the corpus operators are executor- and
job-chain-bound and exercise `functions`, `spread()`/`checkpoint_frame`
and shuffle width. `streaming` stays idle.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import time

from perfbench import backlog, catalog, fixtures
from perfbench.common import Pass, QueryTimer, consume

SPEC = backlog.BacklogSpec(messages=6_000, tickers=300, files=2)
EVENTS = 10_000  # rows of the seeded events table: the fixture's sf0.01 size
COPIES = 10
BASE_DOCS = 100  # x10 copies -> 1,000 documents
BASE_VECS = 100  # x10 copies -> 1,000 vectors
# Quality floors on this corpus, set below the lowest values seen over 30
# seeds (recall 0.75, precision 1.0, recall@5 1.0) so that only a real
# loss of quality trips them.
MINHASH_PRECISION_FLOOR = 0.95
MINHASH_RECALL_FLOOR = 0.6
ANN_RECALL_FLOOR = 0.7


class QueryLoop:
    shuffle_partitions = None  # the package default

    def __init__(self, spark, tmp: str, seed: int, tracer) -> None:
        from nt_etl_order_book_spark import registry

        self.spark, self.tmp, self.seed, self.tracer = spark, tmp, seed, tracer
        self.timer = QueryTimer(spark, tracer)
        self.registry = registry.queries()
        self.root = os.path.join(tmp, "inputs")
        self.sf = os.path.join(self.root, "sf")
        self.quality: dict[str, float] = {}
        self.rounds = 0

    # ------------------------------------------------------------ setup
    def generate(self, i: int) -> None:
        """The backlog (JSON lines), the events table, the 10x sparse
        documents of `tools/gen_scale_corpus.py --sparse` and the base
        embeddings, from the seed."""
        shutil.rmtree(self.root, ignore_errors=True)
        self.msgs = backlog.generate(SPEC, self.seed)
        backlog.write_backlog(self.msgs, os.path.join(self.root, "backlog"), SPEC.files)
        fixtures.write_events(self.sf, EVENTS, self.seed)
        docs = fixtures.base_documents(BASE_DOCS, self.seed)
        fixtures.write_documents(self.sf, fixtures.scale_documents(docs, COPIES))
        fixtures.write_embeddings(os.path.join(self.root, "base"), BASE_VECS, self.seed)

    def warm(self) -> None:
        """Batch-flatten the backlog into the sink tables and write the 10x
        embeddings with `gen_scale_corpus.gen_embeddings` (Spark jobs, so
        they run once, here). Then run every query once on the real
        inputs and check it: order-book results against the oracle,
        minhash_eval precision/recall and ANN recall@5 against floors."""
        from nt_etl_order_book_spark.sources.orderbook import (
            flatten_deltas,
            flatten_snapshots,
            parse_messages,
        )
        from tools.gen_scale_corpus import gen_embeddings

        parsed = parse_messages(self.spark.read.text(os.path.join(self.root, "backlog")))
        flatten_snapshots(parsed).write.parquet(os.path.join(self.root, "snapshots"))
        flatten_deltas(parsed).write.parquet(os.path.join(self.root, "deltas"))
        with contextlib.redirect_stdout(sys.stderr):  # stdout ends with the result line
            gen_embeddings(self.spark, os.path.join(self.root, "base"), self.sf, COPIES)
        self.problems = self._check_book() + self._check_corpus()
        print(f"# quality: {self.quality}")

    def enable_tracing(self) -> None:
        self.tracer.enabled = True

    def disable_tracing(self) -> None:
        self.tracer.enabled = False

    # ------------------------------------------------------------ queries
    def _queries(self) -> dict:
        from nt_etl_order_book_spark import analytics as A

        spark, root, sf = self.spark, self.root, self.sf

        def sinks():
            return (
                spark.read.parquet(os.path.join(root, "snapshots")),
                spark.read.parquet(os.path.join(root, "deltas")),
            )

        qs = {
            "current_book": lambda: A.current_book(*sinks()),
            "quotes": lambda: A.quotes(A.current_book(*sinks())),
            "vwap": lambda: A.vwap(sinks()[1], sinks()[0]),
        }
        for name in catalog.LOOP_REGISTRY + catalog.LOOP_CORPUS:
            qs[name] = lambda fn=self.registry[name]: fn(spark, sf)
        return qs

    def run_pass(self) -> Pass:
        """One round: every query once, in a seeded order, from an empty
        cache (minhash_dedup caches its signatures)."""
        self.rounds += 1
        self.spark.catalog.clearCache()
        qs = self._queries()
        order = sorted(qs)
        random.Random(self.seed * 1000 + self.rounds).shuffle(order)
        lat, failed, shown = [], 0, []
        t0 = time.perf_counter()
        for name in order:
            ms = self.timer.run(name, qs[name])
            if ms is None:
                failed += 1
            else:
                lat.append(ms)
            shown.append(f"{name}={'failed' if ms is None else round(ms)}")
        wall = time.perf_counter() - t0
        print(f"# round {self.rounds} ms: {' '.join(shown)}", file=sys.stderr)
        tr = self.tracer if self.tracer and self.tracer.enabled else None
        return Pass(
            wall_s=wall,
            throughput=len(order) / wall,
            op_ms=lat,
            ops=len(order),
            failed=failed,
            counters=tr.take() if tr else {},
        )

    # ------------------------------------------------------------ checks
    def _check_book(self) -> list[str]:
        """Analytics results against the pure-Python oracle, registry
        results against their `oracle_sql()` twins on DuckDB."""
        import duckdb

        from nt_etl_order_book_spark import registry
        from tools.check import compare

        snaps, deltas = backlog.sink_rows(self.msgs)
        book = backlog.book_at(snaps, deltas)
        want = {
            "current_book": book,
            "quotes": backlog.quotes_of(book),
            "vwap": backlog.vwap_of(snaps, deltas),
        }

        def cents(d):
            return int(d * 100)

        shape = {
            "current_book": lambda rows: {(r.ticker, r.side, cents(r.price_dollars)): r.contracts for r in rows},
            "quotes": lambda rows: {r.ticker: (r.best_bid, r.best_ask, r.spread, r.mid) for r in rows},
            "vwap": lambda rows: {(r.ticker, r.side): (r.vwap, int(r.volume)) for r in rows},
        }
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf}/events.parquet')")
        oracles = registry.oracle_sql()
        qs = self._queries()
        bad = []
        for name in catalog.LOOP_ANALYTICS + catalog.LOOP_REGISTRY:
            try:
                if name in shape:
                    ok = shape[name](qs[name]().collect()) == want[name]
                else:
                    ok = not compare(name, qs[name]().toPandas(), con.execute(oracles[name]).fetchdf())
            except Exception as exc:  # noqa: BLE001 - a query that raises fails its check
                print(f"# {name} check raised {type(exc).__name__}: {exc}", file=sys.stderr)
                ok = False
            if not ok:
                bad.append(f"{name} differs from its oracle")
        con.close()
        return bad

    def _check_corpus(self) -> list[str]:
        """minhash_eval (run here only, as a quality guard) and each timed
        corpus query once; ANN recall@5 against the exact top-k."""
        truth = fixtures.exact_topk(os.path.join(self.sf, "embeddings.parquet"))
        bad = []
        for name in ("minhash_eval",) + catalog.LOOP_CORPUS:
            try:
                df = self.registry[name](self.spark, self.sf)
                if name == "minhash_eval":
                    [row] = df.collect()
                elif name.startswith("ann_"):
                    rows = df.select("qid", "vec_id").collect()
                else:
                    consume(df)
            except Exception as exc:  # noqa: BLE001 - a query that raises fails the check
                bad.append(f"{name} raised {type(exc).__name__}: {exc}")
                continue
            if name == "minhash_eval":
                self.quality["minhash_precision"], self.quality["minhash_recall"] = row.precision, row.recall
                if (row.precision or 0) < MINHASH_PRECISION_FLOOR or (row.recall or 0) < MINHASH_RECALL_FLOOR:
                    bad.append(f"minhash_eval precision={row.precision} recall={row.recall}")
            elif name.startswith("ann_"):
                got: dict[int, set[int]] = {}
                for r in rows:
                    got.setdefault(r.qid, set()).add(r.vec_id)
                recall = statistics.mean(len(got.get(q, set()) & want) / len(want) for q, want in truth.items())
                self.quality[name] = recall
                if recall < ANN_RECALL_FLOOR:
                    bad.append(f"{name} recall@5={recall:.3f} < {ANN_RECALL_FLOOR}")
        return bad

    def check(self, passes: list[Pass]) -> tuple[int, int, list[str]]:
        """The warm-up round's checks; a wrong query fails every execution
        of the run (they are deterministic)."""
        attempted = sum(p.ops for p in passes)
        failed = sum(p.failed for p in passes) + len(passes) * len(self.problems)
        return attempted, min(failed, attempted), self.problems

    # ------------------------------------------------------------ layers
    def layers(self, traced: list[Pass]) -> dict[str, tuple[float, str]]:
        out = self.timer.layers(catalog.LOOP_ANALYTICS + catalog.LOOP_REGISTRY + catalog.LOOP_CORPUS)
        out["functions.minhash_eval.recall"] = (float(self.quality.get("minhash_recall") or 0.0), "ratio")
        out["functions.ann_recall_at_5"] = (self.quality.get("ann_ivf_topk", 0.0), "ratio")
        return out
