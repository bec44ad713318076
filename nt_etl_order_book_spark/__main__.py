"""`python -m nt_etl_order_book_spark` — run the full pipeline demo.

The Spark-first twin of the reference's entry point (`python
nt_etl_order_book`, __main__.py:7-17): where the reference starts a
producer and consumer against live Kalshi + Redis + Postgres, this demo
replays a synthetic message stream through the same code paths —
streaming flatten with checkpointed sinks, live stateful quotes, then
the batch reconstruction the sink tables exist for — and prints each
stage. Everything runs locally in one process; swap the file source for
Kafka and the parquet sinks for JDBC/Delta for a deployment.
"""

from __future__ import annotations

import json
import random
import sys
import tempfile
import os

from nt_etl_order_book_spark.analytics import book_top, current_book, quotes
from nt_etl_order_book_spark.session import get_spark
from nt_etl_order_book_spark.sources.orderbook import (
    flatten_deltas,
    flatten_snapshots,
    parse_messages,
)
from nt_etl_order_book_spark.streaming.book_state import streaming_quotes
from nt_etl_order_book_spark.streaming.pipeline import (
    deltas_query,
    read_json_stream,
    snapshots_query,
)

SERIES = "KXNCAAFGAME"  # the reference's hard-coded series (__main__.py:8)
N_MARKETS = 4
N_DELTAS = 400


def synth_messages() -> list[str]:
    rng = random.Random(42)
    out = []
    for m in range(N_MARKETS):
        out.append(
            json.dumps(
                {
                    "type": "orderbook_snapshot",
                    "sid": 1,
                    "seq": m,
                    "market_ticker": f"{SERIES}-M{m}",
                    "market_id": str(m),
                    "yes_dollars": [
                        [round(0.30 + 0.01 * lv, 4), rng.randint(10, 400)] for lv in range(rng.randint(1, 6))
                    ],
                    "no_dollars": [
                        [round(0.55 + 0.01 * lv, 4), rng.randint(10, 400)] for lv in range(rng.randint(1, 6))
                    ],
                    "ingestion_ts": 1_700_000_000_000 + m,
                    "redis_stream_id": f"s-{m}",
                }
            )
        )
    for i in range(N_DELTAS):
        out.append(
            json.dumps(
                {
                    "type": "orderbook_delta",
                    "sid": 1,
                    "seq": 100 + i,
                    "market_ticker": f"{SERIES}-M{i % N_MARKETS}",
                    "market_id": str(i % N_MARKETS),
                    "price": 30 + i % 30,
                    "price_dollars": round((30 + i % 30) / 100, 4),
                    "delta": rng.randint(-30, 40),
                    "side": "yes" if i % 3 else "no",
                    "ts": 1_700_000_100_000 + i * 250,
                    "ingestion_ts": 1_700_000_100_000 + i * 250 + 5,
                    "redis_stream_id": f"d-{i}",
                }
            )
        )
    return out


def main() -> int:
    spark = get_spark("nt-etl-order-book-demo")
    root = tempfile.mkdtemp(prefix="ntspark_demo_")
    msg_dir = os.path.join(root, "msgs")
    os.makedirs(msg_dir)
    with open(os.path.join(msg_dir, "replay.json"), "w") as fh:
        fh.write("\n".join(synth_messages()))
    print(f"== replaying synthetic {SERIES} stream from {msg_dir}")

    # EP2/EP3: streaming flatten into the two sink tables, checkpointed.
    msgs = read_json_stream(spark, msg_dir)
    q1 = snapshots_query(msgs, f"{root}/orderbook_snapshots", f"{root}/cp_s")
    q2 = deltas_query(msgs, f"{root}/orderbook_deltas", f"{root}/cp_d")
    q1.awaitTermination(300)
    q2.awaitTermination(300)
    snaps = spark.read.parquet(f"{root}/orderbook_snapshots")
    deltas = spark.read.parquet(f"{root}/orderbook_deltas")
    print(f"== sink tables: {snaps.count()} snapshot levels, {deltas.count()} deltas")

    # Live quotes via the stateful streaming operator.
    q3 = (
        streaming_quotes(read_json_stream(spark, msg_dir))
        .writeStream.format("memory")
        .queryName("demo_live_quotes")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(300)
    print("== live quotes (latest per market):")
    spark.sql(
        "select ticker, best_bid, best_ask, spread, n_levels from ("
        " select *, row_number() over (partition by ticker order by as_of_ts desc) rn"
        " from demo_live_quotes) where rn = 1 order by ticker"
    ).show(truncate=False)

    # The analytics the sink tables exist for: reconstruction + depth.
    book = current_book(snaps, deltas)
    print("== reconstructed book depth (top 3 levels per side):")
    book_top(book, 3).orderBy("ticker", "side", "depth_rank").show(12, truncate=False)
    print("== batch quotes (must match the live ones):")
    quotes(book).orderBy("ticker").show(truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
