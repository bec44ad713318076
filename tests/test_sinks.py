"""Sink/DDL tests — SURVEY §2.1 surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from nt_etl_order_book_spark.sources.registry import (
    init_schema,
    market_dim,
    write_csv_append,
    write_table_append,
)


def test_parquet_append_accumulates(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(5).select(F.col("id"))
    write_table_append(df, path)
    write_table_append(df, path)  # append, not overwrite
    assert spark.read.parquet(path).count() == 10


def test_csv_append_with_header(spark, tmp_path):
    path = str(tmp_path / "c")
    df = spark.createDataFrame([(1700000000000, "KXM-A", "yes", 0.45, 100)],
                               "timestamp long, ticker string, side string, dollar double, contracts int")
    write_csv_append(df, path)
    back = spark.read.option("header", True).csv(path)
    assert back.columns == ["timestamp", "ticker", "side", "dollar", "contracts"]
    assert back.count() == 1


def test_init_schema_idempotent(spark):
    init_schema(spark)
    init_schema(spark)  # CREATE TABLE IF NOT EXISTS: second call is a no-op
    cols = [f.name for f in spark.table("orderbook_snapshots").schema.fields]
    assert cols == ["timestamp", "ticker", "side", "price_dollars", "contracts", "redis_stream_id"]
    dcols = [f.name for f in spark.table("orderbook_deltas").schema.fields]
    assert "delta" in dcols
    spark.sql("DROP TABLE IF EXISTS orderbook_snapshots")
    spark.sql("DROP TABLE IF EXISTS orderbook_deltas")


def test_init_schema_matches_flatten_outputs(spark, tmp_path):
    # The sink tables take exactly what the flatten functions write:
    # the same column names, in order, with the same types.
    from nt_etl_order_book_spark.sources.orderbook import (
        flatten_deltas,
        flatten_snapshots,
        parse_messages,
    )

    msgs = parse_messages(spark.createDataFrame([], "value string"))
    init_schema(spark, location=str(tmp_path))
    try:
        for table, flat in (
            ("orderbook_snapshots", flatten_snapshots(msgs)),
            ("orderbook_deltas", flatten_deltas(msgs)),
        ):
            declared = [(f.name, f.dataType) for f in spark.table(table).schema.fields]
            assert declared == [(f.name, f.dataType) for f in flat.schema.fields], table
    finally:
        spark.sql("DROP TABLE IF EXISTS orderbook_snapshots")
        spark.sql("DROP TABLE IF EXISTS orderbook_deltas")


def test_golden_csv_shape_matches_reference(spark, tmp_path):
    # reference golden headers: timestamp,ticker,side,dollar,contracts|delta
    # (kalshi_ws_client.py:47,73)
    from nt_etl_order_book_spark.sources.registry import golden_csv_frame

    flat = spark.createDataFrame(
        [(1000, "KXM-A", "yes", 0.45, 100, "1-0")],
        "timestamp long, ticker string, side string, price_dollars double, contracts int, redis_stream_id string",
    )
    g = golden_csv_frame(flat, "contracts")
    assert g.columns == ["timestamp", "ticker", "side", "dollar", "contracts"]
    path = str(tmp_path / "golden")
    write_csv_append(g, path)
    assert spark.read.option("header", True).csv(path).columns == g.columns


def test_market_dim_broadcastable(spark):
    dim = market_dim(spark, ["KXM-A", "KXM-B"], "KXNCAAFGAME")
    rows = {(r.ticker, r.series_ticker) for r in dim.collect()}
    assert rows == {("KXM-A", "KXNCAAFGAME"), ("KXM-B", "KXNCAAFGAME")}


def test_write_sorted_table_rowgroups_disjoint_and_pushdown(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from nt_etl_order_book_spark.plans.explain import formatted_plan
    from nt_etl_order_book_spark.sources.registry import write_sorted_table
    from nt_etl_order_book_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "clustered")
    write_sorted_table(ev, out, ["user_id"], n_files=8)

    # every file covers a narrow user_id range; ranges must be
    # (near-)disjoint across files — that's what row-group skipping
    # keys off
    import glob

    ranges = []
    for f in sorted(glob.glob(out + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("user_id")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2 + 1  # boundary key may straddle two files, no more

    scan = spark.read.parquet(out).filter(F.col("user_id") == 42)
    assert "PushedFilters" in formatted_plan(scan)
    assert scan.count() == ev.filter(F.col("user_id") == 42).count()
