"""Sources & sinks — SURVEY §2.1.

Reference → Spark:
- Postgres ADBC bulk append (postgres_client.py:53-67) →
  `write_table_append` (parquet/Delta-style path append).
- golden-CSV append with header-on-create (kalshi_ws_client.py:32-75) →
  `write_csv_append`.
- CREATE TABLE IF NOT EXISTS DDL (postgres_client.py:24-51) →
  `init_schema` managed tables.
- REST market-discovery dimension (kalshi_rest_client.py:60-74) →
  `market_dim` small DataFrame, meant to be broadcast into joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nt_etl_order_book_spark.schemas import DELTAS_TABLE, SNAPSHOTS_TABLE


def write_table_append(df: DataFrame, path: str) -> None:
    """Relational append sink: columnar, atomic per job (the Arrow bulk
    insert analog). Append mode == the reference's if_table_exists='append'."""
    df.write.mode("append").parquet(path)


def write_csv_append(df: DataFrame, path: str, *, header: bool = True) -> None:
    """CSV append with header (golden-file helper analog,
    kalshi_ws_client.py:32-56)."""
    df.write.mode("append").option("header", str(header).lower()).csv(path)


def init_schema(spark: SparkSession, *, location: str | None = None) -> None:
    """CREATE TABLE IF NOT EXISTS for the two sink tables — idempotent,
    exactly like postgres_client.initialize_schema (postgres_client.py:24-51)."""
    for name, schema in (("orderbook_snapshots", SNAPSHOTS_TABLE), ("orderbook_deltas", DELTAS_TABLE)):
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        loc = f" LOCATION '{location}/{name}'" if location else ""
        spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) USING parquet{loc}")


def golden_csv_frame(flat: DataFrame, value_col: str) -> DataFrame:
    """Project a flattened table into the reference's golden-CSV shape:
    header `timestamp,ticker,side,dollar,<contracts|delta>`
    (kalshi_ws_client.py:47,73)."""
    from pyspark.sql import functions as F

    return flat.select(
        "timestamp",
        "ticker",
        "side",
        F.col("price_dollars").alias("dollar"),
        value_col,
    )


def market_dim(spark: SparkSession, tickers: list[str], series_ticker: str) -> DataFrame:
    """Market-discovery dimension (REST get_tickers analog): a small
    DataFrame of open markets, sized to broadcast (limit=1000/page in the
    reference, kalshi_rest_client.py:62)."""
    return spark.createDataFrame(
        [(t, series_ticker) for t in tickers], schema="ticker string, series_ticker string"
    )


def write_sorted_table(df, path: str, sort_cols: list[str], *, n_files: int = 8) -> None:
    """Range-clustered parquet write: ``repartitionByRange`` +
    ``sortWithinPartitions`` on the cluster columns, so each output
    file (and each parquet row group inside it) covers a NARROW,
    near-disjoint range of the sort key. Parquet stores per-row-group
    min/max statistics; a filtered scan then skips every row group
    whose range misses the predicate — the poor-man's Z-order, and at
    100 TB the difference between reading one file and reading the
    table. tests/test_sinks.py verifies the written row-group stats
    really are disjoint (pyarrow metadata) and that the predicate
    reaches the scan (PushedFilters), which together are what make the
    skipping real rather than hoped for.
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )
