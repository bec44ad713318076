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


def write_partitioned(df: DataFrame, path: str, *, ts_col: str = "timestamp",
                      fmt: str = "parquet") -> None:
    """Append sink partitioned by event date (derived from the epoch-ms
    column): the layout that makes time-ranged analytics prune at the
    directory level at 100 TB. Also accepts orc/csv/json formats.

    Deliberately NOT repartitioned on event_date (contrast the IVF
    index writers and the rollup materializers, r14): an ingest append
    batch spans 1–2 dates, so the "spray" is tasks×2 files — while
    keying would funnel the whole batch through 1–2 write tasks and
    serialize ingest throughput. The file-count/parallelism trade
    flips when partitions-per-write is large (index/rollup builds) vs
    small (append batches); compaction of append sinks is a downstream
    maintenance job in any deployment."""
    from pyspark.sql import functions as F

    (
        df.withColumn("event_date", F.to_date(F.timestamp_millis(F.col(ts_col))))
        .write.mode("append")
        .partitionBy("event_date")
        .format(fmt)
        .save(path)
    )


def read_json_messages(
    spark: SparkSession, path: str, *, keep_corrupt: bool = False
) -> DataFrame:
    """Batch JSON source with the explicit message schema (never
    inferSchema on the ingest path — SURVEY §1.2).

    With ``keep_corrupt`` the reader runs in PERMISSIVE mode and lands
    malformed lines in a ``_corrupt_record`` column instead of silently
    nulling them out: at ingest scale a poisoned line must neither kill
    the job (FAILFAST) nor vanish (the default's all-null row is
    indistinguishable from real nulls) — the quarantine column lets a
    foreachBatch sink route bad rows to a dead-letter table. The
    reference has no such guard (consumer.py:39-84 assumes clean JSON);
    this is the production-hardening Spark gives for free."""
    from pyspark.sql.types import StringType, StructField, StructType

    from nt_etl_order_book_spark.sources.orderbook import StructTypeUnion

    schema = StructTypeUnion().schema
    if not keep_corrupt:
        return spark.read.schema(schema).json(path)
    with_quarantine = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    return (
        spark.read.schema(with_quarantine)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


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
