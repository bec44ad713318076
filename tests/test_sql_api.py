"""SQL-surface parity: the engine is usable SQL-first, not only via the
DataFrame API. `tables.register_views` exposes the testdata as temp
views; Spark SQL text over those views must produce exactly what the
registered DataFrame queries produce. This is the 'a user of a general
OLAP engine can keep writing SQL' claim, executed."""

from __future__ import annotations

from nt_etl_order_book_spark import registry
from nt_etl_order_book_spark.operators.aggregates import sql_dsum
from nt_etl_order_book_spark.tables import register_views


def _rows(df):
    return sorted(map(tuple, df.collect()), key=str)


def test_spark_sql_text_matches_dataframe_queries(spark, sf_dir):
    register_views(spark, sf_dir)
    qs = registry.queries()

    # Q1 shape (agg_groupby_sum): same decimal-exact accumulation in SQL
    sql = spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum("l_quantity")} AS sum_qty,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """)
    assert _rows(sql) == _rows(qs["agg_groupby_sum"](spark, sf_dir))

    # join + filter shape through SQL
    sql = spark.sql("""
        SELECT e.event_id, e.user_id, e.event_type
        FROM events e LEFT SEMI JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'click'
    """)
    # independent expectation via the DataFrame API
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    cust = load_table(spark, sf_dir, "customer")
    df = ev.join(cust, ev.user_id == cust.c_custkey, "left_semi").select(
        "event_id", "user_id", "event_type"
    )
    assert _rows(sql) == _rows(df)

    # window shape through SQL (hourly OHLC twin of ohlc_bars)
    sql = spark.sql("""
        SELECT user_id, date_trunc('hour', ts) AS bar_ts,
               min_by(value, unix_micros(CAST(ts AS TIMESTAMP)) * 1000 + event_id) AS open,
               MAX(value) AS high, MIN(value) AS low,
               max_by(value, unix_micros(CAST(ts AS TIMESTAMP)) * 1000 + event_id) AS close,
               COUNT(*) AS n_events
        FROM events GROUP BY user_id, date_trunc('hour', ts)
    """)
    assert _rows(sql) == _rows(qs["ohlc_bars"](spark, sf_dir))


def test_load_events_sets_no_session_conf(spark):
    # The nanos-as-long read of events.parquet rides on the conf that
    # get_spark / tune_session set (SESSION_CONFS); load_table itself
    # must leave the caller's session conf as it found it.
    from nt_etl_order_book_spark.tables import load_table, sf_path

    before = dict(spark.conf.getAll)
    df = load_table(spark, sf_path("0.01"), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert df.select("ts").limit(1).collect()[0].ts is not None
    assert dict(spark.conf.getAll) == before
