"""Typed table access for the driver testdata (TESTDATA.md).

One parquet file per table. Scans go through here so every query gets
the same pruned, pushdown-friendly source: ``spark.read.parquet`` with
no inferSchema surprises (parquet is self-describing) and no caching by
default — at 100 TB the tables don't fit in memory, so operators must
be correct without it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Root holding the sf* fixture directories. Single source for every
# harness path (conftest, tools/battery.py): override via
# SPARK_GRAFT_TESTDATA on a checkout whose fixtures live elsewhere,
# else derived from SPARK_GRAFT_SF_DIR's parent.
TESTDATA_ROOT = os.environ.get(
    # normpath: a trailing slash on SPARK_GRAFT_SF_DIR would otherwise make
    # dirname return the sf dir itself and nest sf_path (e.g. /d/sf1/sf0.01).
    "SPARK_GRAFT_TESTDATA", os.path.dirname(os.path.normpath(DEFAULT_SF_DIR))
)


def sf_path(sf: str) -> str:
    """Fixture directory for scale factor ``sf`` (e.g. ``"0.01"``)."""
    return os.path.join(TESTDATA_ROOT, f"sf{sf}")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan table ``name`` of the fixture directory ``sf_dir``.

    Precondition: ``spark`` was built by ``session.get_spark`` or passed
    through ``session.tune_session``, which set
    ``spark.sql.legacy.parquet.nanosAsLong`` (SESSION_CONFS) so the
    events table's TIMESTAMP(NANOS) column is readable. Every entry point
    does one or the other; this call sets no session conf."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # The driver's events.parquet carries TIMESTAMP(NANOS), read as
        # long nanos (see the docstring); re-derive a microsecond
        # timestamp (NTZ so semantics match the timezone-naive oracle).
        # Other writers produce µs timestamps — detect from the actual
        # read schema rather than assuming.
        from pyspark.sql.types import LongType, TimestampNTZType

        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):  # nanos-as-long path
            return df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        if not isinstance(ts_type, TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
