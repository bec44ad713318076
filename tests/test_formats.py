"""Source/sink format coverage: ORC round trip and parquet schema evolution."""


def test_orc_roundtrip(spark, tmp_path):
    out = str(tmp_path / "orc")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df.write.mode("append").orc(out)
    back = spark.read.orc(out)
    assert sorted((r.k, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    # Schema evolution on an append table: a new column added by a later
    # writer must surface via mergeSchema with NULLs for old files —
    # the contract an ever-growing 100 TB ingest table depends on.
    out = str(tmp_path / "evolve")
    spark.range(3).selectExpr("id", "id * 2 as a").write.mode("append").parquet(out)
    spark.range(3, 5).selectExpr(
        "id", "id * 2 as a", "id * 10 as b"
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "a", "b"}
    got = {r.id: r.b for r in merged.collect()}
    assert got[4] == 40 and got[0] is None
