"""Pipeline checkpointing + lineage metrics tests (north rule:
resumable stages with per-partition lineage and row/byte metrics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm_spark.metrics import Pipeline, partition_stats


def test_partition_stats_sums_to_count(spark):
    df = spark.range(0, 10_000, 1, 8)
    ps = partition_stats(df)
    assert sum(p["rows"] for p in ps) == 10_000
    assert len(ps) == 8


def test_pipeline_stage_metrics_and_resume(spark, tmp_path):
    _stage_metrics_and_resume(spark, str(tmp_path / "pl"))


def test_pipeline_over_file_uri(spark, tmp_path):
    """The same stages and resume with a ``file://`` base directory."""
    _stage_metrics_and_resume(spark, (tmp_path / "pl").as_uri())
    assert (tmp_path / "pl" / "a" / "_SUCCESS").exists()
    assert len(list((tmp_path / "pl" / "lineage").glob("*.json"))) == 4


def _stage_metrics_and_resume(spark, base):
    calls = {"a": 0, "b": 0}

    def make(pl):
        def stage_a():
            calls["a"] += 1
            return spark.range(100).withColumn("v", F.col("id") * 2)

        a = pl.stage("a", stage_a)

        def stage_b():
            calls["b"] += 1
            return a.groupBy((F.col("id") % 10).alias("k")).agg(
                F.sum("v").alias("s"))

        return pl.stage("b", stage_b, inputs=["a"])

    pl1 = Pipeline(spark, base, "test")
    out1 = make(pl1).collect()
    assert calls == {"a": 1, "b": 1}
    recs = pl1.lineage()
    assert [r["stage"] for r in recs] == ["a", "b"]
    for r in recs:
        assert not r["resumed"]
        assert r["rows"] > 0 and r["bytes"] > 0 and r["partitions"] >= 1
        assert sum(p["rows"] for p in r["partition_rows"]) == r["rows"]
    assert recs[1]["inputs"] == ["a"]

    # resume: stage fns must NOT run again; results identical
    pl2 = Pipeline(spark, base, "test")
    out2 = make(pl2).collect()
    assert calls == {"a": 1, "b": 1}
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    recs2 = pl2.lineage()
    assert [r.get("resumed") for r in recs2[-2:]] == [True, True]


def test_io_write_read_table_paths(spark, tmp_path):
    """io.write_table/read_table: path targets round-trip as parquet;
    table-name targets degrade to the session catalog (no Iceberg jar
    here) instead of failing on a missing data source."""
    from osm_spark import io as OIO

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    p = str(tmp_path / "t.parquet")
    OIO.write_table(df, p)
    assert OIO.read_table(spark, p).count() == 2
    assert not OIO.iceberg_available(spark)
    OIO.write_table(df, "osm_spark_io_test", mode="overwrite")
    try:
        assert OIO.read_table(spark, "osm_spark_io_test").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS osm_spark_io_test")
