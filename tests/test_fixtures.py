"""fixtures.read_parquet: memoized schemas follow a rewritten path."""

from dug_spark import fixtures


def test_read_parquet_reinfers_rewritten_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "x int, y string").write.parquet(path)
    assert fixtures.read_parquet(spark, path).columns == ["x", "y"]
    assert fixtures.read_parquet(spark, path).columns == ["x", "y"]  # memo hit
    spark.createDataFrame([(2.5,)], "z double").write.mode("overwrite").parquet(path)
    df = fixtures.read_parquet(spark, path)
    assert df.columns == ["z"]
    assert [r["z"] for r in df.collect()] == [2.5]
