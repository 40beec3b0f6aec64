"""Skew tooling tests (SURVEY §2.C9/D8/K3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from maestro_spark import skew


def _skewed(spark):
    rows = [("hot", i) for i in range(300)] + [(f"k{i}", i) for i in range(50)]
    return spark.createDataFrame(rows, ["k", "v"])


def test_heavy_hitters(spark):
    hh = skew.heavy_hitters(_skewed(spark), ["k"], k=3).collect()
    assert hh[0].k == "hot" and hh[0].n == 300
    assert all(r.n <= 300 for r in hh)


def test_skew_ratio(spark):
    r = skew.skew_ratio(_skewed(spark), ["k"]).head()
    assert r.max_n == 300 and r.n_keys == 51
    assert r.max_over_mean > 10


def test_count_min_sketch_runs(spark):
    row = skew.hot_key_counts_sketch(_skewed(spark), "k").head()
    assert row.cms is not None and len(bytes(row.cms)) > 0


def test_merge_spread_splits_hot_conversation(spark, tmp_path):
    """The merge's (pk_bucket, turn_idx % spread) keys must spread one hot
    conversation's events over multiple shuffle partitions."""
    from maestro_spark.lake import bucket_expr

    df = spark.createDataFrame(
        [("hot_conv", t % 32) for t in range(4000)], ["conv_id", "turn_idx"]
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        parts = (
            df.withColumn("pk_bucket", bucket_expr("conv_id", 64))
            .withColumn("_spread", F.pmod(F.col("turn_idx"), F.lit(4)))
            .repartition(16, "pk_bucket", "_spread")
            .withColumn("pid", F.spark_partition_id())
            .select("pid")
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert parts >= 3  # one conversation no longer pins a single task
    # (the merge's exchange has an explicit partition count, so AQE cannot
    # re-coalesce it; the guarantee it relies on is the key space: 4
    # distinct (bucket, spread) groups)
