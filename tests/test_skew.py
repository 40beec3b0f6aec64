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
    """The merge's (pk_bucket, turn_idx % spread) exchange must spread one
    hot conversation's events over multiple shuffle partitions."""
    from maestro_spark import merge

    df = spark.createDataFrame(
        [(t, "insert", "hot_conv", t % 32) for t in range(4000)],
        ["op_lsn", "op", "conv_id", "turn_idx"],
    )
    parts = (
        merge.epoch_winners(df, 64, 4, 16)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    # one conversation no longer pins a single task: its 4 (bucket, spread)
    # groups land in at least 3 of the exchange's 16 explicit partitions,
    # which AQE does not coalesce
    assert parts >= 3
