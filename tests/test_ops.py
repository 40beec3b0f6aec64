"""Operator-library unit tests (SURVEY §5.2) on tiny hand-written frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from maestro_spark import ops
from maestro_spark.dedup import dedup_max_lsn
from maestro_spark.schema import KEY_COLS


def _ts(s):
    return dt.datetime.fromisoformat(s)


def dedup_max_lsn_window(
    events: DataFrame, keys: list[str] | None = None, lsn_col: str = "op_lsn"
) -> DataFrame:
    """Window form (SURVEY §2.E1) — the reference :func:`dedup_max_lsn` is
    property-tested against."""
    keys = keys or KEY_COLS
    w = Window.partitionBy(*keys).orderBy(F.col(lsn_col).desc())
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .select(*events.columns)
    )


def test_dedup_agg_equals_window(spark):
    rows = [
        ("c1", 0, 5, "a"),
        ("c1", 0, 9, "b"),
        ("c1", 1, 7, "c"),
        ("c2", 0, 1, "d"),
        ("c2", 0, 1, "d"),  # exact duplicate delivery
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "op_lsn", "text"])
    a = dedup_max_lsn(df).orderBy("conv_id", "turn_idx").collect()
    b = dedup_max_lsn_window(df).orderBy("conv_id", "turn_idx").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert [(r.conv_id, r.turn_idx, r.text) for r in a] == [
        ("c1", 0, "b"),
        ("c1", 1, "c"),
        ("c2", 0, "d"),
    ]


def test_salted_join_equals_plain_join(spark):
    left = spark.createDataFrame(
        [(k, i) for k in ["hot", "cold"] for i in range(50 if k == "hot" else 2)],
        ["k", "v"],
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C"), ("unused", "U")], ["k", "tag"])
    plain = left.join(right, "k").groupBy("k", "tag").count()
    salted = ops.salted_join(left, right, "k", n_salts=4).groupBy("k", "tag").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_asof_join_semantics(spark):
    quotes = spark.createDataFrame(
        [("A", _ts("2025-01-01T10:00:00"), 1.0), ("A", _ts("2025-01-01T11:00:00"), 2.0)],
        ["sym", "ts", "px"],
    )
    trades = spark.createDataFrame(
        [
            ("A", _ts("2025-01-01T09:00:00")),  # before any quote -> null
            ("A", _ts("2025-01-01T10:30:00")),  # -> 1.0
            ("A", _ts("2025-01-01T11:00:00")),  # exactly at -> 2.0 (<= semantics)
        ],
        ["sym", "ts"],
    )
    out = ops.asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="ts",
                        right_cols=["px"]).orderBy("ts").collect()
    assert [r.px for r in out] == [None, 1.0, 2.0]


def test_sessionize(spark):
    rows = [
        (1, _ts("2025-01-01T10:00:00")),
        (1, _ts("2025-01-01T10:10:00")),  # same session (gap 600 < 1800)
        (1, _ts("2025-01-01T12:00:00")),  # new session
        (2, _ts("2025-01-01T10:00:00")),
    ]
    df = spark.createDataFrame(rows, ["uid", "ts"])
    out = ops.sessionize(df, "uid", "ts", 1800).orderBy("uid", "ts").collect()
    assert [r.session_id for r in out] == [1, 1, 2, 1]


def test_topk_and_per_group(spark):
    df = spark.createDataFrame([(g, v) for g in "ab" for v in range(10)], ["g", "v"])
    top = ops.top_k(df, [F.col("v").desc(), F.col("g")], 3).collect()
    assert [(r.g, r.v) for r in top] == [("a", 9), ("b", 9), ("a", 8)]
    pg = ops.top_k_per_group(df, ["g"], [F.col("v").desc()], 2)
    assert sorted((r.g, r.v) for r in pg.collect()) == [("a", 8), ("a", 9), ("b", 8), ("b", 9)]


def test_validate_split(spark):
    df = spark.createDataFrame([(1, 5.0), (2, -1.0), (3, 0.0)], ["id", "v"])
    good, bad = ops.validate_split(df, F.col("v") >= 0)
    assert sorted(r.id for r in good.collect()) == [1, 3]
    assert [r.id for r in bad.collect()] == [2]
