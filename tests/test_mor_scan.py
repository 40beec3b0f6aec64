"""``mor_scan.scan`` is a JVM-only plan: a ``Range`` with one row per pack
feeding ``MapInArrow``, the packs riding in the task closure. No Python
planner runs before the first task, so a read of multi-file buckets plans
no Python data-source scan, sets no session conf, and a point lookup of a
multi-file bucket runs exactly one Spark job."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from maestro_spark import schema as S
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch
from maestro_spark.verify import symmetric_diff_empty

PUSHDOWN = "spark.sql.python.filterPushdown.enabled"


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """8 buckets, every one written by both epochs (two files each)."""
    t = LakeTable.create(spark, str(tmp_path_factory.mktemp("mor_scan") / "lake"),
                         n_buckets=8)
    for e in range(2):
        merge_batch(t, spark.createDataFrame(
            [(100 * e + i, "update" if e else "insert", f"c{i}", i % 3, "user",
              f"e{e}-{i}", None, dt.datetime(2025, 1, 1)) for i in range(60)],
            S.CHANGE_EVENT_SCHEMA,
        ), "q", e)
    assert all(len(ps) == 2 for ps in t.snapshot().files.values())
    return t


def test_read_plans_map_in_arrow_and_sets_no_conf(spark, table):
    spark.conf.unset(PUSHDOWN)
    df = table.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Range" in plan, plan
    assert "BatchScan" not in plan, plan
    assert df.count() == 60
    assert spark.conf.get(PUSHDOWN, None) is None


def test_multi_file_lookup_runs_one_job(spark, table):
    sc = spark.sparkContext
    sc.setJobGroup("mor-lookup", "one lookup")
    try:
        rows = table.lookup("c7").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("mor-lookup")) == 1
    assert [r["text"] for r in rows] == ["e1-7"]
    assert symmetric_diff_empty(
        table.lookup("c7"), table.read().filter(F.col("conv_id") == "c7"))
