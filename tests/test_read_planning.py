"""Table reads plan from the manifest alone: building the DataFrame of a
table-wide read starts no Spark job. Above Spark's default listing threshold
(32 paths) ``InMemoryFileIndex`` stats the manifest's files in a distributed
job with one task per path; the engine's session keeps that listing on the
driver, so the only job of a read is its own action."""

from __future__ import annotations

import pytest

from maestro_spark.gen import GenConfig, expected_final_state, generate, write_log
from maestro_spark.lake import LakeTable
from maestro_spark.replay import replay

TAIL_ROWS = 12  # the last epoch touches at most this many buckets


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """64 buckets: one big epoch writes a file into every bucket, then a
    small one adds a second file to a few, so the table has many
    single-file buckets (plain parquet scan) and some multi-file ones
    (mor_scan)."""
    d = tmp_path_factory.mktemp("read_planning")
    log = generate(GenConfig(seed=73, n_convs=300, segment_rows=100_000))
    write_log(log, str(d / "log"), segment_rows=len(log) - TAIL_ROWS)
    t = LakeTable.create(spark, str(d / "lake"), n_buckets=64)
    assert replay(spark, str(d / "log"), t, query_id="plan") == 2
    sizes = [len(ps) for ps in t.snapshot().files.values()]
    assert len(sizes) == 64
    assert sum(n == 1 for n in sizes) >= 33 and max(sizes) > 1
    return t, log


READS = {
    "read": lambda t: t.read(),
    "read_raw": lambda t: t.read_raw(),
    "read_where": lambda t: t.read_where("turn_idx", 0, 5),
    "changes": lambda t: t.changes(0),
    "changes_all": lambda t: t.changes(0, collapse=False),
}


@pytest.mark.parametrize("name", sorted(READS))
def test_read_plans_without_a_job(spark, table, name):
    t, _ = table
    sc = spark.sparkContext
    group = f"plan-{name}"
    sc.setJobGroup(group, f"plan {name}")
    try:
        df = READS[name](t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert df.count() > 0


def test_read_matches_oracle(table):
    t, log = table
    got = t.read().orderBy("conv_id", "turn_idx").toPandas()
    exp = expected_final_state(log)
    assert len(got) == len(exp)
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (got["turn_idx"].values == exp["turn_idx"].values).all()
    assert (got["text"].values == exp["text"].values).all()
