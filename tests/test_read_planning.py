"""Table reads plan from the manifest alone: building the DataFrame of a
table-wide read starts no Spark job. Above Spark's default listing threshold
(32 paths) ``InMemoryFileIndex`` stats the manifest's files in a distributed
job with one task per path; the engine's session keeps that listing on the
driver, so the only job of a read is its own action.

Every resolving read (``read``, ``lookup``, ``read_where``, ``changes``)
resolves bucket-locally — a single-file bucket is a plain scan, a
multi-file one goes through ``mor_scan`` — so none of them plans an
exchange, and each finds the table's current snapshot once."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from maestro_spark import schema as S
from maestro_spark.gen import GenConfig, expected_final_state, generate, write_log
from maestro_spark.lake import LakeTable
from maestro_spark.replay import replay
from maestro_spark.verify import symmetric_diff_empty

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


def _multi_file_key(t: LakeTable) -> str:
    """A conversation of a multi-file bucket that the last epoch touched,
    read from the bucket's newest file with pyarrow (no Spark job)."""
    ps = next(ps for ps in t.snapshot().files.values() if len(ps) > 1)
    path = os.path.join(t.root, ps[-1])
    return pq.read_table(path, columns=["conv_id"])["conv_id"][0].as_py()


READS = {
    "read": lambda t: t.read(),
    "lookup": lambda t: t.lookup(_multi_file_key(t)),
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


def _changes_reference(t: LakeTable):
    """``read_resolved`` in the change feed's shape: from the empty first
    snapshot, the net change of every key is its current winner."""
    payload = [f.name for f in t.snapshot().payload_schema().fields]
    return t.read_resolved().select(
        *payload,
        F.when(F.col(S.DELETED_COL), "delete").otherwise("upsert").alias("op"),
        F.col(S.LSN_COL).alias("lsn"),
    )


RESOLVED = {
    "lookup": (
        lambda t, k: t.lookup(k),
        lambda t, k: t.read().filter(F.col("conv_id") == k),
    ),
    "read_where": (
        lambda t, k: t.read_where("turn_idx", 0, 5),
        lambda t, k: t.read().filter(F.col("turn_idx").between(0, 5)),
    ),
    "changes": (lambda t, k: t.changes(0), lambda t, k: _changes_reference(t)),
}


@pytest.mark.parametrize("name", sorted(RESOLVED))
def test_resolving_reads_plan_no_exchange(table, name):
    t, _ = table
    key = _multi_file_key(t)
    got_fn, want_fn = RESOLVED[name]
    got = got_fn(t, key)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    want = want_fn(t, key)
    assert got.count() > 0
    assert symmetric_diff_empty(got, want)


@pytest.mark.parametrize(
    "read",
    [
        lambda t, k: t.read(),
        lambda t, k: t.lookup(k),
        lambda t, k: t.read_where("turn_idx", 0, 5),
    ],
    ids=["read", "lookup", "read_where"],
)
def test_read_finds_the_current_snapshot_once(table, monkeypatch, read):
    """A read plans from ONE snapshot: finding the tip twice lets a commit
    in between (say a column drop) split the plan across two schemas."""
    t, _ = table
    key = _multi_file_key(t)
    calls = []
    real = LakeTable.snapshot_ids

    def spy(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(LakeTable, "snapshot_ids", spy)
    read(t, key)
    assert len(calls) == 1
