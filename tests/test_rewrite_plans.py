"""Every bucket rewrite (``compact``, clustered ``compact``,
``compact_tiered``, ``purge`` and the erase-drop of ``ddl.drop_column``)
folds its buckets through ``mor_scan``, whose tasks each hold whole buckets,
so the DataFrame handed to ``write_bucket_files`` plans no exchange and a
rewritten bucket comes out as one file. Content is unchanged (or, for
``purge``, exactly the purged key's rows are gone)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from maestro_spark import ddl
from maestro_spark import schema as S
from maestro_spark.gen import GenConfig, generate, write_log
from maestro_spark.lake import LakeTable
from maestro_spark.replay import replay
from maestro_spark.verify import symmetric_diff_empty


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A 4-bucket table whose every bucket holds several delta files."""
    d = tmp_path_factory.mktemp("rewrites")
    log = generate(GenConfig(seed=23, n_convs=40, segment_rows=150))
    write_log(log, str(d / "log"), segment_rows=150)
    t = LakeTable.create(spark, str(d / "base"), n_buckets=4)
    spark.conf.set("maestro.compact.maxDeltas", "100")  # keep every delta
    try:
        replay(spark, str(d / "log"), t, query_id="rw")
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")
    assert all(len(ps) >= 3 for ps in t.snapshot().files.values())
    return t


@pytest.fixture()
def writes(monkeypatch):
    """(executed plan of each DataFrame written, bucket -> new files)."""
    seen: list[tuple[str, dict[str, list[str]]]] = []
    real = LakeTable.write_bucket_files

    def spy(self, df, *a, **kw):
        plan = df._jdf.queryExecution().executedPlan().toString()
        out = real(self, df, *a, **kw)
        seen.append((plan, out))
        return out

    monkeypatch.setattr(LakeTable, "write_bucket_files", spy)
    return seen


def _no_exchange(seen, one_file_per_bucket=True):
    assert len(seen) == 1
    plan, files = seen[0]
    assert "Exchange" not in plan, plan
    assert files
    if one_file_per_bucket:
        assert all(len(ps) == 1 for ps in files.values()), files


@pytest.mark.parametrize(
    "name", ["compact", "compact_clustered", "compact_tiered", "purge", "erase_drop"]
)
def test_bucket_rewrite_plans_no_exchange(spark, base, writes, tmp_path, name):
    t = base.clone(str(tmp_path / name))
    before = t.read()  # pinned to the pre-rewrite files
    victim = before.select("conv_id").first()["conv_id"]
    if name == "compact":
        t.compact()
    elif name == "compact_clustered":
        t.compact(cluster_by=["ts"], target_file_rows=20)
    elif name == "compact_tiered":
        assert t.compact_tiered() is not None
    elif name == "purge":
        t.purge(victim)
    else:
        ddl.drop_column(t, "tool", erase=True)
    _no_exchange(writes, one_file_per_bucket=name != "compact_clustered")
    if name == "compact_clustered":
        assert any(len(ps) > 1 for ps in writes[0][1].values())
    expected = before
    if name == "purge":
        expected = before.filter(F.col("conv_id") != victim)
        gone = t.read_resolved().filter(F.col("conv_id") == victim).collect()
        assert gone and all(r[S.DELETED_COL] and r["text"] is None for r in gone)
    elif name == "erase_drop":
        expected = before.drop("tool")
        for ps in t.snapshot().files.values():
            assert "tool" not in pq.read_schema(os.path.join(t.root, ps[0])).names
    assert symmetric_diff_empty(t.read(), expected)
