"""Golden end-to-end replay equality (SURVEY §5.3) + idempotence/resume."""

from __future__ import annotations

import json
import os

import pandas as pd

from maestro_spark.gen import GenConfig, expected_final_state, generate, write_log
from maestro_spark.lake import LakeTable
from maestro_spark.ledger import Ledger
from maestro_spark.lineage import read_lineage
from maestro_spark.replay import replay
from maestro_spark.verify import canonical, per_turn_text_equal, symmetric_diff_empty


def _final_pdf(table: LakeTable) -> pd.DataFrame:
    return (
        canonical(table.read())
        .toPandas()
        .reset_index(drop=True)
    )


def test_replay_matches_pandas_oracle(spark, tmp_path):
    cfg = GenConfig(seed=42, n_convs=80, segment_rows=400)
    log = generate(cfg)
    write_log(log, str(tmp_path / "log"), segment_rows=400)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8)

    n = replay(spark, str(tmp_path / "log"), table, query_id="t1")
    assert n == (len(log) + 399) // 400

    got = _final_pdf(table)
    exp = expected_final_state(log)
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "text", "role", "tool"]],
        exp[["conv_id", "turn_idx", "text", "role", "tool"]],
    )
    # and the spark-side invariant helpers agree
    exp_sdf = spark.createDataFrame(exp)
    assert per_turn_text_equal(table.read(), exp_sdf)


def test_replay_is_idempotent_and_resumable(spark, tmp_path):
    cfg = GenConfig(seed=7, n_convs=40, segment_rows=300)
    log = generate(cfg)
    write_log(log, str(tmp_path / "log"), segment_rows=300)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8)

    # apply first 2 epochs, then replay everything from scratch (epochs 0-1
    # must be skipped via the snapshot chain), then replay AGAIN (all skipped)
    replay(spark, str(tmp_path / "log"), table, query_id="t2", max_epochs=2)
    mid_snapshot = table.snapshot().snapshot_id
    replay(spark, str(tmp_path / "log"), table, query_id="t2")
    n3 = replay(spark, str(tmp_path / "log"), table, query_id="t2")
    assert n3 == 0
    assert table.snapshot().snapshot_id > mid_snapshot

    got = _final_pdf(table)
    exp = expected_final_state(log)
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "text"]], exp[["conv_id", "turn_idx", "text"]]
    )


def test_epoch_boundaries_dont_change_final_state(spark, tmp_path):
    """Max-LSN dominance: same log, different epoch chunking, same state."""
    cfg = GenConfig(seed=11, n_convs=30, segment_rows=200)
    log = generate(cfg)
    write_log(log, str(tmp_path / "log"), segment_rows=200)

    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), n_buckets=4)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), n_buckets=16)
    replay(spark, str(tmp_path / "log"), t_a, query_id="a", segments_per_epoch=1)
    replay(spark, str(tmp_path / "log"), t_b, query_id="b", segments_per_epoch=3)
    assert symmetric_diff_empty(t_a.read(), t_b.read())


def test_ledger_and_lineage_written(spark, tmp_path):
    cfg = GenConfig(seed=3, n_convs=20, segment_rows=500)
    log = generate(cfg)
    write_log(log, str(tmp_path / "log"), segment_rows=500)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="t4")

    entries = Ledger(table.root, "t4").entries()
    assert entries and entries[0]["snapshot_id"] >= 1
    assert entries[0]["offsets"]["segments"] == ["segment-00000.parquet"]

    lin = read_lineage(table).toPandas()
    assert len(lin) > 0
    assert set(lin["pk_bucket"]) <= set(range(4))
    assert (lin["rows"] > 0).all()
    assert (lin["lsn_max"] >= lin["lsn_min"]).all()


def test_time_travel_and_vacuum(spark, tmp_path):
    cfg = GenConfig(seed=5, n_convs=20, segment_rows=400)
    log = generate(cfg)
    write_log(log, str(tmp_path / "log"), segment_rows=400)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="t5", max_epochs=1)
    sid1 = table.snapshot().snapshot_id
    count1 = table.read().count()
    replay(spark, str(tmp_path / "log"), table, query_id="t5")
    # time travel: snapshot sid1 still reads the old state
    assert table.read(snapshot_id=sid1).count() == count1
    assert table.vacuum() == 0  # nothing orphaned in a clean run


def test_compaction_churn_matches_default_layout(spark, tmp_path):
    """Folds triggered mid-replay must not change visible content: a table
    churned by a fold every 2 deltas per bucket reads the same as a replay
    of the same log under the default maxDeltas, and both match the
    oracle."""
    cfg = GenConfig(seed=11, n_convs=40, segment_rows=300)
    log = generate(cfg)
    write_log(log, str(tmp_path / "log"), segment_rows=300)

    churned = LakeTable.create(spark, str(tmp_path / "lake_churned"), n_buckets=4)
    # force compaction churn: every 2 deltas per bucket triggers a fold
    spark.conf.set("maestro.compact.maxDeltas", "2")
    try:
        replay(spark, str(tmp_path / "log"), churned, query_id="m")
    finally:
        spark.conf.unset("maestro.compact.maxDeltas")
    assert any(
        s.stats.get("maintenance") == "compact-tiered"
        for s in (churned.snapshot(i) for i in churned.snapshot_ids())
    )

    default = LakeTable.create(spark, str(tmp_path / "lake_default"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), default, query_id="d")

    assert symmetric_diff_empty(churned.read(), default.read())
    exp = expected_final_state(log)
    assert per_turn_text_equal(churned.read(), spark.createDataFrame(exp))


def test_distributed_generator_replay(spark, tmp_path):
    """write_log_distributed shards must be deterministic, disjoint by
    conv_id, and replay to the same state as the pandas oracle."""
    from maestro_spark.gen import expected_final_state_from_dir, write_log_distributed

    cfg = GenConfig(seed=7, n_convs=30, segment_rows=300)
    n1 = write_log_distributed(spark, cfg, str(tmp_path / "log1"), n_shards=3)
    n2 = write_log_distributed(spark, cfg, str(tmp_path / "log2"), n_shards=3)
    assert n1 == n2 > 0
    import filecmp, os
    same = all(
        filecmp.cmp(tmp_path / "log1" / f, tmp_path / "log2" / f, shallow=False)
        for f in os.listdir(tmp_path / "log1")
    )
    assert same  # byte-identical across runs: pure function of (cfg, shards)

    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log1"), table, query_id="d", segments_per_epoch=3)
    got = _final_pdf(table)
    exp = expected_final_state_from_dir(str(tmp_path / "log1"))
    assert len(got) == len(exp)
    assert (got["text"].values == exp["text"].values).all()
    assert (got["conv_id"].values == exp["conv_id"].values).all()


def test_mor_scan_matches_shuffle_resolve(spark, tmp_path):
    """The bucket-local mor_scan resolution of a delta-bearing, schema-
    evolving table must equal the pandas oracle over the same log, and its
    read plan must contain no Exchange."""
    from maestro_spark.gen import expected_final_state_from_dir

    cfg = GenConfig(seed=13, n_convs=30, segment_rows=250, evolution_at=0.5)
    log = generate(cfg)
    write_log(log, str(tmp_path / "log"), segment_rows=250)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="m")
    assert any(len(ps) > 1 for ps in table.snapshot().files.values())

    from pyspark.sql import functions as F

    local = table.read_resolved()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    got = (
        local.filter(~F.col("_deleted"))
        .select(*cols, F.to_json("metadata").alias("metadata"))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = expected_final_state_from_dir(str(tmp_path / "log"))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got[cols], exp[cols], check_dtype=False)
    # evolved map column: null before the evolution point, then the value
    exp_meta = [None if m is None else dict(m) for m in exp["metadata"]]
    got_meta = [None if m is None else json.loads(m) for m in got["metadata"]]
    assert got_meta == exp_meta
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
