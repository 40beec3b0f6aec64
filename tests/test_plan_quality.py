"""Plan-quality gates: the physical plans the docstrings promise, asserted.

A correctness-green query with the wrong plan is a 100 TB failure waiting —
these tests pin the load-bearing optimizer properties (pushdown, pruning,
broadcast, partial aggregation, top-k) so a refactor that silently
de-optimizes a query fails CI, not the cluster.
"""

from __future__ import annotations

import maestro_spark.queries2  # noqa: F401  (registers parts 2+3)
from maestro_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (
        QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )


def test_filter_is_pushed_to_scan(spark):
    plan = _plan(spark, "q_filter")
    assert "PushedFilters: [" in plan
    # at least one concrete predicate made it into the scan, not a bare []
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), plan


def test_projection_prunes_scan_schema(spark):
    plan = _plan(spark, "q_project")
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "props" not in read, read  # unused wide column never read


def test_small_dim_join_broadcasts(spark):
    assert "BroadcastHashJoin" in _plan(spark, "q_join_bcast")


def test_hash_sample_is_scan_stage_only(spark):
    plan = _plan(spark, "q_sample_hash")
    assert "Exchange" not in plan, plan  # pure narrow filter: zero shuffles


def test_topk_uses_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "q_topk")


def test_agg_has_mapside_partial(spark):
    # partial + final HashAggregate pair = map-side combine before exchange
    plan = _plan(spark, "q_agg_basic")
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan, plan  # map-side combine before the exchange


def test_merge_winners_plan_single_exchange(spark):
    """The CDC merge's dedup aggregation (merge.epoch_winners: the epoch
    exchange, then the shared dedup_max_lsn winner rule) must hit exactly
    ONE exchange keyed by the bucket columns — the engine's core scale
    claim (SURVEY §2.K5)."""
    from maestro_spark.merge import epoch_winners

    rows = [
        (i * 10 + j, "upsert", f"conv_{i:03d}", j, "user", f"text {i} {j}")
        for i in range(30)
        for j in range(4)
    ]
    ev = spark.createDataFrame(
        rows, ["op_lsn", "op", "conv_id", "turn_idx", "role", "text"]
    )
    for spread in (1, 4):
        winners = epoch_winners(ev, n_buckets=8, spread=spread, partitions=8)
        plan = winners._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "max_by" in plan, plan


def test_merge_into_compiles_to_single_join(spark, tmp_path):
    """MERGE INTO's single-pass claim (M37): however many WHEN clauses are
    chained, the optimized plan holds exactly ONE source⋈target join and
    two scans — clause resolution is pure projection (chained when()), not
    per-clause re-joins."""
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.dml import MergeInto
    from maestro_spark.lake import LakeTable
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, str(tmp_path / "mlake"), n_buckets=2)
    merge_batch(t, spark.createDataFrame(
        [(5, "insert", "A", 0, "user", "a0", None, dt.datetime(2025, 1, 1))],
        S.CHANGE_EVENT_SCHEMA), "seed", 0)
    src = spark.createDataFrame(
        [("A", 0, "x")], "conv_id string, turn_idx int, note string")
    batch = (
        MergeInto(t, src)
        .when_matched_delete(condition="s.note = 'gone'")
        .when_matched_update(set={"text": "s.note"})
        .when_not_matched_insert(values={"text": "s.note"})
        ._build(99)
    )
    plan = batch._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join ") == 1, plan


def test_neardup_miners_refine_before_dedup_exchange(spark):
    """The banded near-dup miners must refine INSIDE the join stage so only
    surviving pairs reach the pair-dedup exchange (Catalyst cannot push a
    filter below dropDuplicates' first() aggregates — the pre-r5 shape
    shuffled every band collision, 236k rows vs ~0.5k survivors at sf0.1;
    minhash additionally shipped both k-long signatures through it)."""
    # simhash: the hamming predicate must sit BELOW the exchange
    plan = _plan(spark, "q_simhash")
    assert "bit_count" in plan, plan
    exch = plan.index("Exchange")
    assert "bit_count" in plan[exch:], plan  # refine inside the join stage
    assert "first(" not in plan, plan  # distinct over slim rows, no first()

    # minhash: the dedup exchange must carry no signature arrays
    plan = _plan(spark, "q_minhash_lsh")
    assert "first(" not in plan, plan
    for line in plan.splitlines():
        if line.strip().startswith("+- Exchange hashpartitioning"):
            assert "sig" not in line, line


def test_debezium_decode_stays_jvm_side(spark):
    """from_debezium is one from_json + codegen projection — the decode of
    the real-world wire format must never fall off the JVM fast path into
    a Python row UDF (q_debezium covers 2500+ envelopes)."""
    plan = _plan(spark, "q_debezium")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan
    assert "from_json" in plan.lower() or "jsontostructs" in plan.lower(), plan
