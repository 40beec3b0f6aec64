"""Key-partitioned MERGE — dedup + upsert in ONE shuffle (SURVEY §2.K2-K7).

The merge is *not* a join; both write modes reduce to max-LSN dedup:

**merge-on-read (default, ``maestro.merge.mode=mor``)** — the scale path.
Each epoch writes ONLY the batch's per-key winners as new *delta* files
appended to their buckets; the current table is never read or rewritten.
Resolution happens at read time (``LakeTable.read_resolved``: ``max_by``
over ``_lsn`` across a bucket's base+delta files), and compaction
(LSM-style, triggered at ``maestro.compact.maxDeltas`` files per bucket)
folds deltas back into one resolved file per bucket. Per-epoch write volume
is O(batch), not O(table) — at 10^10 events a copy-on-write epoch would
rewrite the whole table every microbatch, which is the difference between a
viable 1000-executor ingest and an I/O-bound one. This is the same
base+delta design as Hudi MOR / Iceberg v2 row-level deletes, built from
scratch per the north rule.

**copy-on-write (``maestro.merge.mode=cow``)** — read-optimized mode.
Current bucket contents are re-expressed as pseudo-events (``op_lsn =
_lsn``, ``op = delete if tombstone else insert``) and unioned with the
batch; max-LSN dedup over the union IS the merge:

    winners(union(current_as_events, batch)) == new bucket content

Both collapse SURVEY's K2 (dedup), K5 (apply) and cross-epoch LSN dominance
into a single ``groupBy(...).agg(max_by(...))`` with map-side partial
aggregation — correct by induction on epochs, and exactly one hash exchange
per epoch.

Shuffle/partitioning strategy (explicit, per north_rule):
- the event set is repartitioned on ``(pk_bucket, turn_idx % spread)`` —
  bucket-aligned so the subsequent ``write.partitionBy(pk_bucket)`` needs no
  second shuffle; `spread` fans a hot conversation out across tasks (skew
  salting that never touches the dedup key, SURVEY M5) and is sized from the
  planning pass (rows per changed bucket) so cold epochs write exactly one
  file per bucket; the exchange has an explicit
  ``min(shuffle partitions, buckets × spread)`` partitions, so even a small
  epoch writes its bucket files on every core;
- ``groupBy(pk_bucket, _spread, conv_id, turn_idx)`` — adding the
  functionally-dependent columns to the keys lets Catalyst prove the existing
  partitioning satisfies the aggregation's ClusteredDistribution: no second
  exchange.

Exactly-once: the epoch key is checked against the snapshot chain before any
work; the snapshot publish (hard-link CAS) is the commit point; the ledger is
written after. Re-delivery at any crash point either finds the epoch key and
skips, or redoes work whose output is invisible (unreferenced data files).
Compaction commits are content-preserving maintenance snapshots (no epoch
key), so a crash between a merge commit and its triggered compaction loses
nothing — the next epoch re-triggers it.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maestro_spark import schema as S
from maestro_spark.lake import CommitConflict, LakeTable, Snapshot, bucket_expr
from maestro_spark.ledger import Ledger
from maestro_spark.lineage import append_lineage


def plan_changed_buckets(batch: DataFrame, n_buckets: int) -> list[int]:
    """K4: the copy-on-write unit set — distinct buckets touched by the batch.

    Collects at most ``n_buckets`` ints (bounded by bucket count, not data),
    so this stays driver-cheap at any scale.
    """
    rows = batch.select(bucket_expr("conv_id", n_buckets).alias("b")).distinct().collect()
    return sorted(r["b"] for r in rows)


def _as_pseudo_events(current: DataFrame) -> DataFrame:
    """Current table rows -> change events that 'recreate' them (K5 core)."""
    return (
        current.withColumn(
            "op", F.when(F.col(S.DELETED_COL), F.lit("delete")).otherwise(F.lit("insert"))
        )
        .withColumn("op_lsn", F.col(S.LSN_COL))
        .drop(S.LSN_COL, S.DELETED_COL)
    )


def merge_batch(
    table: LakeTable,
    batch: DataFrame,
    query_id: str = "replay",
    epoch_id: int = 0,
    offsets: dict | None = None,
    fence_lsn: int | None = None,
    base_snapshot: int | None = None,
    extra_stats: dict | None = None,
) -> Snapshot | None:
    """Apply one epoch's change events to the table (K2+K4+K5+K6+K7+K8).

    Returns the committed Snapshot, or None when the epoch was already
    committed (idempotent re-delivery).

    ``fence_lsn`` / ``base_snapshot``: the DML path plans its statement LSN
    from a snapshot read; passing both makes the commit raise
    :class:`CommitConflict` if any snapshot committed after ``base_snapshot``
    applied an LSN at or above the fence — the statement then re-acquires a
    fresh LSN instead of landing an LSN tie (one-LSN-one-payload invariant).

    ``extra_stats``: caller-owned keys merged into the committed snapshot's
    persisted stats (e.g. COPY INTO's loaded file tags) — rides the commit
    itself, so it is visible even when a crash loses the ledger record.
    """
    epoch_key = f"{query_id}:{epoch_id}"
    ledger = Ledger(table.root, query_id)
    if ledger.committed(epoch_id) or epoch_key in table.committed_epoch_keys():
        return None
    t0 = time.time()
    parent = table.snapshot()
    n_buckets = parent.n_buckets

    # K6 schema evolution: merged payload schema, validated widenings only
    batch_payload = T.StructType(
        [f for f in batch.schema.fields if f.name not in ("op", "op_lsn")]
    )
    merged_payload = S.merge_schemas(parent.payload_schema(), batch_payload)
    # a NEW column whose name collides with an occupied/retired PHYSICAL
    # name (e.g. the upstream still sends a renamed column's old name, or
    # re-sends a dropped one) gets a fresh physical alias BEFORE any file is
    # written — old files can then never leak stale bytes into it
    merged_payload = S.assign_physical(
        merged_payload, parent.payload_schema(), parent.dropped
    )
    full_schema = T.StructType([*merged_payload.fields, *S.INTERNAL_FIELDS])
    event_schema = T.StructType(
        [
            T.StructField("op_lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            *merged_payload.fields,
        ]
    )

    # Planning (K4) + I6 input metrics: rows_in, late-event count (events
    # older than the ledger watermark are never dropped — LSN dominance
    # applies regardless of event time — but they ARE counted so lineage
    # exposes lateness), and the new watermark (max event ts) for the ledger.
    #
    # COW must know the changed-bucket set BEFORE the job (it decides which
    # current files to fold in), so it pays a separate planning scan of the
    # batch. MOR needs nothing before the job — all planning metrics ride the
    # single write job as Observations, so each epoch scans the batch exactly
    # once regardless of scale.
    prev_wm = ledger.last_watermark()
    mode = table.spark.conf.get("maestro.merge.mode", "mor")
    has_ts = "ts" in batch.columns
    late_expr = (
        (F.col("ts") < F.lit(prev_wm).cast("timestamp_ntz")).cast("long")
        if (prev_wm is not None and has_ts)
        else F.lit(0).cast("long")
    )
    ts_expr = F.col("ts") if has_ts else F.lit(None).cast("timestamp_ntz")
    # Dead-letter channel (B4 wired into the sink): events that cannot merge
    # (null key / null LSN / unknown op) are counted on the SAME pass as the
    # other planning metrics (zero extra jobs when the batch is clean),
    # excluded from the merge, and — only when any exist — written to
    # <root>/_quarantine/<query_id>/epoch=<id>/ with a _reason column BEFORE
    # the commit (overwrite mode, so a crash-retry of the epoch rewrites the
    # same rows: the DLQ is exactly-once alongside the table).
    reason = quarantine_reason(table, batch_cols=batch.columns)
    in_aggs = [
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(late_expr).alias("late_events"),
        F.max(ts_expr).alias("max_ts"),
        F.sum(reason.isNotNull().cast("long")).alias("invalid_events"),
    ]

    t_plan0 = time.time()
    changed: list[int] | None  # None = unknown until the job runs (MOR)
    obs_in: Observation | None = None
    invalid_events = 0
    raw_batch = batch  # pre-observe handle: the quarantine write (rare path)
    # re-executes the batch plan, which must NOT carry the Observation node
    if mode == "cow":
        plan_row = batch.agg(
            F.collect_set(bucket_expr("conv_id", n_buckets)).alias("buckets"), *in_aggs
        ).head()
        changed = sorted(plan_row["buckets"])
        rows_in, late_events, max_ts, invalid_events = (
            plan_row["rows_in"], plan_row["late_events"], plan_row["max_ts"],
            plan_row["invalid_events"] or 0,
        )
    else:
        changed = None
        obs_in = Observation(f"epoch-{epoch_id}-in")
        batch = batch.observe(obs_in, *in_aggs)
    t_plan = time.time() - t_plan0
    batch = batch.filter(reason.isNull())

    bat_ev = S.conform(batch, event_schema).withColumn("_prio", F.lit(0))
    if mode == "cow" and changed:
        # read-optimized mode: fold current state in and rewrite the buckets
        current = table.read_raw(changed)
        cur_ev = S.conform(_as_pseudo_events(current), event_schema).withColumn(
            "_prio", F.lit(1)  # current state wins an LSN tie vs re-delivered event
        )
        unioned = cur_ev.unionByName(bat_ev)
    else:
        # merge-on-read: deltas only — the current table is never touched
        unioned = bat_ev

    # Partition the ONE exchange by (pk_bucket, turn_idx % spread):
    # - bucket-aligned, so write.partitionBy(pk_bucket) needs no 2nd shuffle;
    # - a hot conversation spreads over `spread` tasks (skew, north_rule) —
    #   the salt is derived from turn_idx, i.e. *inside* the dedup key, so
    #   grouping correctness is untouched;
    # - spread is sized from the planning pass: rows per changed bucket over
    #   the per-task row target. Cold epochs get spread=1 → exactly one file
    #   per bucket per epoch (small-file pressure is what kills MOR reads);
    #   a skewed epoch fans hot buckets out instead of pinning one task;
    # - the partition count is explicit, min(shuffle partitions, buckets x
    #   spread), so AQE cannot coalesce a small epoch into ONE writing task
    #   that writes every bucket file in turn: the write spreads over every
    #   core, while each (pk_bucket, _spread) still lands in one partition.
    rows_per_task = int(table.spark.conf.get("maestro.merge.rowsPerTask", "1000000"))
    max_spread = int(table.spark.conf.get("maestro.merge.spread", "4"))
    if mode == "cow":
        est_rows, est_buckets = rows_in, max(1, len(changed or []))
    else:
        # MOR sizes the fan-out from the previous epoch's observed input —
        # steady streams are stable epoch-to-epoch, and a wrong guess only
        # changes file fan-out, never correctness. The parent may be a
        # maintenance (compaction) snapshot whose stats carry no input
        # metrics, so walk back (bounded) to the most recent epoch commit.
        p = parent
        for _ in range(8):
            if "rows_in" in p.stats or p.parent_id is None:
                break
            try:
                p = table.snapshot(p.parent_id)
            except FileNotFoundError:  # expired ancestor: estimate from here
                break
        est_rows = p.stats.get("rows_in") or 0
        est_buckets = max(1, p.stats.get("changed_buckets") or n_buckets)
    spread = max(1, min(max_spread, int(est_rows / est_buckets // rows_per_task) + 1))
    ev = (
        unioned.withColumn("pk_bucket", bucket_expr("conv_id", n_buckets))
        .withColumn("_spread", F.pmod(F.col("turn_idx"), F.lit(spread)))
        .repartition(
            min(int(table.spark.conf.get("spark.sql.shuffle.partitions")),
                n_buckets * spread),
            "pk_bucket", "_spread",
        )
    )
    keys = ["pk_bucket", "_spread", "conv_id", "turn_idx"]
    rest = [c for c in ev.columns if c not in keys]
    winners = (
        ev.groupBy(*keys)
        .agg(F.max_by(F.struct(*rest), F.struct(F.col("op_lsn"), F.col("_prio"))).alias("_w"))
        .select("pk_bucket", "conv_id", "turn_idx", "_w.*")
    )
    result = (
        winners.withColumn(S.LSN_COL, F.col("op_lsn"))
        .withColumn(S.DELETED_COL, F.col("op") == F.lit("delete"))
        .drop("op", "op_lsn", "_prio")
    )
    obs = Observation(f"epoch-{epoch_id}")
    result = result.observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col(S.DELETED_COL).cast("long")).alias("tombstones_out"),
        F.max(S.LSN_COL).alias("max_lsn"),
        F.collect_set("pk_bucket").alias("buckets"),
    )

    cols = ["pk_bucket"] + [f.name for f in full_schema.fields]
    run_job = changed is None or bool(changed)  # COW skips the job on an empty batch
    t_write0 = time.time()
    new_files = (
        table.write_bucket_files(result.select(*cols), schema=full_schema)
        if run_job
        else {}
    )
    t_write = time.time() - t_write0
    if run_job:
        try:
            metrics = dict(obs.get)
            changed = sorted(metrics.pop("buckets"))
        except Exception:
            # Degenerate plan: when Catalyst can statically prove the merge
            # input empty (e.g. a LOCAL-relation batch whose every row is
            # quarantined), the optimizer collapses the observed subtree and
            # CollectMetrics never executes — Observation.get then asserts.
            # File-backed epochs (the real path) always execute tasks, so
            # this fallback only ever pays on tiny driver-local batches.
            metrics = {"rows_out": 0, "tombstones_out": 0, "max_lsn": None}
            changed = []
    else:
        metrics = {"rows_out": 0, "tombstones_out": 0, "max_lsn": None}
    if obs_in is not None:  # MOR: planning metrics observed on the same job
        try:
            row = dict(obs_in.get)
        except Exception:  # same degenerate-plan case: recount directly
            row = raw_batch.agg(*in_aggs).head().asDict()
        rows_in, late_events, max_ts = row["rows_in"], row["late_events"], row["max_ts"]
        invalid_events = row["invalid_events"] or 0
    if invalid_events:
        import os as _os

        qdir = _os.path.join(table.root, "_quarantine", query_id, f"epoch={epoch_id}")
        (
            raw_batch.withColumn("_reason", reason)
            .filter(F.col("_reason").isNotNull())
            .write.mode("overwrite")
            .parquet(qdir)
        )
    watermark = max_ts
    if prev_wm is not None and (watermark is None or str(watermark) < prev_wm):
        watermark = prev_wm  # ledger watermark is monotone
    wall = time.time() - t0
    stats = {
        **metrics,
        "rows_in": rows_in,
        "late_events": late_events or 0,
        "invalid_events": int(invalid_events),
        "mode": mode,
        "changed_buckets": len(changed),
        "wall_s": round(wall, 3),
        "plan_s": round(t_plan, 3),
        "write_s": round(t_write, 3),
        **(extra_stats or {}),
    }

    snap = table.commit(  # commit point
        new_files, epoch_key, schema=full_schema, stats=stats,
        append=(mode != "cow"),
        # the planning window starts where the caller's plan read happened
        # (DML passes its LSN-acquisition snapshot); by default at this
        # epoch's own parent read above — either way a rebucket/rollback
        # landing while the job ran is validated, not raced past
        base=base_snapshot if base_snapshot is not None else parent.snapshot_id,
        check_lsn=fence_lsn,
    )
    # lineage BEFORE the ledger record so its timing lands in the persisted
    # stats (a crash between commit and ledger is already covered: the
    # snapshot chain is the authoritative idempotence index)
    t_lin0 = time.time()
    append_lineage(table, snap, epoch_id, query_id, new_files, wall)
    stats["lineage_s"] = round(time.time() - t_lin0, 3)
    ledger.record(
        epoch_id,
        snap.snapshot_id,
        offsets=offsets,
        watermark=str(watermark) if watermark is not None else None,
        stats=stats,
    )

    # LSM levelling: fold delta-heavy buckets. Default policy is SIZE-TIERED
    # (compact_tiered): work per trigger is O(delta-tier bytes), settled base
    # files are never rewritten on cadence, so amortized compaction cost is
    # O(log) rewrites per byte instead of one full-bucket rewrite per
    # maxDeltas epochs — the r2 epoch-size sweep's measured scale-killer.
    # maestro.compact.policy=full restores the full-bucket fold (which also
    # GC's nothing here; horizon GC is an explicit compact() call).
    # Timing is recorded in the compaction snapshot's own stats (this epoch's
    # ledger entry is already durable).
    max_deltas = int(table.spark.conf.get("maestro.compact.maxDeltas", "8"))
    if mode != "cow" and max_deltas > 0:
        due = table.delta_buckets(max_deltas)
        if due:
            try:
                if table.spark.conf.get("maestro.compact.policy", "tiered") == "tiered":
                    table.compact_tiered(due)
                else:
                    table.compact(due)
            except CommitConflict:
                # multi-writer: a concurrent commit rewrote one of the due
                # buckets while compaction ran — the EPOCH is already
                # committed, so losing this maintenance pass costs nothing;
                # the next epoch re-triggers it against the new state
                pass
    return snap


def quarantine_reason(
    table: LakeTable | None = None, batch_cols: list[str] | None = None
) -> F.Column:
    """NULL for a mergeable event, else the first matching defect label.
    An event missing its key, its LSN, or carrying an unknown op cannot
    participate in max-LSN resolution — it is routed to the dead-letter
    directory instead of corrupting the table or crashing the tail.

    With a ``table``, the table's CHECK constraints (M42) chain on after
    the structural defects: a non-delete event whose expression is FALSE
    dead-letters as ``constraint:<name>``. SQL CHECK semantics — NULL
    passes; a constraint whose referenced columns are absent from THIS
    batch's schema evaluates to unknown and passes (schema-evolving
    upstreams must not wedge the stream on a column they don't send yet).
    """
    out = (
        F.when(F.col("conv_id").isNull(), F.lit("null_conv_id"))
        .when(F.col("turn_idx").isNull(), F.lit("null_turn_idx"))
        .when(F.col("op_lsn").isNull(), F.lit("null_op_lsn"))
        .when(
            # 'upsert' is the change-feed consumer dialect (stream_replicate
            # merges feed rows verbatim) — first-class, not a defect
            ~F.col("op").isin("insert", "update", "upsert", "delete"),
            F.lit("bad_op"),
        )
    )
    if table is not None:
        import re as _re

        have = set(batch_cols or [])
        table_cols = {f.name for f in table.snapshot().payload_schema().fields}
        for name, expr in sorted(table.constraints().items()):
            # detect referenced columns OUTSIDE string literals: a literal
            # like role IN ('user','tool') must not count as a reference to
            # a column named 'tool' — that would silently skip the
            # constraint on every batch lacking that column (r4 ADVICE)
            no_lits = _re.sub(r"'(?:[^']|'')*'", "''", expr)
            refs = {
                w for w in _re.findall(r"[A-Za-z_][A-Za-z0-9_]*", no_lits)
                if w in table_cols
            }
            if batch_cols is not None and not refs <= have:
                continue  # absent column -> unknown -> passes
            out = out.when(
                (F.col("op") != "delete")
                & ~F.coalesce(F.expr(expr), F.lit(True)),
                F.lit(f"constraint:{name}"),
            )
    return out


def read_quarantine(table: LakeTable, query_id: str) -> DataFrame | None:
    """All dead-lettered events of a query (with ``_reason`` and the hive
    ``epoch`` partition column), or None when the DLQ is empty. Repair flow:
    fix the rows, re-merge them under a NEW epoch id — LSN dominance makes
    the late application order-safe."""
    import os as _os

    qdir = _os.path.join(table.root, "_quarantine", query_id)
    if not _os.path.isdir(qdir):
        return None
    return table.spark.read.option("basePath", qdir).parquet(qdir)


def file_stats(table: LakeTable, rel_path: str) -> dict:
    """Per-file stats for lineage, served from the zone-map store the write
    path populated (maestro_spark.filestats) — the footer is read at most
    once per file per process, and normally zero times here because
    write_bucket_files already harvested it."""
    return table.file_stats.get_or_read(rel_path)
