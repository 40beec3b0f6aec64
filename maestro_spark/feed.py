"""Streaming change-feed source: tail a LakeTable's committed snapshots.

``spark.readStream.format("table_changes").option("path", root).load()``
emits one row per change the table commits — payload columns plus
``op`` ('upsert'|'delete') and ``lsn`` — the streaming twin of
:meth:`LakeTable.changes` (the Delta-CDF / Iceberg-incremental-read shape).
Downstream consumers subscribe to the TABLE, not the upstream log: they
see exactly what was committed, after dedup/late-event resolution, with
offsets = snapshot ids checkpointed by Spark.

Semantics per microbatch: the union of data files the covered epochs
ADDED (manifest set-difference vs parent — zero data IO to plan). Under
merge-on-read an epoch's added files are precisely its batch winners, so
no cross-epoch resolution is needed in the source: a consumer applying
batches in order (or merging by max-LSN, as ``merge_batch`` does) always
converges. Maintenance snapshots (compaction / rebucket) are
content-preserving and contribute nothing. A rollback snapshot cannot be
expressed as added files — the reader RAISES, and the consumer re-syncs
from a full read (same contract as the batch feed).

Scale posture: planning is driver-side manifest JSON only; each data file
becomes one InputPartition, so a microbatch's read parallelism equals its
file count. Files are conformed (null-filled) Arrow-side to the schema
the stream STARTED with, so a feed spanning a schema evolution stays a
single well-typed stream; columns added mid-stream are picked up on
restart (the documented contract), never a mid-stream batch failure.

Admission control: ``maxSnapshotsPerTrigger`` bounds each microbatch to
at most that many source snapshots (the Delta ``maxFilesPerTrigger`` /
Kafka ``maxOffsetsPerTrigger`` analog — without it a subscriber started
from snapshot 0 on a long-lived table plans ONE catch-up batch covering
the entire history). Same contract as cdc_binlog's clamp (source.py:88):
the clamp lives in ``latestOffset`` — never in ``partitions`` — so Spark
only ever commits ranges that were fully read, and ``checkpointHint``
makes the clamp effective from the first trigger of a restarted query.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import partial
from types import SimpleNamespace

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType

from maestro_spark import schema as S
from maestro_spark.lake import SNAP_DIR, load_snapshot
from maestro_spark.plan import plan_groups

FORMAT_NAME = "table_changes"

# immutable-manifest cache shared by every reader in this process (the
# stream planner re-reads the same snapshots once per microbatch). Bounded:
# a long-running stream over a frequently-compacted table would otherwise
# accumulate every full-table manifest ever seen for the life of the driver
# — evict oldest-inserted once the cap is hit (manifests are immutable, so
# eviction only costs a re-read, never correctness).
_MANIFEST_CACHE: dict[str, dict] = {}
_MANIFEST_CACHE_MAX = 4096


def _snap(root: str, sid: int):
    snap = load_snapshot(root, sid, cache=_MANIFEST_CACHE)
    while len(_MANIFEST_CACHE) > _MANIFEST_CACHE_MAX:
        _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    return snap


def _current_sid(root: str) -> int:
    d = os.path.join(root, SNAP_DIR)
    sids = [
        int(f[2:-5]) for f in os.listdir(d) if f.startswith("s-") and f.endswith(".json")
    ]
    return max(sids, default=0)


def _full_schema(root: str) -> StructType:
    return StructType.fromJson(json.loads(_snap(root, _current_sid(root)).schema_json))


def feed_schema(root: str) -> StructType:
    """Payload columns + op + lsn (what subscribers see)."""
    from pyspark.sql.types import LongType, StringType, StructField

    internal = {S.LSN_COL, S.DELETED_COL}
    fields = [f for f in _full_schema(root).fields if f.name not in internal]
    return StructType(
        [*fields, StructField("op", StringType(), True), StructField("lsn", LongType(), True)]
    )


def _wal_offset(ckpt_dir: str | None) -> int | None:
    """Last planned feed offset from a Spark checkpoint's offset WAL
    (best-effort: None on any miss/parse failure)."""
    if not ckpt_dir:
        return None
    try:
        d = os.path.join(ckpt_dir, "offsets")
        batches = sorted((f for f in os.listdir(d) if f.isdigit()), key=int)
        if not batches:
            return None
        with open(os.path.join(d, batches[-1])) as fh:
            last = fh.read().strip().splitlines()[-1]
        obj = json.loads(last)
        if isinstance(obj, str):
            obj = json.loads(obj)
        return int(obj["snapshot"])
    except Exception:  # noqa: BLE001 — unparseable WAL: caller falls back
        return None


@dataclass
class FeedFilePartition(InputPartition):
    path: str = ""
    schema_json: str = ""


class TableChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self.root = options.get("path") or options.get("table")
        if not self.root:
            raise ValueError("table_changes requires option 'path' (the table root)")
        self.start_snapshot = int(options.get("startingsnapshot", 0))
        self.max_snapshots = int(options.get("maxsnapshotspertrigger", 0)) or None
        self.checkpoint_hint = options.get("checkpointhint")
        self._cursor: int | None = None  # last batch-end snapshot seen this run
        # Pin the conform target to the schema the stream STARTED with
        # (derived from the declared schema so the two can never diverge):
        # a schema-evolving commit mid-stream must degrade to "new columns
        # picked up on restart", not fail the microbatch with Arrow batches
        # wider than the declared schema.
        from pyspark.sql.types import BooleanType, LongType, StructField

        # Re-attach each payload field's logical->physical mapping from the
        # table's CURRENT snapshot schema (read from disk, not trusted to
        # survive Spark's declared-schema round trip): data files carry
        # stable PHYSICAL names across metadata-only renames, so the reader
        # must conform under physical names and surface logical ones.
        src = {f.name: f for f in _full_schema(self.root).fields}
        payload = [
            StructField(
                f.name, f.dataType, True,
                (src[f.name].metadata or None) if f.name in src else None,
            )
            for f in schema.fields
            if f.name not in ("op", "lsn")
        ]
        self._pinned_full_json = StructType(
            [*payload,
             StructField(S.LSN_COL, LongType(), True),
             StructField(S.DELETED_COL, BooleanType(), True)]
        ).json()

    def _restore_cursor(self) -> int | None:
        """Best-effort restart cursor from Spark's offset WAL under the
        checkpoint dir (same recovery as cdc_binlog, source.py:60): makes
        ``maxSnapshotsPerTrigger`` bound the catch-up batch of a RESTARTED
        query too, instead of one unbounded first batch.

        Validated before use: the WAL's last line could belong to a DIFFERENT
        source (multi-source query) or a future layout — a restored cursor
        below ``startingSnapshot`` would make latestOffset announce an offset
        BEHIND the committed start (stall/fail), so anything implausible
        degrades to None (= unclamped first batch), never to a bad clamp.

        A hint pointing at an EMPTY WAL clamps from ``startingSnapshot``
        (same rule as cdc_binlog's fresh-start clamp, source.py:72): the
        hint is the caller's statement that bounded batches are wanted from
        the FIRST trigger — a first-ever subscriber against a long-lived
        table must not admit the whole history in one batch. availableNow
        drains stay complete because the documented consumer contract
        (stream_replicate) loops start/awaitTermination to the tip."""
        cur = _wal_offset(self.checkpoint_hint)
        if cur is None and self.checkpoint_hint:
            d = os.path.join(self.checkpoint_hint, "offsets")
            entries = os.listdir(d) if os.path.isdir(d) else []
            if not any(f.isdigit() for f in entries):
                return self.start_snapshot
        if cur is not None and cur < self.start_snapshot:
            return None
        return cur

    def initialOffset(self) -> dict:
        return {"snapshot": self.start_snapshot}

    def latestOffset(self) -> dict:
        """Admission control lives HERE, never in partitions(): Spark
        commits whatever range latestOffset announces, so truncating the
        partition list would silently skip the tail of the range. The clamp
        is relative to the last end seen via partitions(); before the first
        partitions() call the cursor comes from the checkpointed offset WAL
        (``checkpointHint``) or the configured startingSnapshot, so every
        trigger — including the first after a restart — admits at most
        ``maxSnapshotsPerTrigger`` snapshots. Fresh and availableNow runs
        stay unclamped by design, exactly like cdc_binlog: Spark captures
        ONE target offset at query start for Python stream sources, so a
        clamped announcement would TRUNCATE an availableNow drain, not
        split it — the clamp engages only once a cursor is known (in-run
        via partitions(), or restored via checkpointHint)."""
        tip = _current_sid(self.root)
        if self.max_snapshots:
            if self._cursor is None and self.checkpoint_hint:
                self._cursor = self._restore_cursor()
            if self._cursor is not None:
                tip = min(tip, self._cursor + self.max_snapshots)
        return {"snapshot": tip}

    def partitions(self, start: dict, end: dict):
        """One partition per file ``plan.plan_groups(since=)`` plans; on a
        rollback it raises (restart with startingSnapshot >= the rollback)."""
        lo, hi = start["snapshot"], end["snapshot"]
        self._cursor = max(self._cursor or 0, hi)
        # the feed never asks for bytes, so the chain needs no stats store
        chain = SimpleNamespace(root=self.root, snapshot=partial(_snap, self.root))
        plan = plan_groups(chain, _snap(self.root, hi), since=lo)
        parts = [
            FeedFilePartition(os.path.join(self.root, p), self._pinned_full_json)
            for g in plan.groups
            for p in g.rels
        ]
        return parts or [FeedFilePartition("", "")]

    def read(self, partition: FeedFilePartition):
        if not partition.path:
            return iter(())
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from maestro_spark.schema import conform_arrow_table

        full = StructType.fromJson(json.loads(partition.schema_json))
        # conform under the PHYSICAL on-file names, surface LOGICAL names
        phys = S.physical_schema(full)
        t = conform_arrow_table(pq.read_table(partition.path), to_arrow_schema(phys))
        t = t.rename_columns([f.name for f in full.fields])
        op = pc.if_else(
            pc.fill_null(t[S.DELETED_COL], False),
            pa.scalar("delete"),
            pa.scalar("upsert"),
        )
        lsn = t[S.LSN_COL].cast(pa.int64())
        t = t.drop_columns([S.LSN_COL, S.DELETED_COL])
        t = t.append_column("op", op).append_column("lsn", lsn)
        return iter(t.to_batches(max_chunksize=65536))

    def commit(self, end: dict) -> None:
        pass  # exactly-once is the consumer's (checkpoint + idempotent sink)


class TableChangesDataSource(DataSource):
    """spark.readStream.format("table_changes").option("path", root).load()"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        root = self.options.get("path") or self.options.get("table")
        return feed_schema(root)

    def streamReader(self, schema: StructType) -> TableChangesStreamReader:
        return TableChangesStreamReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(TableChangesDataSource)


# ---------------------------------------------------------------- consumers
def stream_replicate(
    spark,
    src_root: str,
    dst_root: str,
    query_id: str = "replicate",
    checkpoint: str | None = None,
    available_now: bool = True,
    max_snapshots_per_trigger: int | None = None,
):
    """Continuously replicate one table into another off its change feed —
    the canonical feed subscriber. Each microbatch merges through the
    replica's own ``merge_batch``, so the replica inherits exactly-once
    (epoch key = (query_id, batch_id), idempotent on re-delivery) and the
    two tables converge after every batch. Bootstrap is automatic: the
    feed from snapshot 0 carries the full history."""
    from maestro_spark.lake import LakeTable
    from maestro_spark.merge import merge_batch
    from pyspark.sql import functions as F

    register(spark)
    try:
        dst = LakeTable(spark, dst_root)
        dst.snapshot()
    except Exception:  # noqa: BLE001 — not a table yet
        src = LakeTable(spark, src_root)
        dst = LakeTable.create(
            spark, dst_root,
            payload_schema=src.snapshot().payload_schema(),
            n_buckets=src.snapshot().n_buckets,
        )

    ckpt = checkpoint or os.path.join(dst_root, "_feed_checkpoint")
    reader = spark.readStream.format(FORMAT_NAME).option("path", src_root)
    if max_snapshots_per_trigger:
        # Bounded batches for BOTH modes. checkpointHint makes the clamp
        # effective from the first trigger of a restart — but Spark captures
        # ONE target offset per availableNow run for Python sources, so a
        # clamped restarted drain covers at most N snapshots per start():
        # the availableNow branch below therefore LOOPS start/awaitTermination
        # until the WAL cursor reaches the source tip, so a drain is never
        # silently truncated to N snapshots (each leg is exactly-once via
        # merge_batch's epoch keys, so the loop is crash/retry-safe).
        reader = reader.option(
            "maxSnapshotsPerTrigger", str(max_snapshots_per_trigger)
        ).option("checkpointHint", ckpt)
    feed = reader.load()
    payload = [c for c in feed.columns if c not in ("op", "lsn")]

    def apply(batch, batch_id):
        events = batch.select(F.col("lsn").alias("op_lsn"), "op", *payload)
        merge_batch(dst, events, query_id=query_id, epoch_id=batch_id)

    writer = feed.writeStream.foreachBatch(apply).option("checkpointLocation", ckpt)
    if available_now:
        tip = _current_sid(src_root)
        while True:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            if not max_snapshots_per_trigger:
                break  # unclamped drain: one run covers everything
            applied = _wal_offset(ckpt)
            if applied is None or applied >= tip:
                break
        return dst
    return writer.start()
