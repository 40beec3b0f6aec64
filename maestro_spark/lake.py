"""Snapshot-versioned parquet lake — the from-scratch Iceberg-capability layer.

No Iceberg/Delta/Hudi jars exist in this environment (SURVEY §1.3), so the
capabilities the north star needs are built directly:

- hash-bucketed layout ``data/pk_bucket=<pmod(xxhash64(conv_id), B)>/`` —
  Python-side manifest pruning plays the role of partition pruning, and the
  bucket is the MERGE unit (copy-on-write per changed bucket);
- snapshot isolation + time travel: every commit writes
  ``_snapshots/s-<id>.json`` (file list per bucket, schema, parent, epoch key);
  readers pin a snapshot;
- atomic exclusive commit: snapshot JSON is published with a hard-link
  compare-and-swap (``os.link`` fails with EEXIST on a concurrent/duplicate
  commit); data files are invisible until a snapshot references them, so a
  crash between data write and publish loses nothing and duplicates nothing;
- idempotent epoch-stamped commits: each snapshot records the
  ``(query_id, epoch_id)`` that produced it; re-delivery is detected by
  scanning the snapshot chain (authoritative) — the exactly-once half that
  Spark's checkpoint WAL cannot give a custom sink;
- schema evolution: the committed schema is the add-only/widen-only merge of
  table schema and batch schema (maestro_spark.schema.merge_schemas).

Layout on disk::

    <root>/_snapshots/s-<13-digit id>.json   # manifest per commit
    <root>/_snapshots/CURRENT                # latest id (rename-published hint)
    <root>/_ledger/<query_id>/epoch-<n>.json # offset/watermark ledger (A7)
    <root>/_lineage/*.parquet                # per-epoch x bucket lineage (A6/K8)
    <root>/data/pk_bucket=<b>/<commit-uuid>-*.parquet

Internal row columns ``_lsn`` (max LSN applied to the key) and ``_deleted``
(tombstone) implement cross-epoch LSN dominance: a delete is remembered, so a
lower-LSN insert arriving in a later epoch can never resurrect the row
(FIXTURES.md A4 cases 1-2).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maestro_spark import schema as S

SNAP_DIR = "_snapshots"
LEDGER_DIR = "_ledger"
LINEAGE_DIR = "_lineage"
DATA_DIR = "data"
MANIFEST_PREFIX = "m-"


def load_snapshot(root: str, sid: int, cache: dict | None = None) -> "Snapshot":
    """Load a snapshot, resolving the manifest-list form to inline files.

    On disk, a modern snapshot stores ``files = {"_manifests": [names]}``
    where each ``_snapshots/m-*.json`` manifest maps bucket → the file paths
    that commit contributed; a bucket's live file list is the concatenation
    over the list in order, which preserves the commit-order ``_seq``
    resolution contract exactly. The Iceberg manifest-list idea, applied to
    the per-epoch hot path: an APPEND commit persists only its own new
    files plus a ~1-line name list, so per-commit metadata is O(files added
    by that commit) instead of O(all live files) — at 10^10 events with
    thousands of epochs over tens of thousands of buckets, that is the
    difference between ~1 KB and tens of MB of JSON per epoch. COW-style
    commits (compaction, purge, DML, rollback, rebucket) consolidate back
    to a single manifest, which bounds the list length by the compaction
    cadence. Legacy snapshots with inline ``files`` load unchanged
    (``manifest_list = None``).

    Manifests are immutable once written; ``cache`` (name → content) makes
    repeated snapshot loads O(new manifests), shared safely across table
    instances.
    """
    with open(os.path.join(root, SNAP_DIR, f"s-{sid:013d}.json")) as fh:
        d = json.load(fh)
    files = d.get("files")
    if isinstance(files, dict) and "_manifests" in files:
        names = files["_manifests"]
        resolved: dict[str, list[str]] = {}
        for name in names:
            m = cache.get(name) if cache is not None else None
            if m is None:
                with open(os.path.join(root, SNAP_DIR, name)) as mf:
                    m = json.load(mf)
                if cache is not None:
                    cache[name] = m
            for b, ps in m.items():
                resolved.setdefault(b, []).extend(ps)
        d["files"] = resolved
        d["manifest_list"] = list(names)
    return Snapshot(**d)


def bucket_expr(conv_col: str = "conv_id", n_buckets: int = 64) -> F.Column:
    """Deterministic key→bucket mapping. xxhash64 runs JVM-side in codegen."""
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")


def _pushdown_ok(spark) -> str:
    """"true" when the session allows Python-DataSource filter pushdown
    (set it if settable); else "false" so mor_scan installs the plain
    reader — a foreign session that locks the flag must not lose reads."""
    key = "spark.sql.python.filterPushdown.enabled"
    try:
        spark.conf.set(key, "true")
        return "true"
    except Exception:  # noqa: BLE001 — conf locked by the session owner
        try:
            return str(spark.conf.get(key, "false")).lower()
        except Exception:  # noqa: BLE001
            return "false"


class CommitConflict(Exception):
    """A concurrent commit made this one unsafe to rebase automatically
    (overlapping copy-on-write buckets, a rebucket, or a rollback landed
    first). The work is not lost — the caller re-plans against the current
    snapshot and commits again."""


def _atomic_write_json(path: str, obj: dict, exclusive: bool) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    if exclusive:
        try:
            os.link(tmp, path)  # CAS: fails with FileExistsError if already published
        finally:
            os.unlink(tmp)
    else:
        os.rename(tmp, path)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    epoch_key: str | None          # "query_id:epoch_id" that produced it
    schema_json: str               # committed table schema (payload + internal)
    files: dict[str, list[str]]    # bucket (as str) -> relative data file paths
    n_buckets: int
    committed_at: float = 0.0
    stats: dict = field(default_factory=dict)
    # Retired PHYSICAL column names (masked DROPs / erased columns): reserved
    # forever so a later re-add of the same logical name allocates a FRESH
    # physical name instead of decoding stale bytes out of pre-drop files.
    # Monotone (commit unions it forward); names only, so it stays tiny.
    dropped: list[str] = field(default_factory=list)
    # On-disk manifest names whose per-bucket concatenation (in list order)
    # equals ``files`` — set by the loader/publisher, never serialized
    # directly. None = legacy inline snapshot (files stored in the JSON).
    manifest_list: list[str] | None = None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def payload_schema(self) -> T.StructType:
        internal = {S.LSN_COL, S.DELETED_COL}
        return T.StructType([f for f in self.schema.fields if f.name not in internal])


class LakeTable:
    """A snapshot-versioned, hash-bucketed transcript table (SURVEY §2.A3/A5)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # incremental epoch-key index: (keys seen, highest snapshot id read).
        # committed_epoch_keys() is consulted on EVERY new epoch; without the
        # cache it re-reads the whole snapshot chain each time — O(epochs^2)
        # driver-side JSON reads over a long-running stream.
        self._epoch_keys: set[str] = set()
        self._epoch_keys_upto: int = -1
        # immutable manifest-content cache (name → {bucket: [paths]}):
        # repeated snapshot loads cost O(new manifests), not O(history)
        self._manifest_cache: dict[str, dict] = {}
        from maestro_spark.filestats import FileStatsStore

        self.file_stats = FileStatsStore(root, SNAP_DIR)

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        payload_schema: T.StructType = S.TRANSCRIPT_SCHEMA,
        n_buckets: int = 64,
    ) -> "LakeTable":
        os.makedirs(os.path.join(root, SNAP_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, DATA_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, LEDGER_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, LINEAGE_DIR), exist_ok=True)
        full = T.StructType([*payload_schema.fields, *S.INTERNAL_FIELDS])
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            epoch_key=None,
            schema_json=json.dumps(full.jsonValue()),
            files={},
            n_buckets=n_buckets,
            committed_at=time.time(),
        )
        t = cls(spark, root)
        t._publish(snap)
        return t

    # ------------------------------------------------------------- snapshots
    def _snap_path(self, sid: int) -> str:
        return os.path.join(self.root, SNAP_DIR, f"s-{sid:013d}.json")

    def _write_manifest(self, content: dict[str, list[str]]) -> str:
        """Persist one immutable manifest (bucket → paths); returns its name.
        Names are writer-unique (uuid), so two racers publishing the same
        snapshot id can never cross-reference each other's manifests — the
        CAS loser's manifest becomes an orphan vacuum() GCs."""
        content = {b: list(ps) for b, ps in content.items()}  # freeze vs caller
        name = f"{MANIFEST_PREFIX}{uuid.uuid4().hex[:16]}.json"
        _atomic_write_json(os.path.join(self.root, SNAP_DIR, name), content, exclusive=False)
        self._manifest_cache[name] = content
        return name

    def _publish(self, snap: Snapshot, manifest_names: list[str] | None = None) -> None:
        """Publish a snapshot. ``manifest_names`` is the append fast path:
        a precomputed on-disk manifest list whose per-bucket concatenation
        equals ``snap.files`` (commit() builds it as parent's list + one
        manifest of just this commit's new files — O(new files) metadata).
        Without it, the full state consolidates into a single manifest
        (create/clone/rollback/rebucket/COW/compaction — the cadence that
        bounds list length)."""
        snap.committed_at = time.time()
        if manifest_names is None:
            manifest_names = [
                self._write_manifest({b: list(ps) for b, ps in snap.files.items()})
            ]
        snap.manifest_list = list(manifest_names)
        d = {k: v for k, v in snap.__dict__.items() if k != "manifest_list"}
        d["files"] = {"_manifests": snap.manifest_list}
        _atomic_write_json(self._snap_path(snap.snapshot_id), d, exclusive=True)
        # CURRENT is a recoverable hint, not the commit point
        cur = os.path.join(self.root, SNAP_DIR, "CURRENT")
        _atomic_write_json(cur, {"snapshot_id": snap.snapshot_id}, exclusive=False)

    def snapshot_ids(self) -> list[int]:
        d = os.path.join(self.root, SNAP_DIR)
        return sorted(
            int(f[2:-5]) for f in os.listdir(d) if f.startswith("s-") and f.endswith(".json")
        )

    def snapshot(self, sid: int | None = None) -> Snapshot:
        if sid is None:
            # roll forward past a stale CURRENT (crash between publish steps)
            sid = self.snapshot_ids()[-1]
        return load_snapshot(self.root, sid, cache=self._manifest_cache)

    # ------------------------------------------------------------------ tags
    def _tag_path(self, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.\-]*", name or ""):
            raise ValueError(f"invalid tag name {name!r}")
        return os.path.join(self.root, SNAP_DIR, f"tag-{name}.json")

    def tag(self, name: str, snapshot_id: int | None = None, replace: bool = False) -> int:
        """Pin a named reference to a snapshot (Iceberg tag parity): a
        release/audit label like ``train-2025-03`` that survives snapshot
        expiry (expire_snapshots keeps tagged ids, so vacuum keeps their
        data). Resolve with :meth:`ref` — every snapshot_id-taking API
        (read/changes/clone/export/create_view/lookup) composes:
        ``table.read(table.ref("train-2025-03"))``. Metadata-only (one tiny
        JSON); ``replace=True`` moves an existing tag."""
        sid = self.snapshot(snapshot_id).snapshot_id  # validates existence
        path = self._tag_path(name)
        if os.path.exists(path) and not replace:
            raise ValueError(f"tag {name!r} exists (pass replace=True to move it)")
        _atomic_write_json(
            path, {"snapshot_id": sid, "created_at": time.time()}, exclusive=False
        )
        return sid

    def drop_tag(self, name: str) -> bool:
        path = self._tag_path(name)
        if os.path.exists(path):
            os.unlink(path)
            return True
        return False

    def tags(self) -> dict[str, int]:
        d = os.path.join(self.root, SNAP_DIR)
        out = {}
        for fn in sorted(os.listdir(d)):
            if fn.startswith("tag-") and fn.endswith(".json"):
                with open(os.path.join(d, fn)) as fh:
                    out[fn[4:-5]] = int(json.load(fh)["snapshot_id"])
        return out

    def ref(self, name: str) -> int:
        """Tag name → pinned snapshot id (KeyError when absent)."""
        path = self._tag_path(name)
        if not os.path.exists(path):
            raise KeyError(f"no tag {name!r}")
        with open(path) as fh:
            return int(json.load(fh)["snapshot_id"])

    # ------------------------------------------------------------ constraints
    def _constraints_path(self) -> str:
        return os.path.join(self.root, SNAP_DIR, "constraints.json")

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name → SQL boolean expression over
        payload columns. Write-side gates (Delta CHECK-constraint parity):
        the merge path dead-letters any non-delete event whose expression
        is FALSE (NULL passes — SQL CHECK semantics) with reason
        ``constraint:<name>`` instead of corrupting the table or failing
        the stream; the repair flow is the normal DLQ one."""
        p = self._constraints_path()
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def add_constraint(self, name: str, expr: str) -> None:
        """Add a CHECK constraint after validating that (a) the expression
        compiles against the current schema and (b) every CURRENT live row
        satisfies it (one scan — the Delta ADD CONSTRAINT rule: a
        constraint must hold before it can gate writes)."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.\-]*", name or ""):
            raise ValueError(f"invalid constraint name {name!r}")
        cur = self.constraints()
        if name in cur:
            raise ValueError(f"constraint {name!r} exists (drop it first)")
        bad = self.read().filter(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).head(1)
        if bad:
            raise ValueError(
                f"constraint {name!r} is violated by current data, e.g. "
                f"{tuple(bad[0][:3])!r}"
            )
        cur[name] = expr
        _atomic_write_json(self._constraints_path(), cur, exclusive=False)

    def drop_constraint(self, name: str) -> bool:
        cur = self.constraints()
        if name not in cur:
            return False
        del cur[name]
        _atomic_write_json(self._constraints_path(), cur, exclusive=False)
        return True

    def committed_epoch_keys(self) -> set[str]:
        """Authoritative idempotence index: epoch keys in the snapshot chain.

        Incremental: only snapshots committed since the last call are read
        (snapshot files are immutable once published, and expiry never
        removes a key this instance already absorbed — the ledger preserves
        expired keys anyway). A fresh LakeTable instance pays one full chain
        scan, then O(new snapshots) per call.
        """
        for sid in self.snapshot_ids():
            if sid <= self._epoch_keys_upto:
                continue
            ek = self.snapshot(sid).epoch_key
            if ek:
                self._epoch_keys.add(ek)
            self._epoch_keys_upto = max(self._epoch_keys_upto, sid)
        return self._epoch_keys

    # ----------------------------------------------------------------- reads
    def _scan_files(self, schema: T.StructType, paths: list[str]) -> DataFrame:
        """Read data files under their PHYSICAL column names (stable across
        metadata-only renames — see schema.PHYSICAL_KEY), surfacing the
        requested schema's LOGICAL names. The rename is a Project Catalyst
        rewrites filters/pruning through, so pushdown is unaffected; for the
        common no-rename table this is exactly the plain schema'd read."""
        cmap = S.column_map(schema)
        if not cmap:
            return self.spark.read.schema(schema).parquet(*paths)
        df = self.spark.read.schema(S.physical_schema(schema)).parquet(*paths)
        # ONE simultaneous Project (a sequential withColumnsRenamed breaks on
        # chained renames like text->body while text__p1->text)
        inv = {p: l for l, p in cmap.items()}
        return df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])

    def read_raw(
        self, buckets: list[int] | None = None, snapshot_id: int | None = None
    ) -> DataFrame:
        """Rows incl. internal ``_lsn``/``_deleted`` for the given buckets.

        Manifest file pruning happens here in Python — the read plan only ever
        sees the pruned file list, so at 100 TB a single-bucket lookup scans
        one bucket's files, not the table.
        """
        snap = self.snapshot(snapshot_id)
        want = {str(b) for b in buckets} if buckets is not None else None
        files = [
            os.path.join(self.root, p)
            for b, ps in snap.files.items()
            if want is None or b in want
            for p in ps
        ]
        if not files:
            return self.spark.createDataFrame([], snap.schema)
        return self._scan_files(snap.schema, files)

    def read_resolved(
        self,
        buckets: list[int] | None = None,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Merge-on-read resolution: one winning row per ``(conv_id, turn_idx)``
        (max ``_lsn``), tombstones still present, internal columns included.

        Every file the engine writes is key-unique *within itself* (merge
        writes per-epoch batch winners, compaction writes fully-resolved
        buckets), so a bucket with a single file needs no resolution at all —
        that scan unions in untouched. Multi-file (delta-bearing) buckets are
        resolved by the shuffle-free ``mor_scan`` source by default (whole
        buckets packed one task per core, bucket-local Arrow merge — see
        maestro_spark.mor_scan);
        ``maestro.read.resolve=shuffle`` selects the ``max_by`` exchange
        formulation instead (useful when buckets are few and huge).
        Compaction keeps delta-bearing buckets bounded, so at scale the
        resolve covers the hot tail of the table, not the table.
        """
        snap = self.snapshot(snapshot_id)
        if columns is not None:
            # projection pushdown by hand: Python DataSources (mor_scan) never
            # receive Spark's column pruning, so the narrow schema must be
            # decided here. Keys + _lsn + _deleted always ride along — the
            # MOR winner rule and tombstone filter need them.
            need = dict.fromkeys(
                [*S.KEY_COLS, *columns, S.LSN_COL, S.DELETED_COL]
            )
            scan_schema = T.StructType(
                [f for f in snap.schema.fields if f.name in need]
            )
            missing = [c for c in columns if c not in {f.name for f in snap.schema.fields}]
            if missing:
                raise ValueError(f"unknown columns {missing}")
        else:
            scan_schema = snap.schema
        want = {str(b) for b in buckets} if buckets is not None else None
        single: list[str] = []
        multi_groups: list[list[str]] = []
        for b, ps in snap.files.items():
            if want is not None and b not in want:
                continue
            if len(ps) > 1:
                multi_groups.append([os.path.join(self.root, p) for p in ps])
            else:
                single.extend(ps)
        cols = [f.name for f in scan_schema.fields]
        parts: list[DataFrame] = []
        if single:
            parts.append(
                self._scan_files(
                    scan_schema, [os.path.join(self.root, p) for p in single]
                )
            )
        if multi_groups:
            mode = self.spark.conf.get("maestro.read.resolve", "local")
            if mode == "shuffle":
                # winner per key = max (_lsn, commit seq) — the SAME
                # deterministic tie-break as mor_scan's bucket-local resolve.
                # seq = position in the bucket's commit-ordered file list;
                # one scan per position (bounded by maestro.compact.maxDeltas,
                # not by table size) tags it without a per-file plan blowup.
                maxlen = max(len(g) for g in multi_groups)
                tagged = None
                for j in range(maxlen):
                    fs = [g[j] for g in multi_groups if len(g) > j]
                    part = self._scan_files(scan_schema, fs).withColumn(
                        "_seq", F.lit(j)
                    )
                    tagged = part if tagged is None else tagged.unionByName(part)
                keys = ["conv_id", "turn_idx"]
                rest = [c for c in cols if c not in keys]
                parts.append(
                    tagged.groupBy(*keys)
                    .agg(
                        F.max_by(
                            F.struct(*rest), F.struct(F.col(S.LSN_COL), F.col("_seq"))
                        ).alias("_w")
                    )
                    .select(*keys, "_w.*")
                )
            else:
                from maestro_spark import mor_scan

                mor_scan.register(self.spark)
                # the Arrow source reads files, so it works in PHYSICAL
                # names (keys/internals are never renameable, so its
                # resolve/pushdown columns are untouched); rename after
                phys = S.physical_schema(scan_schema)
                part = (
                    self.spark.read.format(mor_scan.FORMAT_NAME)
                    .schema(phys)
                    .option("schema_json", json.dumps(phys.jsonValue()))
                    .option("groups_json", json.dumps(multi_groups))
                    .option("slots", str(self.spark.sparkContext.defaultParallelism))
                    .option("n_buckets", str(snap.n_buckets))
                    .option("pushdown", _pushdown_ok(self.spark))
                    .load()
                )
                cmap = S.column_map(scan_schema)
                if cmap:
                    inv = {p: l for l, p in cmap.items()}
                    part = part.select(
                        *[F.col(c).alias(inv.get(c, c)) for c in part.columns]
                    )
                parts.append(part)
        if not parts:
            return self.spark.createDataFrame([], scan_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*cols)

    def changes(
        self,
        from_snapshot: int,
        to_snapshot: int | None = None,
        collapse: bool = True,
    ) -> DataFrame:
        """Incremental change feed between two committed snapshots
        (exclusive ``from_snapshot``, inclusive ``to_snapshot``; default =
        current). One row per key changed in the range::

            conv_id, turn_idx, <payload...>, op ('upsert'|'delete'), lsn

        ``collapse=False`` is the ALL-CHANGES mode (Delta CDF's non-net
        feed): instead of the net max-LSN winner per key, EVERY version the
        range committed is emitted — one row per (key, epoch) batch winner
        (intra-epoch intermediates never reach disk; the merge writes each
        epoch's winners), tagged with ``snapshot_id``, deduplicated on
        (key, lsn) so a copy-on-write epoch's re-stated rows (same row,
        same LSN) appear once, at their first emission. This is the
        version-history feed :meth:`scd2` builds on.

        This is manifest arithmetic, not a table diff: each epoch snapshot in
        the range contributes exactly the data files it ADDED (per-bucket set
        difference vs its parent), and the net change per key is the max-LSN
        winner across those files — under merge-on-read an epoch's added
        files are precisely its batch winners, so the feed is exact. Under a
        copy-on-write epoch the added files are full bucket rewrites, so the
        feed may also carry unchanged rows of touched buckets re-stated at
        their current LSN — still correct to apply (idempotent upserts), just
        wider. Maintenance (compaction) snapshots are content-preserving and
        contribute nothing.

        Applying the feed for ``(k, n]`` on top of snapshot ``k`` reproduces
        snapshot ``n`` exactly (tombstones ride along as ``op='delete'``) —
        the consumer contract a downstream CDC subscriber needs.

        Requires every snapshot in the range to still be retained
        (``expire_snapshots`` + ``vacuum`` bound the feed horizon, same as
        any lake-format change feed).
        """
        to_snapshot = to_snapshot if to_snapshot is not None else self.snapshot().snapshot_id
        if to_snapshot < from_snapshot:
            raise ValueError(f"to_snapshot {to_snapshot} < from_snapshot {from_snapshot}")
        to_snap = self.snapshot(to_snapshot)
        payload = [f.name for f in to_snap.payload_schema().fields]
        out_cols = [
            *payload,
            F.when(F.col(S.DELETED_COL), F.lit("delete")).otherwise(F.lit("upsert")).alias("op"),
            F.col(S.LSN_COL).alias("lsn"),
        ]
        parts: list[DataFrame] = []
        for seq, sid in enumerate(range(from_snapshot + 1, to_snapshot + 1)):
            snap = self.snapshot(sid)
            if snap.stats.get("rollback_to") is not None:
                # a rollback's delta is files REMOVED vs its parent — the
                # added-files feed cannot express it; consumers re-sync
                raise ValueError(
                    f"change feed range ({from_snapshot}, {to_snapshot}] spans "
                    f"rollback snapshot {sid}; re-sync from a full read"
                )
            if snap.stats.get("maintenance"):
                # content-preserving (compaction/rebucket/bloom) and ALTER
                # snapshots contribute no change rows. Ranges SPANNING an
                # alter are safe to feed through: physical column names are
                # stable across a metadata-only rename (pre-rename files
                # decode under the to-snapshot's physical schema), a masked
                # drop simply stops decoding the column, and a re-added name
                # owns a FRESH physical name (Snapshot.dropped reservation),
                # so pre-drop files read it as null — never as the dropped
                # column's stale bytes.
                continue
            parent = self.snapshot(snap.parent_id) if snap.parent_id is not None else None
            added = []
            for b, ps in snap.files.items():
                prev = set(parent.files.get(b, [])) if parent else set()
                added.extend(os.path.join(self.root, p) for p in ps if p not in prev)
            if added:
                parts.append(
                    self._scan_files(to_snap.schema, added)
                    .withColumn("_seq", F.lit(seq))
                    .withColumn("_sid", F.lit(sid))
                )
        if not parts:
            empty = (
                self.spark.createDataFrame([], to_snap.schema)
                .withColumn("_seq", F.lit(0))
                .withColumn("_sid", F.lit(0))
            )
            if not collapse:
                return empty.select(*out_cols, F.col("_sid").alias("snapshot_id"))
            return empty.select(*out_cols)
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        keys = S.KEY_COLS
        if not collapse:
            # one row per (key, lsn): the first commit that emitted the
            # version wins the tag (COW re-statements carry the SAME lsn
            # and identical payload — the one-LSN-one-payload invariant —
            # so this dedup is exact, not a choice among candidates)
            rest2 = [c for c in union.columns if c not in (*keys, S.LSN_COL)]
            firsts = (
                union.groupBy(*keys, S.LSN_COL)
                .agg(F.min_by(F.struct(*rest2), F.col("_seq")).alias("_w"))
                .select(*keys, S.LSN_COL, "_w.*")
            )
            return firsts.select(*out_cols, F.col("_sid").alias("snapshot_id"))
        rest = [c for c in union.columns if c not in keys]
        # winner per key = max (_lsn, commit seq); the seq tie-break makes
        # re-delivered equal-LSN rows resolve to the later commit
        # deterministically (payloads are identical by the one-LSN-one-payload
        # invariant, so this is belt-and-braces, not semantics)
        winners = (
            union.groupBy(*keys)
            .agg(F.max_by(F.struct(*rest), F.struct(F.col(S.LSN_COL), F.col("_seq"))).alias("_w"))
            .select(*keys, "_w.*")
        )
        return winners.select(*out_cols)

    def scd2(
        self, from_snapshot: int = 0, to_snapshot: int | None = None
    ) -> DataFrame:
        """Type-2 slowly-changing-dimension history of the table: one row
        per RETAINED VERSION of each key, with its validity interval in the
        engine's LSN total order::

            conv_id, turn_idx, <payload…>, op, valid_from_lsn,
            valid_to_lsn (NULL = open), is_current, snapshot_id

        Built on the all-changes feed (:meth:`changes` ``collapse=False``)
        plus one ``lead()`` window per key — a version is valid from its
        own LSN until the key's next retained version; the newest
        non-delete version is ``is_current``. Delete versions appear as
        rows (``op='delete'``) closing their predecessor's interval —
        filter ``op <> 'delete'`` for the classic live-versions SCD2 shape.

        Version granularity is per merge epoch (the engine never persists
        intra-epoch intermediates), and ordering is SOURCE order (LSN) —
        a late-arriving lower-LSN version slots into history where the
        source emitted it, exactly like any bitemporal store keyed on the
        upstream commit order. The horizon is the retained snapshot range
        (``expire_snapshots`` bounds it, same as the feed)."""
        from pyspark.sql.window import Window

        ch = self.changes(from_snapshot, to_snapshot, collapse=False)
        ch = ch.withColumnRenamed("lsn", "valid_from_lsn")
        w = Window.partitionBy(*S.KEY_COLS).orderBy("valid_from_lsn")
        nxt = F.lead("valid_from_lsn").over(w)
        return ch.withColumn("valid_to_lsn", nxt).withColumn(
            "is_current", nxt.isNull() & (F.col("op") != "delete")
        )

    def read_asof_lsn(
        self, lsn: int, from_snapshot: int = 0, to_snapshot: int | None = None
    ) -> DataFrame:
        """SOURCE-ORDER point-in-time read: the live rows as they stood
        once the upstream had applied every change with ``op_lsn <= lsn``
        — finer-grained than snapshot time travel (an LSN mid-epoch is a
        state no commit boundary ever published) and the natural "replay
        the source to position X" debugging read.

        One filter over :meth:`scd2`: versions whose validity interval
        covers ``lsn``, deletes excluded. Granularity is the retained
        version set (per-epoch batch winners): an LSN falling between a
        retained version and an unpersisted intra-epoch predecessor
        resolves to the prior retained state — the closest reconstruction
        the files can express. Horizon = the retained snapshot range."""
        h = self.scd2(from_snapshot, to_snapshot)
        live = h.filter(
            (F.col("valid_from_lsn") <= lsn)
            & (F.col("valid_to_lsn").isNull() | (F.col("valid_to_lsn") > lsn))
            & (F.col("op") != "delete")
        )
        return live.drop(
            "valid_from_lsn", "valid_to_lsn", "is_current", "op", "snapshot_id"
        )

    def read(
        self,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Live rows (tombstones filtered), payload columns only.
        ``columns`` prunes the scan to exactly those payload columns (plus
        the internals resolution needs) — pass it for narrow analytics over
        wide transcript tables: Python DataSources don't receive Spark's
        projection pushdown, so ``read().select(few)`` decodes every column
        while ``read(columns=few)`` decodes only the few."""
        snap = self.snapshot(snapshot_id)
        resolved = self.read_resolved(buckets, snapshot_id, columns=columns)
        out_cols = columns if columns is not None else [
            f.name for f in snap.payload_schema().fields
        ]
        return resolved.filter(~F.col(S.DELETED_COL)).select(*out_cols)

    # ------------------------------------------------------- SQL front door
    def create_view(
        self,
        name: str,
        snapshot_id: int | None = None,
        ts=None,
        columns: list[str] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Register this table's MOR-resolved live rows as a session temp
        view so analysts can ``spark.sql("SELECT … FROM <name>")`` without
        touching the engine API — with optional time travel by snapshot id
        or wall-clock ``ts`` (resolved via :meth:`snapshot_id_at`).

        The view is a logical plan over the resolved snapshot's immutable
        file manifest: committed data files are never deleted while
        referenced (only vacuum after expiry drops them), so the view keeps
        reading a stable state while writers commit — snapshot isolation
        for SQL readers. A view created with no pin is plan-time-pinned to
        the CURRENT snapshot; call again to pick up newer commits.
        ``columns`` prunes the scan like :meth:`read` (Python DataSources
        receive no projection pushdown, so pass it for narrow analytics)."""
        if sum(x is not None for x in (snapshot_id, ts, tag)) > 1:
            raise ValueError("pass at most one of snapshot_id / ts / tag")
        if ts is not None:
            snapshot_id = self.snapshot_id_at(ts)
        if tag is not None:
            snapshot_id = self.ref(tag)
        df = self.read(snapshot_id=snapshot_id, columns=columns)
        df.createOrReplaceTempView(name)
        return df

    def sql(
        self,
        query: str,
        name: str = "t",
        snapshot_id: int | None = None,
        ts=None,
    ) -> DataFrame:
        """One-shot SQL over this table: register it as view ``name``
        (default ``t``) and run ``query`` through the session.

        WRITE statements (``INSERT INTO`` / ``UPDATE`` / ``DELETE FROM`` /
        ``MERGE INTO`` — see maestro_spark.sqldml for the accepted grammar)
        compile onto the engine's fenced DML builders, execute exactly-once,
        and return the table's POST-STATEMENT live rows (the view is
        re-registered at the new snapshot so follow-up SELECTs see it).
        ``ALTER TABLE`` statements route onto the metadata-only DDL builders
        (maestro_spark.ddl) the same way, and ``CREATE/REFRESH MATERIALIZED
        VIEW`` onto the incremental-view machinery (maestro_spark.ivm) —
        those return the refreshed VIEW's live rows.

        SELECTs accept INLINE time travel on the view name — Delta's
        ``<name> VERSION AS OF 3`` / ``<name> TIMESTAMP AS OF '…'``,
        Iceberg's ``FOR VERSION AS OF``, and SQL:2011's ``FOR SYSTEM_TIME
        AS OF`` spellings. ``VERSION AS OF`` takes a snapshot id or a
        quoted TAG name (:meth:`tag`); ``TIMESTAMP AS OF`` takes a quoted
        ISO datetime or epoch seconds (:meth:`snapshot_id_at`). The clause
        is equivalent to the ``snapshot_id=`` kwarg (pass one or the
        other); several clauses must agree on one snapshot. On ``INSERT …
        SELECT`` / ``MERGE … USING`` a pin applies to the statement's
        SOURCE read — point-in-time repair (restore rows from history into
        the live tip as a normal fenced write); UPDATE/DELETE and DDL
        refuse a pin (they never read the view, so it could only mislead)."""
        from maestro_spark import sqldml

        if meta := sqldml.describe_meta(query):
            kind, tname = meta
            if tname.lower() != name.lower():
                raise ValueError(
                    f"DESCRIBE {kind.upper()} targets {tname!r} but this "
                    f"table is registered as {name!r}"
                )
            return (self.meta_snapshots() if kind == "history"
                    else self.meta_files())
        if sc_name := sqldml.show_create_target(query):
            if sc_name.lower() != name.lower():
                raise ValueError(
                    f"SHOW CREATE TABLE targets {sc_name!r} but this "
                    f"table is registered as {name!r}"
                )
            return self.spark.createDataFrame(
                [(show_create(self, sc_name),)], "create_statement string"
            )
        if sd := sqldml.show_derived_target(query):
            kind, tname = sd
            if tname is not None and tname.lower() != name.lower():
                raise ValueError(
                    f"SHOW targets {tname!r} but this table is registered "
                    f"as {name!r}"
                )
            return _show_derived(self, kind)
        if sqldml.is_search(query):
            # before clause extraction: the query literal could contain
            # 'VERSION AS OF' text; a SEARCH never time-travels
            return sqldml.execute_search(self, query, name=name)
        if sqldml.is_restore(query):
            # before clause extraction: RESTORE's own `TO VERSION AS OF`
            # would otherwise parse as a time-travel pin on ident 'TO'
            if snapshot_id is not None or ts is not None:
                raise ValueError(
                    "RESTORE carries its own pin — drop the kwarg"
                )
            snap = sqldml.execute_restore(self, query, name=name)
            self.create_view(name)  # follow-up SELECTs see the restored tip
            return self.spark.createDataFrame(
                [("restore", snap.snapshot_id,
                  snap.stats.get("rollback_to"))],
                "op: string, snapshot_id: long, restored_to: long",
            )
        if sqldml.is_script(query):
            # before clause extraction: pins are refused inside scripts,
            # and a literal INSIDE the script must not be misparsed here
            if snapshot_id is not None or ts is not None:
                raise ValueError(
                    "a transaction script cannot target a time-travel pin"
                )
            n = sqldml.execute_script(self, query, name=name)
            self.create_view(name)  # post-transaction state
            return self.spark.createDataFrame(
                [("transaction", n, self.snapshot().snapshot_id)],
                "op: string, statements_applied: int, snapshot_id: long",
            )
        query, tt_pins = sqldml.extract_time_travel(query, name)
        if tt_pins:
            if snapshot_id is not None or ts is not None:
                raise ValueError(
                    "pass the time-travel pin inline OR as a kwarg, not both"
                )
            snapshot_id = self._resolve_tt_pins(tt_pins)
            if sqldml.is_dml(query):
                # a pin on the SOURCE of INSERT … SELECT / MERGE … USING is
                # point-in-time repair (Delta parity: restore rows from
                # history into the live table) — those statements read the
                # registered view, so pinning the view pins exactly the
                # source. UPDATE/DELETE never read the view (their
                # predicates evaluate against live rows inside the
                # builders), so a pin there would be silently ignored —
                # refuse instead.
                verb = sqldml._VERB_RE.match(query).group(1).lower()
                if verb not in ("insert", "merge"):
                    raise ValueError(
                        "time travel pins the statement's SOURCE read; "
                        f"{verb.upper()} reads only live rows — only "
                        "INSERT … SELECT and MERGE … USING accept a pin"
                    )
                self.create_view(name, snapshot_id=snapshot_id)
                sqldml.execute_dml(self, query, name=name)
                return self.create_view(name)
            for routed in (
                sqldml.is_mv, sqldml.is_maintenance, sqldml.is_index,
                sqldml.is_ddl,
            ):
                if routed(query):
                    raise ValueError(
                        "time travel is read-only: a DDL/maintenance "
                        "statement cannot target VERSION/TIMESTAMP AS OF"
                    )

        if sqldml.is_mv(query):
            if snapshot_id is not None or ts is not None:
                raise ValueError(
                    "materialized-view DDL cannot target a time-travel pin"
                )
            res = sqldml.execute_mv(self, query, name=name)
            if res is None or isinstance(res, str):  # DROP [IF EXISTS]
                return self.spark.createDataFrame(
                    [(res,)], "dropped_view: string"
                )
            return res.read()
        if sqldml.is_maintenance(query):
            if snapshot_id is not None or ts is not None:
                raise ValueError("maintenance cannot target a time-travel pin")
            import json as _json

            summary = sqldml.execute_maintenance(self, query, name=name)
            return self.spark.createDataFrame(
                [(summary["op"], _json.dumps(summary))], "op: string, summary: string"
            )
        if sqldml.is_index(query):
            if snapshot_id is not None or ts is not None:
                raise ValueError("index DDL cannot target a time-travel pin")
            res = sqldml.execute_index(self, query, name=name)
            if res is None or isinstance(res, str):  # DROP [IF EXISTS]
                return self.spark.createDataFrame(
                    [(res,)], "dropped_index: string"
                )
            return self.spark.createDataFrame(
                [(type(res).__name__, res.dir, res.applied_through())],
                "index: string, root: string, applied_through: long",
            )
        if sqldml.is_ddl(query):
            if snapshot_id is not None or ts is not None:
                raise ValueError("DDL cannot target a time-travel pin")
            sqldml.execute_ddl(self, query, name=name)
            return self.create_view(name)
        if sqldml.is_copy(query):
            if snapshot_id is not None or ts is not None:
                raise ValueError("COPY INTO cannot target a time-travel pin")
            summary = sqldml.execute_copy(self, query, name=name)
            self.create_view(name)  # follow-up SELECTs see the loaded state
            return self.spark.createDataFrame(
                [("copy_into", json.dumps(summary))],
                "op: string, summary: string",
            )
        if sqldml.is_dml(query):
            if snapshot_id is not None or ts is not None:
                raise ValueError("DML cannot target a time-travel pin")
            # register the PRE-statement view first: INSERT … SELECT FROM t
            # and MERGE … USING (SELECT … FROM t) read the statement-start
            # snapshot (standard SQL semantics); re-register after so
            # follow-up SELECTs see the post-statement state
            self.create_view(name)
            sqldml.execute_dml(self, query, name=name)
            return self.create_view(name)
        self.create_view(name, snapshot_id=snapshot_id, ts=ts)
        return self.spark.sql(query)

    def _resolve_tt_pins(self, pins: list[tuple[str, str]]) -> int:
        """Resolve inline time-travel clauses (from
        ``sqldml.extract_time_travel``) to ONE snapshot id: tags via
        :meth:`ref`, timestamps via :meth:`snapshot_id_at`, bare numbers as
        snapshot ids / epoch seconds. Clauses that disagree refuse — one
        registered view reads one snapshot."""
        import datetime as _dt

        sids: set[int] = set()
        for kind, raw in pins:
            if raw[0] in "'\"":
                lit = raw[1:-1]
                if kind == "VERSION":
                    sids.add(self.ref(lit))
                else:
                    sids.add(self.snapshot_id_at(_dt.datetime.fromisoformat(lit)))
            elif kind == "VERSION":
                sids.add(self.snapshot(int(raw)).snapshot_id)  # validates
            else:
                sids.add(self.snapshot_id_at(float(raw)))
        if len(sids) != 1:
            raise ValueError(
                f"conflicting time-travel pins resolve to snapshots "
                f"{sorted(sids)} — all clauses must agree on one snapshot"
            )
        return sids.pop()

    def plan_ts_scan(
        self, lo, hi, snapshot_id: int | None = None
    ) -> tuple[dict[int, list[str]], list[str], int]:
        """Zone-map planning for an event-time range read (driver-side
        manifest + fstats arithmetic, no data IO).

        Thin wrapper over :meth:`plan_col_scan` for the ``ts`` column (kept
        for its established callers; see there for semantics)."""
        return self.plan_col_scan("ts", lo, hi, snapshot_id)

    def plan_col_scan(
        self, col: str, lo, hi, snapshot_id: int | None = None
    ) -> tuple[dict[int, list[str]], list[str], int]:
        """Zone-map planning for a range read on ANY scalar column
        (driver-side manifest + fstats arithmetic, no data IO).

        Returns ``(candidates, mask, total_files)`` where ``candidates`` maps
        commit position → absolute paths of files whose ``col`` bounds
        overlap [lo, hi] (position is the max-LSN tie-break, as in
        read_resolved), and ``mask`` is the absolute paths of files that
        cannot hold a row in range but CAN hold a higher-LSN version of a
        candidate row (per-file lsn_max ≥ the bucket's minimum candidate
        lsn_min). Scanning the mask with keys+_lsn only (columnar
        projection) keeps the pruned read EXACT under merge-on-read: a
        candidate winner superseded by an out-of-range update is knocked out
        instead of resurrected. Files with unknown bounds (pre-upgrade
        shards, evolved-in or uncapped columns) are never pruned and always
        masked.
        """
        from maestro_spark.filestats import _micros, col_overlaps

        import datetime as _dt

        lo_v = _micros(lo) if isinstance(lo, _dt.datetime) else lo
        hi_v = _micros(hi) if isinstance(hi, _dt.datetime) else hi
        snap = self.snapshot(snapshot_id)
        # zone maps are harvested from file footers, so they are keyed by the
        # PHYSICAL column name — stable across metadata-only renames
        pcol = S.column_map(snap.schema).get(col, col)
        cand: dict[int, list[str]] = {}
        mask: list[str] = []
        total = 0
        for ps in snap.files.values():
            total += len(ps)
            stats = [self.file_stats.get_or_read(p) for p in ps]
            hits = [
                j for j, st in enumerate(stats) if col_overlaps(st, pcol, lo_v, hi_v)
            ]
            if not hits:
                continue  # no row of this bucket can be in range
            floor = min(
                (stats[j]["lsn_min"] for j in hits if stats[j]["lsn_min"] is not None),
                default=None,
            )
            for j, (p, st) in enumerate(zip(ps, stats)):
                ap = os.path.join(self.root, p)
                if j in hits:
                    cand.setdefault(j, []).append(ap)
                elif floor is None or st["lsn_max"] is None or st["lsn_max"] >= floor:
                    mask.append(ap)
        return cand, mask, total

    def read_where_ts(
        self,
        lo=None,
        hi=None,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Live rows whose ``ts`` falls in [lo, hi] — the "yesterday's
        conversations" query reads yesterday's files, not the table. Thin
        wrapper over :meth:`read_where` for the event-time column."""
        return self.read_where("ts", lo, hi, snapshot_id, columns)

    def read_where(
        self,
        col: str,
        lo=None,
        hi=None,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Live rows whose scalar ``col`` falls in [lo, hi] (inclusive,
        either end open), scanning only the files the per-column zone maps
        admit plus a keys-only mask scan. Result equals
        ``read().filter(col between)`` exactly (see plan_col_scan for why
        masking preserves MOR semantics) — an analytics predicate on
        ``role``, ``tool``, or an evolved payload column prunes like a ts
        range instead of scanning every live file. ``columns`` additionally
        prunes the candidate scans to the given payload columns (zone
        pruning × column pruning compose — the narrow range query over the
        wide table decodes neither out-of-range files nor wide columns).
        """
        snap = self.snapshot(snapshot_id)
        if col not in {f.name for f in snap.schema.fields}:
            raise ValueError(f"unknown column {col!r}")
        cand, mask, _ = self.plan_col_scan(col, lo, hi, snapshot_id)
        if columns is None:
            scan_schema = snap.schema
            payload = [f.name for f in snap.payload_schema().fields]
        else:
            need = dict.fromkeys(
                [*S.KEY_COLS, *columns, col, S.LSN_COL, S.DELETED_COL]
            )
            scan_schema = T.StructType(
                [f for f in snap.schema.fields if f.name in need]
            )
            payload = list(columns)
        if not cand:
            return self.spark.createDataFrame(
                [], T.StructType([f for f in scan_schema.fields if f.name in set(payload)])
            )
        keys = S.KEY_COLS
        rest = [f.name for f in scan_schema.fields if f.name not in keys]
        union: DataFrame | None = None
        for j in sorted(cand):
            part = self._scan_files(scan_schema, cand[j]).withColumn(
                "_seq", F.lit(j)
            )
            union = part if union is None else union.unionByName(part)
        winners = (
            union.groupBy(*keys)
            .agg(
                F.max_by(F.struct(*rest), F.struct(F.col(S.LSN_COL), F.col("_seq"))).alias("_w")
            )
            .select(*keys, "_w.*")
        )
        if mask:
            m = (
                self._scan_files(scan_schema, mask)
                .select(
                    F.col("conv_id").alias("_m_conv"),
                    F.col("turn_idx").alias("_m_turn"),
                    F.col(S.LSN_COL).alias("_m_lsn"),
                )
            )
            winners = winners.join(
                m,
                on=(
                    (F.col("conv_id") == F.col("_m_conv"))
                    & (F.col("turn_idx") == F.col("_m_turn"))
                    & (F.col("_m_lsn") > F.col(S.LSN_COL))
                ),
                how="left_anti",
            )
        out = winners.filter(~F.col(S.DELETED_COL))
        if lo is not None:
            out = out.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(col) <= F.lit(hi))
        return out.select(*payload)

    def plan_lookup(
        self, conv_id: str, snapshot_id: int | None = None
    ) -> tuple[int, list[tuple[int, str]], int]:
        """Driver-side point-lookup plan: ``(bucket, candidates, total)``
        where ``candidates`` is the bucket's file list pruned by the
        per-file key blooms, as ``(original_commit_seq, rel_path)`` pairs
        (the preserved seq keeps LSN-tie resolution commit-ordered), and
        ``total`` is the bucket's unpruned file count. Files without a
        bloom (pre-upgrade shards, keyBloom=false writers) are kept —
        pruning is only ever evidence-based. maestro.lookup.bloom=false
        disables pruning (the A/B path the equality tests use)."""
        from maestro_spark import filestats as FS
        from maestro_spark.keyhash import bucket_of

        snap = self.snapshot(snapshot_id)
        b = bucket_of(conv_id, snap.n_buckets)
        ps = snap.files.get(str(b), [])
        if self.spark.conf.get("maestro.lookup.bloom", "true") == "true":
            cand = [
                (j, p)
                for j, p in enumerate(ps)
                if FS.bloom_maybe_contains(self.file_stats.get(p), conv_id)
            ]
        else:
            cand = list(enumerate(ps))
        return b, cand, len(ps)

    def lookup(
        self,
        conv_id: str,
        turn_idx: int | None = None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Point read: live turns of one conversation (optionally one turn),
        touching only the ONE hash bucket the key lives in.

        The bucket is computed on the driver with the pure-Python twin of
        ``bucket_expr`` (maestro_spark.keyhash — parity property-tested
        against ``F.xxhash64``), so planning launches no job and the scan
        reads 1/n_buckets of the table's files regardless of table size.
        Within the bucket, per-file KEY BLOOMS (filestats) drop the delta
        files that never saw this conversation — at 100 TB a bucket holds
        hundreds of settled tier files and a given conversation lives in a
        handful, so the scan is per-conversation-sized, not bucket-sized.
        Inside the surviving files the key predicate is pushed to parquet,
        where ``write_bucket_files``'s (conv_id, turn_idx)
        sort-within-partitions makes row-group min/max stats prune to the
        few pages actually holding the key — an index-lookup-shaped read,
        not a scan. Per-file ``_seq`` tags carry each file's ORIGINAL
        commit position (bloom pruning preserves them), keeping the
        max-(_lsn, commit) winner rule identical to read_resolved's; blooms
        have no false negatives, so the result equals
        ``read().filter(conv_id = ...)`` exactly.
        """
        snap = self.snapshot(snapshot_id)
        payload = [f.name for f in snap.payload_schema().fields]
        _, cand, _ = self.plan_lookup(conv_id, snapshot_id=snapshot_id)
        if not cand:
            return self.spark.createDataFrame([], snap.payload_schema())
        pred = F.col("conv_id") == F.lit(conv_id)
        if turn_idx is not None:
            pred = pred & (F.col("turn_idx") == F.lit(turn_idx))
        keys = S.KEY_COLS
        rest = [f.name for f in snap.schema.fields if f.name not in keys]
        union: DataFrame | None = None
        for j, p in cand:
            part = (
                self._scan_files(snap.schema, [os.path.join(self.root, p)])
                .filter(pred)
                .withColumn("_seq", F.lit(j))
            )
            union = part if union is None else union.unionByName(part)
        winners = (
            union.groupBy(*keys)
            .agg(
                F.max_by(F.struct(*rest), F.struct(F.col(S.LSN_COL), F.col("_seq"))).alias("_w")
            )
            .select(*keys, "_w.*")
        )
        return winners.filter(~F.col(S.DELETED_COL)).select(*payload)

    def purge(self, conv_id: str) -> Snapshot:
        """Right-to-be-forgotten delete: physically erase one conversation's
        CONTENT from the current table state, rewriting only the one bucket
        the key lives in (IO is O(bucket), not O(table)).

        What remains is a payload-nulled tombstone per affected turn at that
        turn's last LSN **+ 1** — the engine forgets what was said but
        remembers THAT it was deleted, so (a) late re-deliveries at or below
        the purged LSN are rejected by normal max-LSN resolution (the +1
        makes the tombstone strictly dominate even an equal-LSN re-delivery
        of the purged content), and (b) the change
        feed emits ``op='delete'`` rows for the key, propagating the purge
        to downstream replicas (which must run their own purge to erase
        their history — same contract as any lake format).

        Older snapshots still reference the pre-purge files: physical
        erasure COMPLETES after ``expire_snapshots()`` + ``vacuum()``, which
        is the Iceberg/Delta GDPR story too. test_purge.py greps every
        surviving data file to prove the bytes are gone.
        """
        from maestro_spark.keyhash import bucket_of

        snap = self.snapshot()
        b = str(bucket_of(conv_id, snap.n_buckets))
        ps = snap.files.get(b, [])
        if not ps:
            return snap
        is_key = F.col("conv_id") == F.lit(conv_id)
        nullable_payload = [
            f.name
            for f in snap.payload_schema().fields
            if f.name not in S.KEY_COLS
        ]
        df = (
            self._scan_files(snap.schema, [os.path.join(self.root, p) for p in ps])
            .select(
                *S.KEY_COLS,
                *[
                    F.when(is_key, F.lit(None).cast(dict(
                        (f.name, f.dataType) for f in snap.schema.fields
                    )[c])).otherwise(F.col(c)).alias(c)
                    for c in nullable_payload
                ],
                # the tombstone takes lsn+1: it must STRICTLY dominate every
                # version already emitted for this key, or an equal-LSN late
                # re-delivery would win the (lsn, commit-seq) tie-break and
                # resurrect the purged content
                F.when(is_key, F.col(S.LSN_COL) + F.lit(1))
                .otherwise(F.col(S.LSN_COL))
                .alias(S.LSN_COL),
                F.when(is_key, F.lit(True)).otherwise(F.col(S.DELETED_COL)).alias(S.DELETED_COL),
            )
            .withColumn("pk_bucket", F.lit(int(b)))
        )
        # one winner per key first (the rewrite is also a compaction of this
        # bucket — re-writing every historical delta version of the purged
        # key as a null row would leak its row count)
        rest = [f.name for f in snap.schema.fields if f.name not in S.KEY_COLS]
        df = (
            df.groupBy("pk_bucket", *S.KEY_COLS)
            .agg(F.max_by(F.struct(*rest), F.col(S.LSN_COL)).alias("_w"))
            .select("pk_bucket", *S.KEY_COLS, "_w.*")
        )
        new_files = self.write_bucket_files(df.repartition("pk_bucket"))
        # base = the snapshot this rewrite was planned from: a delta landing
        # in this bucket while the rewrite job ran must conflict, not vanish
        return self.commit(
            {b: new_files.get(b, [])},
            epoch_key=None,
            stats={"purge_bucket": int(b)},
            append=False,
            base=snap.snapshot_id,
        )

    # ---------------------------------------------------------------- writes
    def write_bucket_files(
        self,
        df: DataFrame,
        sort_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
        schema: T.StructType | None = None,
    ) -> dict[str, list[str]]:
        """Write ``df`` (must carry ``pk_bucket``) as the new full content of
        its buckets; returns bucket -> relative paths. Files land under their
        final names but are invisible until a snapshot references them.

        ``sort_cols`` overrides the default within-file clustering (the
        clustered-compaction path passes e.g. ``["ts", ...]``);
        ``max_records_per_file`` splits each bucket's output into bounded
        files so the clustering becomes FILE-level zone-map structure, not
        just row-group order.

        ``schema`` is the table schema the files will be published under
        (defaults to the current snapshot's) — its logical->physical column
        map is applied here, the single chokepoint where data files are
        born, so every file of the table carries stable PHYSICAL names
        across metadata-only renames. A ``df`` already in physical names
        passes through unchanged (the rename is a no-op per absent column).
        """
        schema = schema if schema is not None else self.snapshot().schema
        cmap = S.column_map(schema)
        if cmap:
            ren = {l: p for l, p in cmap.items() if l in set(df.columns)}
            if ren:
                # ONE simultaneous Project (sequential renames break on
                # chains like body->text while text->text__p1)
                df = df.select(*[F.col(c).alias(ren.get(c, c)) for c in df.columns])
            sort_cols = [cmap.get(c, c) for c in sort_cols] if sort_cols else sort_cols
        commit_uid = uuid.uuid4().hex[:12]
        staging = os.path.join(self.root, f"_staging-{commit_uid}")
        # sort-within keeps (conv_id, turn_idx) clustered inside each file:
        # parquet min/max stats prune key lookups and the MOR resolver's
        # bucket-local merge stays cache-friendly. Spark would insert a
        # pk_bucket-only sort for the dynamic-partition write anyway, so the
        # marginal cost is the two extra sort keys. maestro.write.sortWithin=
        # false drops to that implicit sort for write-throughput experiments.
        if self.spark.conf.get("maestro.write.sortWithin", "true") == "true":
            df = df.sortWithinPartitions(
                "pk_bucket", *(sort_cols or ["conv_id", "turn_idx"])
            )
        # "__"-prefixed sort columns NOT in the table schema are ordering
        # helpers (e.g. the z-order key), not payload — project them away
        # AFTER the sort (a projection preserves the child's row order, so
        # the files stay clustered). A legitimate "__"-named payload column
        # is protected by the schema check.
        in_schema = S.physical_names(schema) | {f.name for f in schema.fields}
        helpers = [
            c for c in (sort_cols or []) if c.startswith("__") and c not in in_schema
        ]
        if helpers:
            df = df.drop(*helpers)
        writer = df.write.partitionBy("pk_bucket").mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(staging)
        out: dict[str, list[str]] = {}
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("pk_bucket="):
                continue
            b = entry.split("=", 1)[1]
            dst_dir = os.path.join(self.root, DATA_DIR, entry)
            os.makedirs(dst_dir, exist_ok=True)
            rels = []
            for i, fn in enumerate(sorted(os.listdir(os.path.join(staging, entry)))):
                if not fn.endswith(".parquet"):
                    continue
                rel = f"{DATA_DIR}/{entry}/{commit_uid}-{i:05d}.parquet"
                os.rename(os.path.join(staging, entry, fn), os.path.join(self.root, rel))
                rels.append(rel)
            if rels:
                out[b] = rels
        shutil.rmtree(staging, ignore_errors=True)
        # zone maps: footer stats for the files just born (metadata-only;
        # also feeds lineage, which therefore never re-opens these footers).
        # Key blooms (maestro.stats.keyBloom): the default "explicit" keeps
        # the ENTIRE ingest path untouched (events/sec is the north-star
        # metric; the A/B measured ~5-7% replay cost for auto modes) —
        # blooms are built by the serving-prep call build_key_blooms() /
        # CLI bloom-index. Opt-ins: "maintenance" backfills on the
        # compaction cadence, "commit" builds inline here (~0.6s/epoch at
        # bench scale), "off" disables even the explicit call. Lookups stay
        # exact in every mode (no bloom = no pruning).
        rels_all = [p for ps in out.values() for p in ps]
        extra = None
        mode = self.spark.conf.get("maestro.stats.keyBloom", "explicit")
        if rels_all and mode in ("commit", "true"):
            extra = self._build_key_blooms(rels_all)
        self.file_stats.add_files(rels_all, extra=extra)
        return out

    def build_key_blooms(self, snapshot_id: int | None = None) -> int:
        """Backfill per-file key blooms for every live file lacking one
        (idempotent; returns the number built). The serving-side prep call:
        run it once before opening a table to point-lookup traffic, or let
        the compaction cadence invoke it. Cost is one column-pruned scan of
        the UNBLOOMED files only — already-indexed files are never re-read,
        so steady-state cadence cost tracks the new-delta byte rate."""
        from maestro_spark import filestats as FS

        if self.spark.conf.get("maestro.stats.keyBloom", "explicit") in ("off", "false"):
            return 0
        snap = self.snapshot(snapshot_id)
        missing = [
            p
            for ps in snap.files.values()
            for p in ps
            if FS.BLOOM_FIELD not in (self.file_stats.get(p) or {})
        ]
        if not missing:
            return 0
        # Bounded backfill (r3 verdict #1): a mature table's first serving-prep
        # call can cover the WHOLE table — one job over all missing files would
        # hold every finished bitset at once and, worse, plan one giant scan.
        # Chunk the file list so each job scans a bounded file set and the
        # driver holds at most one chunk's finished ~KB bitsets (the bitsets
        # themselves are assembled EXECUTOR-side — see _build_key_blooms).
        batch = int(self.spark.conf.get("maestro.bloom.backfillBatchFiles", "256"))
        built = 0
        for i in range(0, len(missing), batch):
            extra = self._build_key_blooms(missing[i : i + batch])
            self.file_stats.merge_extra(extra)
            built += len(extra)
        return built

    def _build_key_blooms(self, rels: list[str]) -> dict[str, dict]:
        """Per-file conv_id bloom filters — the data path never touches the
        driver: one column-pruned scan of the files computing the two base
        hashes with codegen ``xxhash64`` (``h2`` chains the key through its
        own hash, the form the driver's pure-Python twin replicates for
        probing), a per-(file, pair) distinct whose MAP-SIDE partials dedupe
        before the shuffle (the exchange carries distinct 16-byte hash pairs,
        never key strings), then a per-file Arrow ``applyInPandas`` that
        packs the bitset EXECUTOR-side with vectorized numpy. The driver
        collects only finished ≤32 KiB bitsets — O(files), not O(keys) —
        so a whole-table backfill at the 10^10-event target stays KB-scale
        per file on the driver heap (r3 verdict #1). Bit-identical to the
        all-driver filestats.build_bloom twin (property-tested in
        tests/test_lookup.py): m | 2^64, so uint64 wraparound then ``% m``
        equals exact arithmetic ``% m``."""
        from urllib.parse import unquote, urlparse

        from pyspark.sql.types import LongType, StringType, StructField
        from pyspark.sql.types import StructType as _St

        from maestro_spark import filestats as FS

        k, bpk, max_bits = FS.BLOOM_K, FS.BLOOM_BITS_PER_KEY, FS.BLOOM_MAX_BITS

        def _assemble(pdf):
            import base64

            import numpy as np
            import pandas as pd

            n = len(pdf)
            m = 1024
            while m < bpk * n and m < max_bits:
                m <<= 1
            h1 = pdf["_h1"].to_numpy(np.int64).astype(np.uint64)
            h2 = pdf["_h2"].to_numpy(np.int64).astype(np.uint64)
            ks = np.arange(k, dtype=np.uint64)
            pos = (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m)
            bits = np.zeros(m // 8, dtype=np.uint8)
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).ravel(),
                (np.uint64(1) << (pos & np.uint64(7))).ravel().astype(np.uint8),
            )
            return pd.DataFrame(
                {
                    "_file": [pdf["_file"].iloc[0]],
                    "m": [m],
                    "k": [k],
                    "b64": [base64.b64encode(bits.tobytes()).decode()],
                }
            )

        out_schema = _St(
            [
                StructField("_file", StringType()),
                StructField("m", LongType()),
                StructField("k", LongType()),
                StructField("b64", StringType()),
            ]
        )
        paths = [os.path.join(self.root, r) for r in rels]
        rows = (
            self.spark.read.parquet(*paths)
            .select(
                F.input_file_name().alias("_file"),
                F.xxhash64("conv_id").alias("_h1"),
                F.xxhash64("conv_id", "conv_id").alias("_h2"),
            )
            .distinct()  # per-file distinct pairs, map-side partial dedup
            .groupBy("_file")
            .applyInPandas(_assemble, out_schema)
            .collect()
        )
        # Map JVM file URIs back to rels by their trailing path components
        # (DATA_DIR/pk_bucket=N/file.parquet) — abspath equality only worked
        # for local file:// roots; a suffix match is URI-scheme-agnostic.
        def _key(p: str) -> tuple:
            return tuple(p.replace(os.sep, "/").rstrip("/").split("/")[-3:])

        rel_by_key = {_key(rel): rel for rel in rels}
        extra: dict[str, dict] = {}
        for r in rows:
            p = (
                unquote(urlparse(r["_file"]).path)
                if "://" in r["_file"] or r["_file"].startswith("file:")
                else r["_file"]
            )
            rel = rel_by_key.get(_key(p))
            if rel is None:
                raise ValueError(
                    f"key-bloom build: scanned file {r['_file']!r} matches no "
                    "requested rel — path mapping bug, refusing to persist a "
                    "misattributed bloom"
                )
            extra[rel] = {
                FS.BLOOM_FIELD: {"m": int(r["m"]), "k": int(r["k"]), "b64": r["b64"]}
            }
        return extra

    def _validate_gap(
        self,
        lo: int,
        hi: Snapshot,
        epoch_key: str | None,
        append: bool,
        new_files: dict[str, list[str]],
        base_n_buckets: int,
        check_lsn: int | None,
    ) -> Snapshot | None:
        """Validate every committed snapshot in ``(lo, hi]`` against a commit
        planned from snapshot ``lo``. Returns ``hi`` when a duplicate
        delivery of ``epoch_key`` already landed in the gap (idempotence),
        None when the commit may rebase onto ``hi``, and raises
        :class:`CommitConflict` when an intervening commit made the rebase
        unsafe (rebucket, rollback, overlapping copy-on-write bucket, or an
        LSN at/above the ``check_lsn`` fence)."""
        for sid in range(lo + 1, hi.snapshot_id + 1):
            s = self.snapshot(sid)
            if epoch_key is not None and s.epoch_key == epoch_key:
                return hi  # duplicate delivery won the race
            if s.n_buckets != base_n_buckets:
                raise CommitConflict(
                    f"concurrent rebucket at snapshot {sid}: files "
                    f"target a {base_n_buckets}-bucket layout"
                ) from None
            if s.stats.get("rollback_to") is not None:
                raise CommitConflict(
                    f"concurrent rollback at snapshot {sid}; re-plan "
                    "from the current state"
                ) from None
            if check_lsn is not None:
                seen = s.stats.get("max_lsn")
                if seen is not None and seen >= check_lsn:
                    raise CommitConflict(
                        f"concurrent commit {sid} applied LSN {seen} >= this "
                        f"statement's LSN {check_lsn}; re-acquire the LSN and "
                        "re-plan (one-LSN-one-payload fence)"
                    ) from None
            if not append:
                s_parent = self.snapshot(s.parent_id)
                touched = {
                    b for b, ps in s.files.items()
                    if ps != s_parent.files.get(b)
                }
                touched |= {b for b in s_parent.files if b not in s.files}
                overlap = touched & set(new_files)
                if overlap:
                    raise CommitConflict(
                        f"concurrent commit {sid} rewrote buckets "
                        f"{sorted(overlap)[:8]} this copy-on-write "
                        "commit also replaces; re-plan from the "
                        "current state"
                    ) from None
        return None

    def commit(
        self,
        new_files: dict[str, list[str]],
        epoch_key: str | None,
        schema: T.StructType | None = None,
        stats: dict | None = None,
        append: bool = False,
        retries: int | None = None,
        base: int | None = None,
        check_lsn: int | None = None,
        replace_schema: bool = False,
        dropped_add: list[str] | None = None,
    ) -> Snapshot:
        """Commit new bucket files; untouched buckets carried forward by
        reference. ``append=False`` (copy-on-write / compaction) replaces each
        listed bucket's file set; ``append=True`` (merge-on-read delta commit)
        appends the new files after the bucket's existing ones.

        ``base`` is the snapshot id the caller PLANNED from (read its file
        lists / schema / max LSN). The whole window between that planning
        read and this commit is validated — every snapshot committed in
        ``(base, tip]`` runs through the same validate-and-rebase rules
        BEFORE the first publish attempt, so a delta landing while a
        compaction/purge/COW job runs raises :class:`CommitConflict` instead
        of being silently dropped by the rewrite. Omitting ``base`` (the
        pre-round-3 behavior) protects only the CAS window itself.

        ``check_lsn`` is the statement-LSN fence for DML: if any snapshot in
        the validated gap applied an LSN >= ``check_lsn``, the commit raises
        so the statement can re-acquire a fresh LSN — preserving the
        one-LSN-one-payload invariant under concurrent statements.

        Concurrent writers are handled with optimistic concurrency (the
        Iceberg model): the snapshot-id hard-link publish is the CAS, and a
        loser re-reads the chain, VALIDATES that every intervening commit is
        compatible with this one, rebases its file manifest onto the new
        tip, and retries (up to ``maestro.commit.retries`` times, default 5;
        pass ``retries=0`` for strict single-writer behavior — the loser
        then sees the raw FileExistsError).

        Validation rules, per intervening snapshot:
        - same ``epoch_key`` already landed → this is a duplicate delivery
          racing itself; return the current tip unchanged (idempotence).
        - rebucket or rollback in the gap → :class:`CommitConflict` (our
          files target the wrong layout / a retracted state).
        - ``append=True`` (MOR delta): always rebasable otherwise — delta
          files are per-epoch batch winners and the max-(lsn, seq) resolve
          is order-insensitive across writers; a concurrent compaction only
          folded *older* files, so appending after it stays correct.
        - ``append=False`` (COW / compaction): rebasable only when the
          intervening commits touched DISJOINT buckets — our replacement
          content was computed from the planning snapshot's bucket state, so
          an overlapping touch (or drop) means lost updates →
          :class:`CommitConflict` (caller re-plans from the new tip).
        The published schema is re-merged against the tip's on every rebase,
        so a concurrent schema evolution is never silently narrowed.
        """
        if retries is None:
            retries = int(self.spark.conf.get("maestro.commit.retries", "5"))
        parent = self.snapshot()
        base_n_buckets = (
            parent.n_buckets if base is None else self.snapshot(base).n_buckets
        )
        if base is not None and parent.snapshot_id > base:
            dup = self._validate_gap(
                base, parent, epoch_key, append, new_files, base_n_buckets, check_lsn
            )
            if dup is not None:
                return dup
        my_schema = schema or parent.schema
        # replace_schema (ALTER TABLE rename/drop): the published schema IS
        # ``schema`` — the add-only merge would resurrect renamed/dropped
        # fields. Safe only because the DDL planned against ``base``: any
        # concurrent schema change in the gap (or across a rebase) must
        # conflict instead of being silently overwritten.
        if replace_schema:
            base_schema_json = self.snapshot(
                base if base is not None else parent.snapshot_id
            ).schema_json
            if parent.schema_json != base_schema_json:
                raise CommitConflict(
                    "concurrent schema change while an ALTER was planned; "
                    "re-plan the ALTER from the current schema"
                )
        app_manifest: str | None = None  # written once, reused across rebases
        for _ in range(retries + 1):
            files = dict(parent.files)
            if append:
                for b, ps in new_files.items():
                    files[b] = [*files.get(b, []), *ps]
            else:
                files.update(new_files)
            snap = Snapshot(
                snapshot_id=parent.snapshot_id + 1,
                parent_id=parent.snapshot_id,
                epoch_key=epoch_key,
                schema_json=json.dumps(
                    my_schema.jsonValue()
                    if replace_schema
                    else S.merge_schemas(parent.schema, my_schema).jsonValue()
                ),
                files=files,
                n_buckets=parent.n_buckets,
                stats=stats or {},
                # the retired-physical-name registry is monotone: every
                # commit carries it forward (names only — O(drops) metadata)
                dropped=sorted(set(parent.dropped) | set(dropped_add or [])),
            )
            # append fast path: per-commit metadata is one manifest of THIS
            # commit's files + the parent's name list — O(new files), the
            # shape a 10^10-event snapshot chain needs. A legacy inline
            # parent (manifest_list None) consolidates once, upgrading the
            # table in place.
            names = None
            if append and parent.manifest_list is not None:
                if app_manifest is None:
                    app_manifest = self._write_manifest(new_files)
                names = [*parent.manifest_list, app_manifest]
            try:
                self._publish(snap, manifest_names=names)
                return snap
            except FileExistsError:
                if retries == 0:
                    raise
                current = self.snapshot()
                dup = self._validate_gap(
                    parent.snapshot_id, current, epoch_key, append,
                    new_files, base_n_buckets, check_lsn,
                )
                if dup is not None:
                    return dup
                if replace_schema and current.schema_json != base_schema_json:
                    raise CommitConflict(
                        "concurrent schema change while an ALTER was "
                        "publishing; re-plan the ALTER from the current schema"
                    )
                parent = current
        raise CommitConflict(f"commit lost the publish race {retries + 1} times")

    def rollback(self, to_snapshot: int) -> Snapshot:
        """Revert the table to ``to_snapshot``'s content by publishing a NEW
        snapshot that re-states its files and schema (forward-only history —
        the bad epochs stay visible for audit; nothing is deleted). The undo
        story for a bad epoch or a poisoned upstream batch.

        Two consumer contracts change at a rollback boundary:
        - :meth:`changes` REFUSES ranges that span it (a rollback's delta is
          expressed by files *removed* relative to its parent, which the
          added-files feed cannot represent); feed consumers re-sync via a
          full rebuild — exactly what ``ivm.ConvStatsView`` does on the
          raised error.
        - epoch idempotence keys of the rolled-back epochs REMAIN committed
          (same as Iceberg + a streaming checkpoint): re-delivering the bad
          epoch under the same ``(query_id, epoch_id)`` is still skipped.
          Re-applying corrected data needs a fresh epoch id / query id.
        """
        target = self.snapshot(to_snapshot)
        parent = self.snapshot()
        snap = Snapshot(
            snapshot_id=parent.snapshot_id + 1,
            parent_id=parent.snapshot_id,
            epoch_key=None,
            schema_json=target.schema_json,
            files=dict(target.files),
            n_buckets=parent.n_buckets,
            stats={"rollback_to": to_snapshot},
            # the name registry is monotone even across a rollback: files of
            # the rolled-back epochs may survive in retained snapshots, so
            # their retired physical names stay reserved
            dropped=sorted(set(target.dropped) | set(parent.dropped)),
        )
        try:
            # pinned parent+1 publish = the race guard (see rebucket): a
            # commit landing after the planning read steals the id, and the
            # operator must re-decide against the new tip. Re-stating an old
            # state means the SAME immutable manifests: reuse the target's
            # list verbatim (zero new manifest bytes; vacuum retains shared
            # manifests while either snapshot is retained).
            self._publish(snap, manifest_names=target.manifest_list)
        except FileExistsError:
            raise CommitConflict(
                "concurrent commit landed while rollback was staged; "
                "re-examine the new tip and re-issue"
            ) from None
        return snap

    def rebucket(self, new_n_buckets: int) -> Snapshot:
        """Re-hash the table into ``new_n_buckets`` buckets (one content-
        preserving maintenance snapshot; ONE exchange on the new bucket key).

        The operational escape hatch a hash-bucketed table needs at scale:
        the bucket count fixed at create time caps per-bucket parallelism
        and file sizes, and a table that grows 100x needs more buckets.
        Tombstones are carried (not resolved away), so late-arrival
        rejection below the watermark keeps working across the boundary;
        epoch idempotence keys live in the snapshot chain and survive.
        Readers pinned to older snapshots keep the old layout (per-snapshot
        file manifests); the change feed skips the rebucket snapshot like
        any maintenance commit, and subsequent epochs diff against the new
        layout. Merge epochs after the rebucket pick up the new count from
        the current snapshot automatically.
        """
        t0 = time.time()
        snap = self.snapshot()
        if new_n_buckets == snap.n_buckets:
            return snap
        df = self.read_resolved().withColumn(
            "pk_bucket", bucket_expr("conv_id", new_n_buckets)
        )
        new_files = self.write_bucket_files(df.repartition("pk_bucket"))
        out = Snapshot(
            snapshot_id=snap.snapshot_id + 1,
            parent_id=snap.snapshot_id,
            epoch_key=None,
            schema_json=snap.schema_json,
            files=new_files,
            n_buckets=new_n_buckets,
            dropped=list(snap.dropped),
            stats={
                "maintenance": "rebucket",
                "from_buckets": snap.n_buckets,
                "to_buckets": new_n_buckets,
                "rebucket_s": round(time.time() - t0, 3),
            },
        )
        try:
            # publishing at the PLANNED parent+1 id is itself the race guard:
            # any commit landing after the planning read steals that id and
            # the hard-link CAS fails here — surfaced as the documented
            # conflict (re-plan from the new tip), never a silent drop
            self._publish(out)
        except FileExistsError:
            raise CommitConflict(
                "concurrent commit landed while rebucket ran; re-plan from "
                "the current state"
            ) from None
        return out

    def clone(self, dest_root: str, snapshot_id: int | None = None) -> "LakeTable":
        """Zero-copy clone of one snapshot into an independent table at
        ``dest_root`` (dev/test sandboxing, fan-out experimentation). Data
        files are hard-linked (copy fallback across filesystems): the engine
        never mutates a committed data file in place, so both tables can
        commit, compact, expire, and vacuum independently — each unlinks only
        its own paths, and the inode survives until the last link drops."""
        snap = self.snapshot(snapshot_id)
        for sub in (SNAP_DIR, DATA_DIR, LEDGER_DIR, LINEAGE_DIR):
            os.makedirs(os.path.join(dest_root, sub), exist_ok=True)
        for ps in snap.files.values():
            for rel in ps:
                src = os.path.join(self.root, rel)
                dst = os.path.join(dest_root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if not os.path.exists(dst):
                    try:
                        os.link(src, dst)
                    except OSError:  # cross-device: fall back to a copy
                        shutil.copy2(src, dst)
        # zone-map shards ride along (entries for un-cloned files are inert)
        from maestro_spark.filestats import SHARD_PREFIX

        for fn in os.listdir(os.path.join(self.root, SNAP_DIR)):
            if fn.startswith(SHARD_PREFIX) and fn.endswith(".json"):
                shutil.copy2(
                    os.path.join(self.root, SNAP_DIR, fn),
                    os.path.join(dest_root, SNAP_DIR, fn),
                )
        out = LakeTable(self.spark, dest_root)
        out._publish(
            Snapshot(
                snapshot_id=0,
                parent_id=None,
                epoch_key=None,
                schema_json=snap.schema_json,
                files={b: list(ps) for b, ps in snap.files.items()},
                n_buckets=snap.n_buckets,
                dropped=list(snap.dropped),
                stats={
                    "cloned_from": self.root,
                    "source_snapshot": snap.snapshot_id,
                    # stable branch identity: adopt() dedupes re-published
                    # branch commits on (branch_id, branch snapshot id), so
                    # crash-resume works for commits with NO epoch key too
                    # (purge / compact / rollback inside a transaction)
                    "branch_id": uuid.uuid4().hex,
                },
            )
        )
        return out

    def snapshot_id_at(self, ts) -> int:
        """Time travel by wall clock: the snapshot that was current at
        ``ts`` (float epoch seconds or datetime) — the latest retained
        snapshot with ``committed_at <= ts``. Raises if ``ts`` predates the
        retained history (expire_snapshots bounds the horizon, as in any
        lake format). Pass the result to ``read(snapshot_id=...)`` /
        ``lookup`` / ``changes`` — "what did this conversation look like
        yesterday" composes from this plus a point lookup."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            ts = ts.timestamp()
        best = None
        for sid in self.snapshot_ids():
            # 1µs tolerance: ISO text and datetime carry at most
            # microseconds, and the float<->datetime round-trip a caller
            # pays to format a committed_at loses ~0.5µs — without the
            # tolerance, "AS OF <the very instant s1 committed>" can
            # resolve to s1's parent. Commits are never µs apart.
            if self.snapshot(sid).committed_at <= ts + 1e-6:
                best = sid
        if best is None:
            raise ValueError(
                f"no retained snapshot at or before {ts} (history expired?)"
            )
        return best

    # -------------------------------------------------------- introspection
    def meta_files(self, snapshot_id: int | None = None) -> DataFrame:
        """Metadata table (Iceberg ``table.files`` parity): one row per live
        data file of the snapshot, with bucket, commit position, and the
        zone-map stats (rows, lsn/ts bounds). Driver-side manifest+fstats
        arithmetic only — no data IO, any table size."""
        snap = self.snapshot(snapshot_id)
        rows = []
        for b, ps in snap.files.items():
            for seq, p in enumerate(ps):
                st = self.file_stats.get_or_read(p)
                rows.append((
                    int(b), seq, p, int(st["rows"] or 0),
                    st["lsn_min"], st["lsn_max"], st["ts_min"], st["ts_max"],
                ))
        return self.spark.createDataFrame(
            rows,
            "bucket int, commit_seq int, path string, rows long, "
            "lsn_min long, lsn_max long, ts_min_us long, ts_max_us long",
        )

    def meta_snapshots(self) -> DataFrame:
        """Metadata table (Iceberg ``table.history``/``snapshots`` parity):
        the retained snapshot chain with parentage, epoch key, file/bucket
        counts, and the commit's recorded stats as a JSON string."""
        rows = []
        for sid in self.snapshot_ids():
            s = self.snapshot(sid)
            rows.append((
                sid, s.parent_id, s.epoch_key, s.n_buckets,
                sum(len(ps) for ps in s.files.values()),
                len([b for b, ps in s.files.items() if ps]),
                json.dumps(s.stats),
            ))
        return self.spark.createDataFrame(
            rows,
            "snapshot_id int, parent_id int, epoch_key string, n_buckets int, "
            "files long, buckets long, stats_json string",
        )

    def adopt(self, branch: "LakeTable") -> Snapshot:
        """Write-audit-publish: fast-forward this table to a staged branch.

        The WAP pattern (Iceberg's branch + fast-forward): ``clone()`` a
        zero-copy branch, replay/merge the new epochs INTO THE BRANCH, run
        audits on the branch's read surface (reconverge_check, validators,
        row-count gates — anything), and only then ``adopt()`` the branch:
        every branch commit above the fork point is re-published onto main
        in order, hard-linking its data files (no data copy, no recompute).
        Until adopt, main's readers never see unaudited data; an audit
        failure costs one discarded directory.

        Epoch keys, stats (incl. maintenance / rollback markers — so change
        feed refusal semantics carry over), and schema evolution ride along.
        Preconditions: the branch must have been cloned FROM this table's
        current snapshot (strict fast-forward — if main moved, re-stage;
        this is `CommitConflict`, same contract as an overlapping COW race)
        and must not have been rebucketed. Exception: a crash mid-adopt
        leaves main at fork + a prefix of the branch's commits —
        re-running adopt(branch) RESUMES: every adopted commit is stamped
        with the branch's identity + branch snapshot id
        (``adopted_branch`` / ``adopted_branch_snapshot`` in stats), and
        resume dedupes on that pair — which covers commits with NO epoch
        key (purge, compact, rollback inside a transaction) exactly like
        epoch commits, so the publish is exactly-once end to end.
        """
        b0 = branch.snapshot(0)
        fork = b0.stats.get("source_snapshot")
        branch_id = b0.stats.get("branch_id")
        if b0.stats.get("cloned_from") is None or fork is None:
            raise ValueError("adopt() target must be a clone() of this table")
        cur = self.snapshot()
        if cur.snapshot_id != fork or b0.files != cur.files:
            # crash-resume: a previous adopt of THIS branch may have died
            # mid-way — main then sits at fork + a prefix of the branch's
            # commits (each stamped with this branch's identity). Those are
            # re-skipped below; anything else in the gap is a real conflict.
            branch_sids = set(branch.snapshot_ids()) - {0}

            def _resumable(s: Snapshot) -> bool:
                return (
                    branch_id is not None
                    and s.stats.get("adopted_branch") == branch_id
                    and s.stats.get("adopted_branch_snapshot") in branch_sids
                )

            if cur.snapshot_id < fork or any(
                not _resumable(self.snapshot(i))
                for i in self.snapshot_ids()
                if i > fork
            ):
                raise CommitConflict(
                    f"branch forked at snapshot {fork} but main is at "
                    f"{cur.snapshot_id}; re-stage from the current state"
                )
        out = cur
        done = self.committed_epoch_keys()
        adopted: set[int] = set()
        if branch_id is not None:
            for i in self.snapshot_ids():
                if i <= (fork or 0):
                    continue
                st = self.snapshot(i).stats
                if st.get("adopted_branch") == branch_id:
                    adopted.add(st.get("adopted_branch_snapshot"))
        for sid in branch.snapshot_ids():
            if sid == 0:
                continue
            s = branch.snapshot(sid)
            if sid in adopted or (s.epoch_key is not None and s.epoch_key in done):
                continue  # already adopted (resume after a mid-adopt crash)
            if s.n_buckets != cur.n_buckets:
                raise CommitConflict("branch was rebucketed; adopt unsupported")
            sp = branch.snapshot(s.parent_id)
            changed = {
                b: list(ps) for b, ps in s.files.items() if ps != sp.files.get(b)
            }
            for b in sp.files:
                if b not in s.files:
                    changed[b] = []
            for ps in changed.values():
                for rel in ps:
                    src = os.path.join(branch.root, rel)
                    dst = os.path.join(self.root, rel)
                    if not os.path.exists(dst):
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        try:
                            os.link(src, dst)
                        except OSError:  # cross-device
                            shutil.copy2(src, dst)
            try:
                out = self.commit(
                    changed,
                    epoch_key=s.epoch_key,
                    schema=s.schema,
                    stats={
                        **s.stats,
                        "adopted_branch_snapshot": sid,
                        "adopted_branch": branch_id,
                    },
                    append=False,
                    retries=0,
                    # ALTER and rollback commits published s.schema VERBATIM
                    # on the branch (replace semantics) — re-publishing them
                    # through the add-only merge would resurrect renamed/
                    # dropped fields on main. Fast-forward guarantees main
                    # sits at the branch commit's own parent state, so the
                    # verbatim replace is exactly the original commit.
                    replace_schema=bool(
                        s.stats.get("maintenance") == "alter"
                        or s.stats.get("rollback_to") is not None
                    ),
                    # the retired-physical-name registry is monotone and
                    # must survive the adopt, or a later same-name re-add
                    # on main would decode stale bytes out of older files
                    dropped_add=sorted(set(s.dropped) - set(sp.dropped))
                    or None,
                )
            except FileExistsError:
                # a foreign writer landed mid-adopt: surface the documented
                # conflict. The already-published prefix stays (stamped with
                # the branch identity); the operator re-stages against the
                # new tip — same strict fast-forward contract as adopt entry.
                raise CommitConflict(
                    "concurrent commit landed mid-adopt; the adopted prefix "
                    "is stamped — re-stage/re-adopt against the new tip"
                ) from None
        # zone-map shards for the adopted files ride along
        from maestro_spark.filestats import SHARD_PREFIX

        for fn in os.listdir(os.path.join(branch.root, SNAP_DIR)):
            if fn.startswith(SHARD_PREFIX) and fn.endswith(".json"):
                dst = os.path.join(self.root, SNAP_DIR, fn)
                if not os.path.exists(dst):
                    shutil.copy2(os.path.join(branch.root, SNAP_DIR, fn), dst)
        return out

    def export(self, dest_root: str, snapshot_id: int | None = None) -> dict:
        """Exactly-once export of one snapshot's LIVE rows (payload columns,
        tombstones resolved away) to a plain parquet directory a non-maestro
        consumer can read with any engine.

        Layout: ``<dest>/snapshot=<id>/part-*.parquet`` plus a ``LATEST``
        pointer JSON published with the same hard-link CAS as table commits.
        Idempotent per snapshot: re-exporting an already-exported snapshot
        is a no-op (the CAS on LATEST's sibling marker refuses a second
        publisher, a crashed half-export leaves only an invisible _tmp dir
        that the next attempt clears). Consumers either read the pinned
        ``snapshot=<id>`` dir (stable forever) or follow LATEST.
        """
        snap = self.snapshot(snapshot_id)
        sid = snap.snapshot_id
        final = os.path.join(dest_root, f"snapshot={sid}")
        marker = os.path.join(dest_root, f"_exported-{sid}.json")
        os.makedirs(dest_root, exist_ok=True)
        if os.path.exists(marker):
            return json.load(open(marker))
        tmp = os.path.join(dest_root, f"_tmp-{uuid.uuid4().hex[:12]}")
        self.read(snapshot_id=sid).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(final, ignore_errors=True)  # stale half-rename
        os.rename(tmp, final)
        meta = {"snapshot_id": sid, "path": final,
                "rows": None, "schema": snap.payload_schema().simpleString()}
        try:
            _atomic_write_json(marker, meta, exclusive=True)
        except FileExistsError:  # a racer exported the same snapshot first
            return json.load(open(marker))
        _atomic_write_json(os.path.join(dest_root, "LATEST"), meta, exclusive=False)
        # a crashed exporter's _tmp-* dir is invisible garbage (consumers
        # read snapshot=* or LATEST only); it is NOT swept here because a
        # concurrent exporter of another snapshot may be mid-write in its own
        return meta

    def transaction(self, scratch_dir: str | None = None):
        """Multi-statement atomic transaction: a context manager yielding a
        zero-copy branch of the current snapshot. Statements inside the
        block (DML verbs, merge_batch epochs, purge, compact) apply to the
        branch; on clean exit the branch fast-forwards into this table as
        one adopt (all-or-nothing against concurrent writers — a moved main
        raises CommitConflict and nothing lands); on exception the branch
        is discarded and main is untouched. Readers of main never observe a
        partially-applied transaction.

            with table.transaction() as txn:
                dml.update_where(txn, ..., {...})
                dml.delete_where(txn, ...)
            # both visible now, atomically
        """
        import contextlib
        import tempfile

        outer = self

        @contextlib.contextmanager
        def _txn():
            d = scratch_dir or tempfile.mkdtemp(prefix="maestro_txn_")
            branch = outer.clone(os.path.join(d, "branch"))
            try:
                yield branch
                outer.adopt(branch)
            finally:
                shutil.rmtree(d, ignore_errors=True)

        return _txn()

    @staticmethod
    def _export_cursor(dest_root: str) -> int:
        """The change-export high-water mark, derived from the immutable
        exclusively-created range markers (``_exported-<from13>-<to13>.json``)
        rather than a mutable last-write-wins file — append-only markers
        make cursor regression structurally impossible."""
        best = 0
        if not os.path.isdir(dest_root):
            return best
        for f in os.listdir(dest_root):
            m = re.fullmatch(r"_exported-(\d{13})-(\d{13})\.json", f)
            if m:
                best = max(best, int(m.group(2)))
        return best

    # -------------------------------------------------- cross-table txn
    def transaction_multi(self, *others: "LakeTable", scratch_dir: str | None = None):
        """Cross-table atomic transaction (r2 verdict #7): a context manager
        yielding zero-copy branches of this table and ``others``; on clean
        exit ALL branches publish, on exception or crash-while-staging NONE
        do. The single-CAS ordering rule: this table is the COORDINATOR —
        the durable commit point is one exclusively-created intent record
        (``txn-<id>.json``) in the coordinator's snapshot dir, written only
        after every branch is staged and every main is re-validated at its
        fork. Before the intent exists nothing is visible and a crash
        discards only scratch; after it, completion ROLLS FORWARD — each
        per-table adopt is itself crash-resumable, and
        :meth:`resume_transactions` (run automatically at the next
        transaction, or explicitly) finishes a half-published transaction,
        so readers can transiently observe table A published before table B
        but the system always converges to both-or-neither.

        Concurrent FOREIGN writers to a member table between the intent and
        its adopt surface as the documented :class:`CommitConflict` (same
        strict fast-forward contract as single-table adopt); the intent file
        stays behind recording the partial state for retry/operator
        resolution — atomicity here is against crashes, not against racing
        writers that the OCC contract already rejects.

            with base.transaction_multi(view_table) as (b, v):
                merge_batch(b, events, ...)
                ConvStatsView(spark, b, v.root).refresh()
            # base and its view land atomically
        """
        import contextlib

        coordinator = self
        tables = [self, *others]

        @contextlib.contextmanager
        def _txn():
            coordinator.resume_transactions()  # finish any prior half-publish
            tid = uuid.uuid4().hex[:12]
            d = scratch_dir or os.path.join(coordinator.root, f"_txnwork-{tid}")
            branches = [
                t.clone(os.path.join(d, f"b{i}")) for i, t in enumerate(tables)
            ]
            try:
                yield branches
            except BaseException:
                shutil.rmtree(d, ignore_errors=True)
                raise
            # pre-flight: every main still at its branch's fork (narrow the
            # window; the authoritative check is inside each adopt)
            for t, b in zip(tables, branches):
                fork = b.snapshot(0).stats.get("source_snapshot")
                if t.snapshot().snapshot_id != fork:
                    shutil.rmtree(d, ignore_errors=True)
                    raise CommitConflict(
                        f"table {t.root} moved past fork {fork}; re-stage"
                    )
            intent = {
                "txn": tid,
                "tables": [t.root for t in tables],
                "branches": [b.root for b in branches],
                "workdir": d,
            }
            ipath = os.path.join(coordinator.root, SNAP_DIR, f"txn-{tid}.json")
            _atomic_write_json(ipath, intent, exclusive=True)  # COMMIT POINT
            coordinator._complete_txn(intent, ipath)

        return _txn()

    def _complete_txn(self, intent: dict, ipath: str) -> None:
        """Roll a committed transaction forward: adopt every branch (each
        adopt is resume-safe), then retire the intent + scratch."""
        for troot, broot in zip(intent["tables"], intent["branches"]):
            t = self if troot == self.root else LakeTable(self.spark, troot)
            t.adopt(LakeTable(self.spark, broot))
        os.unlink(ipath)
        shutil.rmtree(intent["workdir"], ignore_errors=True)

    def resume_transactions(self) -> int:
        """Finish transactions whose intent record exists but whose adopts
        were interrupted (crash between the commit point and completion).
        Returns the number of transactions rolled forward. Intents whose
        scratch branches are gone (completed + already-retired races) are
        dropped."""
        done = 0
        sdir = os.path.join(self.root, SNAP_DIR)
        for fn in sorted(os.listdir(sdir)):
            if not (fn.startswith("txn-") and fn.endswith(".json")):
                continue
            ipath = os.path.join(sdir, fn)
            try:
                intent = json.load(open(ipath))
            except (OSError, ValueError):
                continue  # racing completion unlinked it
            if not all(os.path.isdir(b) for b in intent["branches"]):
                os.unlink(ipath)  # branches retired: transaction finished
                continue
            self._complete_txn(intent, ipath)
            done += 1
        return done

    def export_changes(self, dest_root: str, format: str = "parquet") -> dict:
        """Exactly-once incremental export of the change feed to plain
        parquet a non-maestro consumer can tail: each call writes the delta
        since the last exported snapshot as ``changes/<from>-<to>/*.parquet``
        (rows carry ``op``/``lsn``, tombstones as ``op='delete'``).

        ``format='debezium'`` writes the range as standard Debezium
        envelope JSONL instead (:func:`ingest.to_debezium` — upserts as
        ``u``/after, deletes as ``d``/before, engine LSN in source.lsn), so
        the subscriber can be ANY Debezium consumer — including a second
        instance of this engine via ``stream_ingest(source='debezium')``.
        A destination directory is one format forever (a ``_format.json``
        sentinel refuses a mismatched later call — consumers tail one wire
        format, never a mix).

        Exactly-once under concurrent exporters and crashes:

        - The cursor is DERIVED from the append-only range markers (see
          :meth:`_export_cursor`), never from a rewritable file, so it can
          only move forward; ``CHANGES_CURSOR`` is kept as a best-effort
          convenience cache for consumers.
        - The range's upper bound is pinned by an exclusively-created CLAIM
          (``_claim-<from>.json``): racers that read different tips still
          export the IDENTICAL range (the loser joins the winner's claim),
          so ``changes/*`` dirs never overlap.
        - A crash after the claim but before the marker is resumed by the
          next call (same claim → same range → same dir); the rename is
          atomic and a racer's already-renamed identical dir is kept.

        Rollbacks in the range make :meth:`changes` raise; recover with
        :meth:`reset_export_cursor` (consumer re-syncs from a full
        :meth:`export`)."""
        if format not in ("parquet", "debezium"):
            raise ValueError(f"export format {format!r} — accepted: "
                             "parquet, debezium")
        os.makedirs(dest_root, exist_ok=True)
        fmt_sentinel = os.path.join(dest_root, "_format.json")
        if not os.path.exists(fmt_sentinel) and os.path.isdir(
            os.path.join(dest_root, "changes")
        ):
            # pre-sentinel destination: every range it holds is parquet
            # (the only format that existed) — pin that before validating,
            # so an upgraded engine can't silently mix formats into it
            _atomic_write_json(fmt_sentinel, {"format": "parquet"},
                               exclusive=False)

        def check_format() -> None:
            have = json.load(open(fmt_sentinel))["format"]
            if have != format:
                raise ValueError(
                    f"export dir {dest_root!r} already serves format "
                    f"{have!r}; a destination is one wire format forever"
                )

        if os.path.exists(fmt_sentinel):
            check_format()
        cur = self.snapshot().snapshot_id
        frm = self._export_cursor(dest_root)
        if cur <= frm:
            return {"from": frm, "to": frm, "rows": 0, "path": None}
        # only a call that writes a range decides the destination's format
        try:
            _atomic_write_json(fmt_sentinel, {"format": format}, exclusive=True)
        except FileExistsError:  # set by a racer since the check above
            check_format()
        claim = os.path.join(dest_root, f"_claim-{frm:013d}.json")
        try:
            _atomic_write_json(claim, {"from": frm, "to": cur}, exclusive=True)
            to = cur
        except FileExistsError:  # join/resume the range a racer claimed
            to = json.load(open(claim))["to"]
        marker = os.path.join(dest_root, f"_exported-{frm:013d}-{to:013d}.json")
        final = os.path.join(dest_root, "changes", f"{frm:013d}-{to:013d}")
        if not os.path.exists(marker):
            tmp = os.path.join(dest_root, f"_tmp-{uuid.uuid4().hex[:12]}")
            if format == "debezium":
                from maestro_spark.ingest import to_debezium

                to_debezium(self.changes(frm, to)).write.mode(
                    "overwrite"
                ).text(tmp)
            else:
                self.changes(frm, to).write.mode("overwrite").parquet(tmp)
            os.makedirs(os.path.dirname(final), exist_ok=True)
            try:
                os.rename(tmp, final)
            except OSError:  # a racer on the same claim renamed the
                shutil.rmtree(tmp, ignore_errors=True)  # identical range
            try:
                _atomic_write_json(
                    marker, {"from": frm, "to": to, "path": final}, exclusive=True
                )
            except FileExistsError:
                pass  # a racer published the identical marker first
        _atomic_write_json(  # cache only; truth is the marker set
            os.path.join(dest_root, "CHANGES_CURSOR"),
            {"exported_through": self._export_cursor(dest_root)},
            exclusive=False,
        )
        return {"from": frm, "to": to, "path": final,
                "rows": None}

    def reset_export_cursor(
        self, dest_root: str, to_snapshot: int | None = None
    ) -> dict:
        """Re-baseline a wedged change export (e.g. a rollback landed above
        the cursor, making :meth:`changes` raise for every future range):
        publish a data-less range marker advancing the cursor to
        ``to_snapshot`` (default: current tip). The consumer must re-sync
        from a full :meth:`export` of that snapshot — the skipped range is
        deliberately NOT exported as deltas."""
        os.makedirs(dest_root, exist_ok=True)
        frm = self._export_cursor(dest_root)
        to = self.snapshot(to_snapshot).snapshot_id if to_snapshot is not None \
            else self.snapshot().snapshot_id
        if to <= frm:
            return {"from": frm, "to": frm, "rebaseline": False}
        marker = os.path.join(dest_root, f"_exported-{frm:013d}-{to:013d}.json")
        try:
            _atomic_write_json(
                marker, {"from": frm, "to": to, "path": None, "rebaseline": True},
                exclusive=True,
            )
        except FileExistsError:
            pass  # racer re-baselined (or exported) the same range
        _atomic_write_json(
            os.path.join(dest_root, "CHANGES_CURSOR"),
            {"exported_through": self._export_cursor(dest_root)},
            exclusive=False,
        )
        return {"from": frm, "to": to, "rebaseline": True}

    # ----------------------------------------------------------- maintenance
    def compact(
        self,
        buckets: list[int] | None = None,
        tombstone_horizon_lsn: int | None = None,
        cluster_by: list[str] | None = None,
        target_file_rows: int | None = None,
        zorder: bool = False,
    ) -> Snapshot:
        """Rewrite buckets into minimal files; optionally GC tombstones whose
        ``_lsn`` is below ``tombstone_horizon_lsn``.

        Dropping a tombstone is safe once no event with a lower LSN can still
        arrive (the caller decides the horizon from the source watermark /
        ledger); after GC a stale insert below the horizon could no longer be
        rejected, which is exactly what the horizon asserts cannot happen.
        Content (live rows) is unchanged — verified by tests.

        ``cluster_by`` (Iceberg sort-compaction parity): order each bucket's
        rewrite by these columns and split the output into files of at most
        ``target_file_rows`` rows, so the generalized zone maps keep pruning
        AFTER the fold. Without it, a compacted bucket is one file spanning
        the table's whole ts range and a "yesterday's conversations" range
        read degrades to a full-bucket scan — exactly the property M10
        promises for deltas, extended to the compacted base. Correctness is
        untouched (MOR output has one row per key, so intra-commit file
        order is irrelevant); the trade is coarser conv_id bounds per file,
        which the key-bloom skipping (M29) covers for point lookups.

        ``zorder=True`` (with 2+ ``cluster_by`` columns) orders by the
        Morton-interleaved key (:func:`maestro_spark.ops.zorder_key`)
        instead of lexicographically, so EVERY clustered column keeps
        tight per-file zone-map bounds — a lexicographic ("ts",
        "turn_idx") sort gives each file the full turn_idx range, and a
        turn_idx range read degrades to a full scan. Scaling bounds come
        driver-side from the zone-map store (zero data IO).
        """
        from pyspark.sql import functions as F  # local import to avoid cycle

        t0 = time.time()
        snap = self.snapshot()
        todo = buckets if buckets is not None else [int(b) for b in snap.files]
        df = self.read_resolved(todo)
        if tombstone_horizon_lsn is not None:
            df = df.filter(
                ~F.col(S.DELETED_COL) | (F.col(S.LSN_COL) >= tombstone_horizon_lsn)
            )
        df = df.withColumn("pk_bucket", bucket_expr("conv_id", snap.n_buckets))
        sort_cols = [*cluster_by, "conv_id", "turn_idx"] if cluster_by else None
        if cluster_by and zorder:
            from maestro_spark.ops import zorder_key

            bounds: dict[str, tuple] = {}
            rels = [p for b in todo for p in snap.files.get(str(b), [])]
            cmap = S.column_map(snap.schema)
            for c in cluster_by:
                per_file = [
                    (self.file_stats.get_or_read(p).get("cols") or {}).get(
                        cmap.get(c, c)  # footer stats are physical-keyed
                    )
                    for p in rels
                ]
                if per_file and all(b is not None for b in per_file):
                    bounds[c] = (
                        min(b[0] for b in per_file),
                        max(b[1] for b in per_file),
                    )  # else: zorder_key computes this column's bounds itself
            df = df.withColumn("__z", zorder_key(df, cluster_by, bounds=bounds))
            sort_cols = ["__z", "conv_id", "turn_idx"]
        new_files = self.write_bucket_files(
            df.repartition("pk_bucket"),
            sort_cols=sort_cols,
            max_records_per_file=target_file_rows,
        )
        # a compacted bucket that became empty must drop its file entry
        for b in todo:
            new_files.setdefault(str(b), [])
        stats = {
            "maintenance": "compact",
            "buckets": todo,
            "compact_s": round(time.time() - t0, 3),
        }
        if cluster_by:
            stats["cluster_by"] = list(cluster_by)
            if zorder:
                stats["zorder"] = True
        return self.commit(
            new_files,
            epoch_key=None,
            stats=stats,
            base=snap.snapshot_id,
        )

    def delta_buckets(self, max_deltas: int) -> list[int]:
        """Buckets whose delta-file count has reached the compaction
        threshold — the LSM levelling trigger. Pure manifest arithmetic."""
        snap = self.snapshot()
        return sorted(int(b) for b, ps in snap.files.items() if len(ps) >= max_deltas)

    def _file_bytes(self, rel: str) -> int:
        """On-disk size of a committed data file — zone-map lookup first
        (harvested at write time), getsize fallback for pre-upgrade files."""
        st = self.file_stats.get(rel)
        if st is not None and st.get("bytes") is not None:
            return int(st["bytes"])
        return os.path.getsize(os.path.join(self.root, rel))

    @staticmethod
    def _fold_suffix(sizes: list[int], min_fold: int, factor: float) -> int:
        """Size-tier selection: how many files of the commit-ordered SUFFIX
        to fold. Walk newest→oldest, including a file while it is at most
        ``factor``× the largest file already included; fold only when at
        least ``min_fold`` files qualify (so a [base, tier] pair whose sizes
        differ by more than ``factor`` is a stable no-op, not a re-fold).
        Equal-size tiers merge wholesale; a settled base file more than
        ``factor``× the accumulated delta tier is never touched — each byte
        is therefore rewritten O(log_factor(table/delta)) times instead of
        once per cadence. The fold set being a CONTIGUOUS suffix preserves
        the (_lsn, commit-seq) resolution order exactly: the folded file
        takes the suffix's position in the bucket list."""
        k, biggest = 0, 0
        for b in reversed(sizes):
            if k == 0 or b <= factor * biggest:
                k += 1
                biggest = max(biggest, b)
            else:
                break
        return k if k >= min_fold else 0

    def compact_tiered(
        self,
        buckets: list[int] | None = None,
        min_fold: int = 2,
        factor: float | None = None,
    ) -> Snapshot | None:
        """Size-tiered compaction: fold each bucket's small recent delta tier
        into one file — work proportional to DELTA bytes, never a cadence
        rewrite of settled base files (the r2 measured scale-killer: at
        thousands of epochs, full-bucket folds cost O(table) per trigger).

        Zero-shuffle by construction: the fold set is read by the mor_scan
        source (whole buckets packed one task per core, bucket-local resolve)
        with ``pk_bucket`` parsed from the partition path, so the partitionBy
        write emits one folded file per bucket without an exchange — read +
        resolve + write of just the tier bytes.

        Tombstones are NEVER GC'd here: a fold reads a subset of the bucket,
        and dropping a tombstone while an older live version of its key
        still sits in an unread base file would resurrect the row. Horizon
        GC stays in :meth:`compact` (full-bucket rewrite) only.

        Returns the maintenance snapshot, or None when no bucket had a
        foldable tier."""
        t0 = time.time()
        snap = self.snapshot()
        if factor is None:
            factor = float(self.spark.conf.get("maestro.compact.tierFactor", "4.0"))
        todo = [int(b) for b in snap.files] if buckets is None else buckets
        keep: dict[str, list[str]] = {}
        groups: list[list[str]] = []
        fold_bytes = 0
        n_fold_files = 0
        for b in todo:
            ps = snap.files.get(str(b), [])
            sizes = [self._file_bytes(p) for p in ps]
            k = self._fold_suffix(sizes, min_fold, factor)
            if not k:
                continue
            keep[str(b)] = ps[: len(ps) - k]
            groups.append([os.path.join(self.root, p) for p in ps[len(ps) - k:]])
            fold_bytes += sum(sizes[len(ps) - k:])
            n_fold_files += k
        if not groups:
            return None
        fold_mode = self.spark.conf.get("maestro.compact.fold", "auto")
        if fold_mode == "auto":
            # measured on the 20-epoch/68.6M-event sweep, when the Arrow fold
            # still ran one Python task per bucket: the JVM shuffle fold wins
            # on big tiers (18.1s vs 29.4s on a 1.07 GB fold — codegen scan
            # beats Arrow-socket transfer), the zero-shuffle Arrow fold wins
            # on small ones (1.5s vs 12.5s on 8.5 MB — per-position scan jobs
            # + an exchange are pure fixed cost there). Packing buckets one
            # task per core cut the Arrow fold's fixed cost, so the crossover
            # likely sits above this threshold now; not re-measured since.
            big = int(
                self.spark.conf.get(
                    "maestro.compact.foldShuffleMinBytes", str(256 << 20)
                )
            )
            fold_mode = "shuffle" if fold_bytes >= big else "local"
        if fold_mode == "shuffle":
            # JVM-native fold: one scan per commit position (bounded by the
            # tier depth, not table size) tagged with _seq, ONE exchange on
            # pk_bucket, and a bucket-co-partitioned max_by — grouping keys
            # are a superset of the partitioning key, so Catalyst inserts no
            # second shuffle. Whole-stage-codegen end to end; measured ~4×
            # the Arrow path's throughput on equal-tier folds (the shuffle
            # moves only delta-tier bytes, which is what this policy bounds).
            maxlen = max(len(g) for g in groups)
            tagged = None
            for j in range(maxlen):
                fs = [g[j] for g in groups if len(g) > j]
                part = self._scan_files(snap.schema, fs).withColumn(
                    "_seq", F.lit(j)
                )
                tagged = part if tagged is None else tagged.unionByName(part)
            tagged = tagged.withColumn(
                "pk_bucket", bucket_expr("conv_id", snap.n_buckets)
            ).repartition("pk_bucket")
            keys = ["pk_bucket", "conv_id", "turn_idx"]
            rest = [c for c in tagged.columns if c not in keys and c != "_seq"]
            df = (
                tagged.groupBy(*keys)
                .agg(
                    F.max_by(
                        F.struct(*rest),
                        F.struct(F.col(S.LSN_COL), F.col("_seq")),
                    ).alias("_w")
                )
                .select(*keys, *[f"_w.{c}" for c in rest])
            )
        else:
            # Arrow fold: zero-shuffle (one mor_scan task per core reads and
            # resolves its whole buckets, and the partitionBy write lands
            # without an exchange)
            # — the cluster-friendly shape when shuffle bandwidth, not CPU,
            # is the constraint. maestro.compact.fold=local selects it.
            from maestro_spark import mor_scan

            mor_scan.register(self.spark)
            # the Arrow fold reads+writes in PHYSICAL names end to end (its
            # output goes straight back to write_bucket_files, where the
            # logical->physical rename is a per-absent-column no-op)
            scan_schema = T.StructType(
                [
                    T.StructField("pk_bucket", T.IntegerType(), True),
                    *S.physical_schema(snap.schema).fields,
                ]
            )
            df = (
                self.spark.read.format(mor_scan.FORMAT_NAME)
                .schema(scan_schema)
                .option("schema_json", json.dumps(scan_schema.jsonValue()))
                .option("groups_json", json.dumps(groups))
                .option("slots", str(self.spark.sparkContext.defaultParallelism))
                .option("n_buckets", str(snap.n_buckets))
                .option("pushdown", "false")
                .load()
            )
        new_files = self.write_bucket_files(df)
        out = self.commit(
            {b: keep[b] + new_files.get(b, []) for b in keep},
            epoch_key=None,
            stats={
                "maintenance": "compact-tiered",
                "buckets": sorted(int(b) for b in keep),
                "fold_files": n_fold_files,
                "fold_bytes": fold_bytes,
                "compact_s": round(time.time() - t0, 3),
            },
            append=False,
            base=snap.snapshot_id,
        )
        # opt-in bloom maintenance rides the compaction cadence: index the
        # freshly folded files plus any deltas that landed since the last
        # fold — O(unbloomed bytes) only (default "explicit" skips this;
        # ingest-time compactions then cost nothing extra)
        if self.spark.conf.get("maestro.stats.keyBloom", "explicit") == "maintenance":
            self.build_key_blooms(snapshot_id=out.snapshot_id)
        return out

    def expire_snapshots(
        self, keep_last: int = 10, older_than_seconds: float | None = None
    ) -> int:
        """Drop old snapshot manifests (time-travel horizon); their data
        files become orphans for :meth:`vacuum` unless still referenced by a
        retained snapshot. The epoch-idempotence keys of expired snapshots
        are preserved in the ledger, so exactly-once survives expiry.

        Tagged snapshots (:meth:`tag`) are NEVER expired — a tag is a
        promise that the pinned id stays readable until the tag is dropped
        (their data files stay referenced, so vacuum keeps them too).

        ``older_than_seconds`` (Iceberg ``expire_snapshots(older_than=)``
        parity) additionally restricts the drop to snapshots committed more
        than that many seconds ago — the newest ``keep_last`` are retained
        regardless."""
        ids = self.snapshot_ids()
        keep = set(self.tags().values())
        cutoff = (
            time.time() - older_than_seconds
            if older_than_seconds is not None
            else None
        )
        drop = [
            sid
            for sid in (ids[:-keep_last] if keep_last else ids[:-1])
            if sid not in keep
            and (cutoff is None or self.snapshot(sid).committed_at < cutoff)
        ]
        for sid in drop:
            os.unlink(self._snap_path(sid))
        return len(drop)

    # --------------------------------------------------------------- hygiene
    def orphan_files(self) -> list[str]:
        """Data files referenced by no snapshot (crash leftovers) — GC input."""
        referenced = set()
        for sid in self.snapshot_ids():
            for ps in self.snapshot(sid).files.values():
                referenced.update(ps)
        orphans = []
        droot = os.path.join(self.root, DATA_DIR)
        for dirpath, _, files in os.walk(droot):
            for fn in files:
                rel = os.path.relpath(os.path.join(dirpath, fn), self.root)
                if rel not in referenced:
                    orphans.append(rel)
        return orphans

    def vacuum(
        self,
        manifest_grace_seconds: float | None = None,
        dry_run: bool = False,
    ) -> int:
        """Delete orphan data files + stale staging dirs + unreferenced
        manifests. Data-file orphans are unreachable by definition (commit =
        snapshot publish), BUT an in-flight commit's artifacts exist before
        its snapshot does: its data files live in a ``_staging-`` dir (never
        touched until renamed into place) and its manifest is written once
        and held across the whole CAS validate/rebase retry loop. Manifest GC
        therefore skips anything younger than a grace period (mtime-based,
        the Iceberg orphan-cleanup rule; default
        ``maestro.vacuum.manifestGraceSeconds`` = 300) — concurrent-writer
        safety holds as long as no single commit attempt outlives the grace.
        Pass ``manifest_grace_seconds=0`` only when no writer can be mid-commit.

        ``dry_run=True`` (Delta VACUUM DRY RUN parity) deletes nothing and
        returns the orphan data-file count the real call would remove."""
        if manifest_grace_seconds is None:
            manifest_grace_seconds = float(
                self.spark.conf.get("maestro.vacuum.manifestGraceSeconds", "300")
            )
        if dry_run:
            return len(self.orphan_files())
        n = 0
        for rel in self.orphan_files():
            os.unlink(os.path.join(self.root, rel))
            n += 1
        for entry in os.listdir(self.root):
            if entry.startswith("_staging-"):
                shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)
        # manifest GC: m-*.json referenced by no retained snapshot (expired
        # history, CAS-loser leftovers) and older than the grace period.
        referenced: set[str] = set()
        for sid in self.snapshot_ids():
            ml = self.snapshot(sid).manifest_list
            if ml:
                referenced.update(ml)
        sdir = os.path.join(self.root, SNAP_DIR)
        now = time.time()
        for fn in os.listdir(sdir):
            if (
                fn.startswith(MANIFEST_PREFIX)
                and fn.endswith(".json")
                and fn not in referenced
            ):
                p = os.path.join(sdir, fn)
                try:
                    if now - os.path.getmtime(p) < manifest_grace_seconds:
                        continue  # possibly an in-flight commit's manifest
                except OSError:
                    continue  # raced a concurrent delete
                os.unlink(p)
                self._manifest_cache.pop(fn, None)
        if n:
            live: set[str] = set()
            for sid in self.snapshot_ids():
                for ps in self.snapshot(sid).files.values():
                    live.update(ps)
            self.file_stats.compact_shards(live)
        return n


def show_create(table: "LakeTable", name: str) -> str:
    """The ``CREATE TABLE`` statement that reproduces this table's current
    schema and layout through the warehouse front door (``SHOW CREATE
    TABLE`` parity) — logical column names and types from the live
    snapshot, bucketing in WITH. Metadata only."""
    snap = table.snapshot()
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in snap.payload_schema().fields
    )
    return f"CREATE TABLE {name} ({cols}) WITH (n_buckets = {snap.n_buckets})"


def describe(table: "LakeTable") -> dict:
    """One-call table report (SHOW CREATE TABLE + DESCRIBE DETAIL parity):
    schema, layout, current snapshot, tags, CHECK constraints, and
    zone-map-derived size totals — all metadata, zero data IO."""
    snap = table.snapshot()
    rows = files = size = 0
    for ps in snap.files.values():
        for p in ps:
            st = table.file_stats.get_or_read(p)
            rows += st.get("rows") or 0
            size += st.get("bytes") or 0
            files += 1
    return {
        "root": table.root,
        "schema": [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in snap.payload_schema().fields
        ],
        "key": list(S.KEY_COLS),
        "n_buckets": snap.n_buckets,
        "snapshot_id": snap.snapshot_id,
        "snapshots_retained": len(table.snapshot_ids()),
        "files": files,
        "rows_incl_tombstones": rows,
        "bytes": size,
        "tags": table.tags(),
        "constraints": table.constraints(),
        "materialized_views": _declared_views(table),
        "indexes": _declared_indexes(table),
    }


def _declared_views(table: "LakeTable") -> list[dict]:
    from maestro_spark import ivm

    return ivm.list_declared(table)


def _declared_indexes(table: "LakeTable") -> list[dict]:
    from maestro_spark import index_maint

    return index_maint.list_declared(table)


def optimize(
    table: "LakeTable",
    expire_keep_last: int = 10,
    cluster_by: list[str] | None = None,
    target_file_rows: int | None = None,
    blooms: bool = True,
    zorder: bool = False,
    refresh: list | None = None,
    refresh_registered: bool = True,
) -> dict:
    """One-call table maintenance (the Iceberg OPTIMIZE / maintenance-job
    parity): fold delta tiers (or, with ``cluster_by``, run a clustered full
    rewrite so zone maps keep pruning after the fold), backfill key blooms
    for the serving path, expire old snapshots, and vacuum orphans +
    unreferenced manifests (grace-protected). Each step is the engine's own
    idempotent primitive, so a crash mid-optimize loses nothing — re-run it.
    ``refresh``: maintained views / indexes over this table (anything with
    the ``refresh()`` contract — ``ivm.ConvStatsView``, the
    ``index_maint.Maintained*Index`` family). They fold FIRST, before
    expiry/vacuum can trim the change-feed horizon their delta refresh
    reads from. ``refresh_registered`` (default on) additionally folds
    every PERSISTED view and index in the table's own registries
    (``ivm.registered_views`` / ``index_maint.registered_indexes`` —
    declared via ``ivm.declare`` / ``index_maint.declare_index`` or the
    SQL ``CREATE MATERIALIZED VIEW`` / ``CREATE INDEX``) the same way, so
    routine maintenance never silently forces a declared view or index
    into the full-rebuild fallback by expiring its feed horizon.

    Returns a step → outcome summary."""
    out: dict[str, object] = {}
    snap0 = table.snapshot().snapshot_id
    refresh = list(refresh or [])
    if refresh_registered:
        from maestro_spark import index_maint as _im
        from maestro_spark import ivm as _ivm

        # a registry view/index also passed explicitly refreshes twice: the
        # second fold sees a current cursor and no-ops — no dedupe needed
        refresh += _ivm.registered_views(table.spark, table)
        refresh += _im.registered_indexes(table.spark, table)
    if refresh:
        out["refreshed"] = [
            {type(v).__name__: v.refresh() is not None} for v in refresh
        ]
    if cluster_by:
        s = table.compact(
            cluster_by=cluster_by,
            target_file_rows=target_file_rows,
            zorder=zorder,
        )
        out["compact"] = {
            "mode": "zorder" if zorder else "clustered",
            "snapshot": s.snapshot_id,
        }
    else:
        s = table.compact_tiered()
        out["compact"] = {
            "mode": "tiered",
            "snapshot": s.snapshot_id if s is not None else None,
            "noop": s is None,
        }
    if blooms:
        out["blooms_built"] = table.build_key_blooms()
    out["snapshots_expired"] = table.expire_snapshots(keep_last=expire_keep_last)
    out["files_vacuumed"] = table.vacuum()
    out["snapshot_before"] = snap0
    out["snapshot_after"] = table.snapshot().snapshot_id
    return out


def register_catalog(
    spark: SparkSession,
    warehouse: str,
    prefix: str = "",
    metadata_views: bool = True,
    changes_views: bool = True,
) -> dict[str, "LakeTable"]:
    """Catalog-level SQL registration (the Iceberg-catalog parity shim):
    discover every lake table directly under ``warehouse`` (any child dir
    holding a ``_snapshots/`` chain) and register, per table ``<name>``:

    - ``<prefix><name>`` — MOR-resolved live rows (snapshot-isolated, see
      :meth:`LakeTable.create_view`)
    - ``<prefix><name>__files`` / ``<prefix><name>__history`` — the
      metadata tables (zero data IO; manifest + zone-map stats only)
    - ``<prefix><name>__changes`` — the CDC feed over the retained
      snapshot horizon (Delta ``table_changes`` parity): one net row per
      key changed since the earliest retained snapshot, tombstones as
      ``op='delete'`` with their winning ``lsn``; skipped (not an error)
      when the retained range spans a rollback, where the added-files feed
      cannot express the delta and consumers re-sync from a full read
    - ``<prefix><name>__scd2`` — Type-2 version history over the same
      horizon (:meth:`LakeTable.scd2`: per-version LSN validity intervals,
      ``is_current``); skipped with ``__changes`` on a rollback span

    plus one catalog-wide ``<prefix>__catalog`` staleness view
    (``table_name, pinned_snapshot, tip_snapshot, snapshots_behind`` as of
    registration time),

    so an analyst session becomes ``register_catalog(spark, wh)`` followed
    by plain ``spark.sql`` over every table, including joins across tables
    and ops queries over the metadata views. Returns ``{name: LakeTable}``
    for engine-API access to the same handles.

    Temp views are plan-time-pinned (the documented snapshot-isolation
    contract), so a long-lived session reads the snapshots current AT
    registration. The refresh ergonomics: :func:`catalog_staleness` reports
    live how far each pin trails its table's tip, and
    :func:`refresh_catalog` re-pins everything to current (a cheap
    metadata-only re-registration — no data IO) and returns what moved."""
    tables: dict[str, LakeTable] = {}
    pins: dict[str, int] = {}
    for entry in sorted(os.listdir(warehouse)):
        root = os.path.join(warehouse, entry)
        if not os.path.isdir(os.path.join(root, SNAP_DIR)):
            continue
        t = LakeTable(spark, root)
        sid = t.snapshot().snapshot_id  # one consistent pin for every view
        t.create_view(prefix + entry, snapshot_id=sid)
        if metadata_views:
            t.meta_files().createOrReplaceTempView(f"{prefix}{entry}__files")
            t.meta_snapshots().createOrReplaceTempView(f"{prefix}{entry}__history")
        if changes_views:
            try:
                t.changes(t.snapshot_ids()[0], sid).createOrReplaceTempView(
                    f"{prefix}{entry}__changes"
                )
                t.scd2(t.snapshot_ids()[0], sid).createOrReplaceTempView(
                    f"{prefix}{entry}__scd2"
                )
            except ValueError:
                # retained range spans a rollback: the added-files feed
                # cannot express removed files — consumers re-sync from a
                # full read, and the data/metadata views above still stand;
                # drop any stale pin so nothing silently serves old changes
                spark.catalog.dropTempView(f"{prefix}{entry}__changes")
                spark.catalog.dropTempView(f"{prefix}{entry}__scd2")
        tables[entry] = t
        pins[entry] = sid
    _CATALOG_PINS[(os.path.abspath(warehouse), prefix)] = pins
    _catalog_view(spark, warehouse, prefix)
    return tables


# registration-time pins per (warehouse, prefix) — the staleness baseline
_CATALOG_PINS: dict[tuple[str, str], dict[str, int]] = {}


def _catalog_view(spark: SparkSession, warehouse: str, prefix: str) -> None:
    rows = [
        (name, st["pinned_snapshot"], st["tip_snapshot"], st["snapshots_behind"])
        for name, st in catalog_staleness(spark, warehouse, prefix).items()
    ]
    spark.createDataFrame(
        rows,
        "table_name string, pinned_snapshot long, tip_snapshot long, "
        "snapshots_behind long",
    ).createOrReplaceTempView(f"{prefix}__catalog")


def catalog_staleness(
    spark: SparkSession, warehouse: str, prefix: str = ""
) -> dict[str, dict]:
    """Live staleness report for a registered catalog: per table,
    ``{pinned_snapshot, tip_snapshot, snapshots_behind}`` — "view pinned at
    snapshot N, tip is M" (driver-side snapshot-chain metadata only, zero
    data IO). Tables created in the warehouse AFTER registration appear
    with ``pinned_snapshot=None`` (no view serves them yet)."""
    pins = _CATALOG_PINS.get((os.path.abspath(warehouse), prefix), {})
    out: dict[str, dict] = {}
    for entry in sorted(os.listdir(warehouse)):
        root = os.path.join(warehouse, entry)
        if not os.path.isdir(os.path.join(root, SNAP_DIR)):
            continue
        tip = LakeTable(spark, root).snapshot().snapshot_id
        pinned = pins.get(entry)
        out[entry] = {
            "pinned_snapshot": pinned,
            "tip_snapshot": tip,
            "snapshots_behind": (tip - pinned) if pinned is not None else None,
        }
    return out


def refresh_catalog(
    spark: SparkSession,
    warehouse: str,
    prefix: str = "",
    metadata_views: bool = True,
    changes_views: bool = True,
) -> dict[str, dict]:
    """Re-pin every catalog view to its table's current snapshot (the cheap
    metadata-only re-registration :func:`register_catalog` documents) and
    return, per table, what moved: the pre-refresh staleness entries with a
    ``refreshed`` flag. New tables that appeared in the warehouse since
    registration are picked up too (``pinned_snapshot=None`` → refreshed)."""
    before = catalog_staleness(spark, warehouse, prefix)
    register_catalog(
        spark, warehouse, prefix,
        metadata_views=metadata_views, changes_views=changes_views,
    )
    return {
        name: {**st, "refreshed": st["snapshots_behind"] != 0}
        for name, st in before.items()
    }


def _show_derived(table: "LakeTable", kind: str) -> DataFrame:
    """Result rows for ``SHOW MATERIALIZED VIEWS`` / ``SHOW INDEXES``: one
    row per persisted declaration registered over ``table`` (root path +
    the declaration JSON) — pure registry metadata, no Spark jobs."""
    from maestro_spark import index_maint as _im
    from maestro_spark import ivm as _ivm

    rows = (_ivm.list_declared(table) if kind == "views"
            else _im.list_declared(table))
    return table.spark.createDataFrame(
        [(d["root"], json.dumps({k: v for k, v in d.items() if k != "root"}))
         for d in rows] or [],
        "root string, declaration string",
    )


def warehouse_sql(
    spark: SparkSession, warehouse: str, query: str, prefix: str = ""
) -> DataFrame:
    """Warehouse-level SQL front door — the multi-table twin of
    :meth:`LakeTable.sql` (r5 final). One call routes any statement of the
    engine's SQL surface against the tables under ``warehouse``:

    - ``CREATE TABLE [IF NOT EXISTS] <name> (col type, …) [WITH
      (n_buckets = K)]`` — provision an empty lake table at
      ``<warehouse>/<name>``. The column list goes to Spark's DDL schema
      parser verbatim and MUST include the engine's key contract
      (``conv_id string, turn_idx int``); reserved internal names refuse.
    - ``CREATE TABLE <name> [WITH (…)] AS SELECT …`` — CTAS: the SELECT
      runs over the registered catalog (sibling lake tables join freely),
      and the result lands as one fenced upsert epoch (duplicate keys in
      the SELECT refuse — a statement must be unambiguous about a key's
      final value).
    - ``DROP TABLE [IF EXISTS] <name>`` — removes the table, its REGISTERED
      materialized views and indexes (they are derived data owned by the
      table), and its session views.
    - DML / ``ALTER TABLE`` / ``OPTIMIZE`` / ``VACUUM`` — the statement's
      own target name picks the table; delegates to that table's
      :meth:`LakeTable.sql` (same fenced builders, same refusals).
    - SELECT — runs over the registered catalog; inline time travel
      (``<table> VERSION|TIMESTAMP AS OF …``) is resolved PER TABLE, so a
      join of one table's history against another's tip is one statement.
    - ``SHOW TABLES`` / ``DESCRIBE [TABLE] <name>`` — catalog listing and
      the one-call :func:`describe` report as result rows (metadata only);
      ``DESCRIBE HISTORY|FILES <name>`` serves the snapshot-chain /
      file-manifest metadata tables (``meta_snapshots``/``meta_files``).
    - ``CREATE/REFRESH/DROP MATERIALIZED VIEW`` / ``… INDEX`` — CREATE
      routes by its inline base reference (``FROM <t>`` / ``ON <t>``);
      REFRESH/DROP resolve the owning base from the view/index's own
      persisted declaration (quoted-path targets; bare names resolve
      relative to a base table, so those use that table's front door).

    Scale: provisioning and routing are driver-side metadata; every data
    plan is the same one the single-table door produces."""
    from maestro_spark import sqldml

    def _summary(op: str, **kw) -> DataFrame:
        return spark.createDataFrame(
            [(op, json.dumps(kw))], "op: string, summary: string"
        )

    def _root_of(tname: str) -> str:
        root = os.path.join(warehouse, tname)
        if not os.path.isdir(os.path.join(root, SNAP_DIR)):
            raise ValueError(
                f"no lake table {tname!r} under {warehouse} "
                f"(have: {sorted(_lake_dirs(warehouse)) or 'none'})"
            )
        return root

    if sqldml.is_table_ddl(query):
        spec = sqldml.parse_table_ddl(query)
        tname = spec["name"]
        root = os.path.join(warehouse, tname)
        exists = os.path.isdir(os.path.join(root, SNAP_DIR))
        if exists and spec["op"] == "create":
            # a crash between mkdir and the first snapshot publish leaves a
            # half-born dir: no committed state exists, so CREATE resumes
            # it instead of refusing against (or opening) an empty shell
            try:
                LakeTable(spark, root).snapshot()
            except (IndexError, FileNotFoundError):
                shutil.rmtree(root)
                exists = False
        if spec["op"] == "drop":
            if not exists:
                if spec["if_exists"]:
                    return _summary("drop_table", dropped=None)
                raise ValueError(f"no lake table {tname!r} under {warehouse}")
            t = LakeTable(spark, root)
            from maestro_spark import index_maint as _im
            from maestro_spark import ivm as _ivm

            # ownership gate: only remove derived data whose own persisted
            # declaration points back at THIS table — a foreign registry
            # marker (e.g. a registry dir copied wholesale from another
            # table) must never make DROP TABLE delete someone else's
            # view/index directory
            derived = [
                d["root"]
                for d in (*_ivm.list_declared(t), *_im.list_declared(t))
                if d.get("base_root") == os.path.abspath(root)
            ]
            for d in derived:
                shutil.rmtree(d, ignore_errors=True)
                for side in (f"{d}._index.json",):
                    if os.path.exists(side):
                        os.unlink(side)
            shutil.rmtree(root)
            for v in (tname, f"{tname}__files", f"{tname}__history",
                      f"{tname}__changes"):
                spark.catalog.dropTempView(prefix + v)
            return _summary("drop_table", dropped=root, derived_dropped=derived)
        # CREATE
        params = dict(spec["params"])
        n_buckets = params.pop("n_buckets", 64)
        if params:
            raise ValueError(
                f"unknown CREATE TABLE WITH parameter(s) {sorted(params)} "
                "— accepted: n_buckets"
            )
        if not isinstance(n_buckets, int) or n_buckets < 1:
            raise ValueError("n_buckets must be a positive int")
        if exists:
            if spec["if_not_exists"]:
                t = LakeTable(spark, root)
                t.create_view(prefix + tname)
                return t.read()
            raise ValueError(f"lake table {tname!r} already exists at {root}")
        if spec["columns"] is not None:
            schema = T.StructType.fromDDL(spec["columns"])
            _validate_payload_contract(schema)
            schema = T.StructType([
                T.StructField(f.name, f.dataType, f.name not in S.KEY_COLS)
                for f in schema.fields
            ])
            t = LakeTable.create(spark, root, payload_schema=schema,
                                 n_buckets=n_buckets)
            t.create_view(prefix + tname)
            return t.read()
        # CTAS: the SELECT sees every sibling table
        register_catalog(spark, warehouse, prefix=prefix)
        df = spark.sql(spec["select"])
        _validate_payload_contract(df.schema)
        fields = [
            T.StructField(f.name, f.dataType, f.name not in S.KEY_COLS)
            for f in df.schema.fields
        ]
        t = LakeTable.create(spark, root,
                             payload_schema=T.StructType(fields),
                             n_buckets=n_buckets)
        try:
            from maestro_spark.dml import upsert

            upsert(t, df, query_id="ctas")
        except Exception:
            shutil.rmtree(root, ignore_errors=True)  # no half-born tables
            raise
        t.create_view(prefix + tname)
        return t.read()

    if re.match(r"^\s*show\s+tables\s*;?\s*$", query, re.I):
        rows = []
        for tname in sorted(_lake_dirs(warehouse)):
            t = LakeTable(spark, os.path.join(warehouse, tname))
            snap = t.snapshot()
            rows.append((tname, snap.snapshot_id, snap.n_buckets,
                         len(snap.payload_schema().fields)))
        return spark.createDataFrame(
            rows or [], "table_name string, snapshot_id long, n_buckets int, "
                        "n_columns int",
        )
    if meta := sqldml.describe_meta(query):
        kind, tname = meta
        t = LakeTable(spark, _root_of(tname))
        return t.meta_snapshots() if kind == "history" else t.meta_files()
    if sd := sqldml.show_derived_target(query):
        kind, tname = sd
        if tname is None:
            raise ValueError(
                f"warehouse SHOW {'MATERIALIZED VIEWS' if kind == 'views' else 'INDEXES'} "
                "needs ON <table> (the registry lives with the base table)"
            )
        return _show_derived(LakeTable(spark, _root_of(tname)), kind)
    if sc_name := sqldml.show_create_target(query):
        t = LakeTable(spark, _root_of(sc_name))
        return spark.createDataFrame(
            [(show_create(t, sc_name),)], "create_statement string"
        )
    if dm := re.match(r"^\s*describe\s+(?:table\s+)?([A-Za-z_]\w*)\s*;?\s*$",
                      query, re.I):
        t = LakeTable(spark, _root_of(dm.group(1)))
        rep = describe(t)
        return spark.createDataFrame(
            [(k, json.dumps(v) if not isinstance(v, str) else v)
             for k, v in rep.items()],
            "property string, value string",
        )
    if sqldml.is_script(query):
        # CROSS-TABLE transaction script: each statement applies to its own
        # table's zero-copy branch; COMMIT publishes every table through
        # the coordinator-intent protocol (transaction_multi) — ALL tables
        # move or NONE do, even across a crash mid-publish.
        stmts, term = sqldml.parse_script(query)
        if term == "rollback" or not stmts:
            return _summary("transaction", statements_applied=0, tables=[])
        targets = []
        for s_ in stmts:
            tgt = sqldml.statement_target(s_)
            if tgt is None:
                raise ValueError(
                    f"cannot find the target table of {s_[:60]!r}"
                )
            targets.append(tgt)
        names = list(dict.fromkeys(targets))
        tables = {n: LakeTable(spark, _root_of(n)) for n in names}
        # read-only sources (tables referenced but never written) serve
        # their COMMITTED state — snapshot isolation for the script's reads
        register_catalog(spark, warehouse, prefix=prefix)
        with tables[names[0]].transaction_multi(
            *[tables[n] for n in names[1:]]
        ) as branches:
            bmap = dict(zip(names, branches))
            for i, (s_, tgt) in enumerate(zip(stmts, targets)):
                for n, b in bmap.items():
                    b.create_view(prefix + n)  # in-flight branch states
                if sqldml.is_ddl(s_):
                    sqldml.execute_ddl(bmap[tgt], s_, name=tgt)
                else:
                    sqldml.execute_dml(bmap[tgt], s_, name=tgt,
                                       query_id=f"sqltxn.{i}")
        for n, t in tables.items():
            t.create_view(prefix + n)  # post-transaction state
        return _summary("transaction", statements_applied=len(stmts),
                        tables=names)
    target = sqldml.statement_target(query)
    if target is not None:
        return LakeTable(spark, _root_of(target)).sql(query, name=target)
    if sqldml.is_search(query):
        # the index's persisted declaration names its base; the warehouse
        # door therefore wants a QUOTED index path (bare names are
        # base-relative — use that table's front door)
        tm = re.match(r"^\s*search\s+('[^']+'|\"[^\"]+\")",
                      sqldml._mask_literal_bodies(query), re.I)
        if not tm:
            raise ValueError(
                "warehouse SEARCH needs a QUOTED index path target (a "
                "bare name resolves relative to its base table — use "
                "that table's front door for bare names)"
            )
        from maestro_spark import index_maint as _im

        path = query[tm.start(1) + 1 : tm.end(1) - 1]
        return _im.load_index(spark, path).base.sql(query)
    if sqldml.is_mv(query) or sqldml.is_index(query):
        # CREATE names its base inline (FROM <t> / ON <t>); REFRESH/DROP
        # resolve the owning base from the view/index's own PERSISTED
        # declaration — so every verb routes from the warehouse door too
        mv_stmt = sqldml.is_mv(query)
        masked = sqldml._mask_literal_bodies(query)
        if re.match(r"^\s*create\b", query, re.I):
            m = re.search(
                r"\bfrom\s+([A-Za-z_]\w*)" if mv_stmt
                else r"\bon\s+([A-Za-z_]\w*)",
                masked, re.I,
            )
            if not m:
                raise ValueError(
                    "cannot find the base table in the CREATE statement"
                )
            base_name = query[m.start(1) : m.end(1)]
            return LakeTable(spark, _root_of(base_name)).sql(
                query, name=base_name
            )
        tm = re.search(
            r"(?:view|index)\s+(?:if\s+exists\s+)?('[^']+'|\"[^\"]+\")",
            masked, re.I,
        )
        if not tm:
            raise ValueError(
                "warehouse REFRESH/DROP of a view/index needs a QUOTED "
                "path target (a bare name resolves relative to its base "
                "table — use that table's front door for bare names)"
            )
        path = query[tm.start(1) + 1 : tm.end(1) - 1]
        if_exists = bool(re.search(r"\bif\s+exists\b", masked, re.I))
        from maestro_spark import index_maint as _im
        from maestro_spark import ivm as _ivm

        try:
            obj = (_ivm.load if mv_stmt else _im.load_index)(spark, path)
        except ValueError:
            if if_exists and re.match(r"^\s*drop\b", query, re.I):
                kind = "dropped_view" if mv_stmt else "dropped_index"
                return spark.createDataFrame([(None,)], f"{kind}: string")
            raise
        return obj.base.sql(query)
    # SELECT over the catalog, with per-table inline time travel
    stripped, by_ident = sqldml.extract_time_travel_any(query)
    tables = register_catalog(spark, warehouse, prefix=prefix)
    for ident, pins in by_ident.items():
        t = tables.get(ident[len(prefix):] if prefix and ident.startswith(prefix)
                       else ident)
        if t is None:
            raise ValueError(
                f"time-travel clause on {ident!r}, which is not a lake "
                f"table under {warehouse} (have: {sorted(tables)})"
            )
        t.create_view(ident, snapshot_id=t._resolve_tt_pins(pins))
    return spark.sql(stripped)


def _lake_dirs(warehouse: str) -> list[str]:
    return [
        e for e in (os.listdir(warehouse) if os.path.isdir(warehouse) else [])
        if os.path.isdir(os.path.join(warehouse, e, SNAP_DIR))
    ]


def _validate_payload_contract(schema: T.StructType) -> None:
    """CREATE TABLE / CTAS schema gate: the engine's key contract must be
    present with the exact key types (the XXH64 bucket twin and every
    serving path hash ``conv_id: string, turn_idx: int``), and internal /
    op-metadata names are reserved."""
    by_name = {f.name: f for f in schema.fields}
    want = {"conv_id": T.StringType(), "turn_idx": T.IntegerType()}
    for k, dt in want.items():
        got = by_name.get(k)
        if got is None:
            raise ValueError(
                f"table schema must include key column {k!r} "
                f"({dt.simpleString()}) — the engine's key contract"
            )
        if got.dataType != dt:
            raise ValueError(
                f"key column {k!r} must be {dt.simpleString()}, got "
                f"{got.dataType.simpleString()} — CAST it in the statement"
            )
    reserved = {S.LSN_COL, S.DELETED_COL, *S.OP_COLS}
    bad = sorted(reserved & set(by_name))
    if bad:
        raise ValueError(f"column name(s) {bad} are reserved by the engine")
