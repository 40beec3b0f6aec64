"""ALTER TABLE surface: add / rename / drop payload columns (M41).

Design note — METADATA-ONLY rename/drop over name-addressed parquet:
Iceberg does metadata-only renames via field-ids baked into every data
file; this engine's files are plain name-addressed parquet (SURVEY §1.3's
forced deviation). Instead of field-ids, the engine keeps a per-field
logical->physical name mapping in the snapshot schema itself
(StructField metadata, ``schema.PHYSICAL_KEY``): a renamed column keeps
its stable ON-DISK name forever, every scan path reads files under the
physical schema and surfaces logical names (``LakeTable._scan_files``),
and the single write chokepoint (``write_bucket_files``) renames
logical->physical so pre- and post-rename files are indistinguishable on
disk. ``rename_column`` is therefore one metadata commit — zero data IO
at any table size (the r4 verdict's 100 TB requirement).

``drop_column`` is a schema MASK by default: the column leaves the
schema in one metadata commit, its physical name is retired into the
snapshot's monotone ``dropped`` registry, and physical excision happens
lazily on the normal compaction cadence (a rewrite under the masked
schema simply never writes the column). ``erase=True`` keeps the
RTBF-grade immediate path: one rewrite of every bucket whose files never
contained the bytes (complete after expire+vacuum, as before).

Why the ``dropped`` registry: re-adding a dropped/renamed-away name must
NOT decode stale bytes out of older files. Any NEW logical column whose
name collides with an occupied or retired physical name gets a FRESH
physical alias (``schema.assign_physical``) — so ``drop tool; add tool
int`` reads nulls from pre-drop files (never the old strings), and an
upstream that keeps sending a renamed column's old name evolves a
genuinely fresh column (the CDC-correct reading: the binlog says
nothing; only ALTER states intent).

Interplay (tested):
- tombstones, epoch idempotence keys, zone maps (physical-keyed, so
  pre-rename stats keep pruning), key blooms, and point lookups all
  survive — nothing is rewritten, so nothing can be lost;
- the change feed now SPANS renames and drops safely (files decode under
  the to-snapshot's physical schema; a masked column just stops being
  read; a re-added name reads null from pre-drop files) — the re-sync
  contract is needed only for rollback;
- a later compaction/optimize pass physically excises masked columns as
  a side effect of rewriting under the masked schema.
"""

from __future__ import annotations

import time

from pyspark.sql import types as T

from maestro_spark import schema as S
from maestro_spark.lake import LakeTable, Snapshot
from maestro_spark.plan import plan_groups


_PROTECTED = set(S.KEY_COLS) | {S.LSN_COL, S.DELETED_COL}


def _payload_names(snap) -> set[str]:
    return {f.name for f in snap.payload_schema().fields}


def add_column(table: LakeTable, name: str, dtype: T.DataType | str) -> Snapshot:
    """Metadata-only ADD COLUMN: publishes the evolved schema; every
    existing row reads the column as a typed null (exactly like a column
    arriving via event-batch schema evolution). If ``name`` collides with a
    retired or occupied PHYSICAL name (it was dropped or renamed away
    before), the new column gets a fresh physical alias so old files can
    never leak their stale bytes into it."""
    if isinstance(dtype, str):
        dtype = T._parse_datatype_string(dtype)
    snap = table.snapshot()
    if name in {f.name for f in snap.schema.fields}:
        raise ValueError(f"column {name!r} already exists")
    payload = T.StructType(
        [*snap.payload_schema().fields, T.StructField(name, dtype, True)]
    )
    payload = S.assign_physical(payload, snap.payload_schema(), snap.dropped)
    new_schema = T.StructType([*payload.fields, *S.INTERNAL_FIELDS])
    return table.commit(
        {},
        epoch_key=None,
        schema=new_schema,
        stats={"maintenance": "alter", "alter": {"add": [name, dtype.simpleString()]}},
        base=snap.snapshot_id,
    )


def _rewrite(
    table: LakeTable,
    transform,
    new_schema: T.StructType,
    alter: dict,
    dropped_add: list[str] | None = None,
) -> Snapshot:
    """One compaction-shaped rewrite of every bucket publishing
    ``new_schema`` (the ``erase=True`` drop path only): ``LakeTable._fold``
    (tombstones + ``_lsn`` ride along; no exchange) → transform →
    write_bucket_files (zone maps re-harvested) → commit with the planning
    snapshot as base (racing deltas conflict, not vanish)."""
    t0 = time.time()
    snap = table.snapshot()
    groups = plan_groups(table, snap).groups
    df = transform(table._fold(snap, groups))
    new_files = table.write_bucket_files(df, schema=new_schema)
    for g in groups:
        new_files.setdefault(str(g.bucket), [])
    return table.commit(
        new_files,
        epoch_key=None,
        schema=new_schema,
        stats={
            "maintenance": "alter",
            "alter": alter,
            "alter_s": round(time.time() - t0, 3),
        },
        base=snap.snapshot_id,
        replace_schema=True,
        dropped_add=dropped_add,
    )


def rename_column(table: LakeTable, old: str, new: str) -> Snapshot:
    """METADATA-ONLY rename: one commit recording ``new`` with the old
    field's stable physical name in its StructField metadata — zero data
    files written at any table size. Every read path resolves the mapping
    at scan time; every future write keeps emitting the physical name, so
    old and new files stay layout-identical."""
    snap = table.snapshot()
    if old in _PROTECTED:
        raise ValueError(f"cannot rename key/internal column {old!r}")
    if old not in _payload_names(snap):
        raise ValueError(f"no payload column {old!r}")
    if new in {f.name for f in snap.schema.fields}:
        raise ValueError(f"column {new!r} already exists")
    fields = []
    for f in snap.payload_schema().fields:
        if f.name == old:
            phys = S.physical_name(f)
            md = {k: v for k, v in (f.metadata or {}).items() if k != S.PHYSICAL_KEY}
            if phys != new:  # renaming BACK to the physical name clears the map
                md[S.PHYSICAL_KEY] = phys
            fields.append(T.StructField(new, f.dataType, f.nullable, md))
        else:
            fields.append(f)
    new_schema = T.StructType([*fields, *S.INTERNAL_FIELDS])
    return table.commit(
        {},
        epoch_key=None,
        schema=new_schema,
        stats={"maintenance": "alter", "alter": {"rename": [old, new]}},
        base=snap.snapshot_id,
        replace_schema=True,
    )


def drop_column(table: LakeTable, name: str, erase: bool = False) -> Snapshot:
    """DROP COLUMN. Default = metadata-only schema MASK: one commit removes
    the column from the schema and retires its physical name (so a later
    re-add of ``name`` at any type reads nulls from old files, never stale
    bytes); physical excision completes on the normal compaction cadence —
    any rewrite under the masked schema simply never writes the column.

    ``erase=True`` (RTBF-grade): one rewrite of every bucket so the new
    current-state files never contained the bytes; erasure from disk
    completes after pre-drop snapshots expire and vacuum runs, exactly as
    before."""
    snap = table.snapshot()
    if name in _PROTECTED:
        raise ValueError(f"cannot drop key/internal column {name!r}")
    if name not in _payload_names(snap):
        raise ValueError(f"no payload column {name!r}")
    field = next(f for f in snap.payload_schema().fields if f.name == name)
    retired = S.physical_name(field)
    payload = T.StructType(
        [f for f in snap.payload_schema().fields if f.name != name]
    )
    new_schema = T.StructType([*payload.fields, *S.INTERNAL_FIELDS])
    if erase:
        return _rewrite(
            table,
            lambda df: df.drop(name),
            new_schema,
            {"drop": [name], "erase": True},
            dropped_add=[retired],
        )
    return table.commit(
        {},
        epoch_key=None,
        schema=new_schema,
        stats={"maintenance": "alter", "alter": {"drop": [name]}},
        base=snap.snapshot_id,
        replace_schema=True,
        dropped_add=[retired],
    )


def widen_column(table: LakeTable, name: str, new_type: T.DataType | str) -> Snapshot:
    """Metadata-only WIDEN COLUMN (int→long, long→double, float→double,
    date→timestamp — the engine's safe-widening set): publishes the wider
    schema; existing narrow files read through Spark's parquet upcast, the
    same mechanism event-driven widening already relies on. Anything not a
    safe widening raises (via schema.merge_schemas)."""
    if isinstance(new_type, str):
        new_type = T._parse_datatype_string(new_type)
    snap = table.snapshot()
    if name in _PROTECTED:
        raise ValueError(f"cannot widen key/internal column {name!r}")
    if name not in _payload_names(snap):
        raise ValueError(f"no payload column {name!r}")
    proposed = T.StructType(
        [
            T.StructField(name, new_type, True, f.metadata)
            if f.name == name
            else f
            for f in snap.payload_schema().fields
        ]
    )
    widened = S.merge_schemas(
        snap.schema, T.StructType([*proposed.fields, *S.INTERNAL_FIELDS])
    )
    got = {f.name: f.dataType for f in widened.fields}[name]
    if got != new_type:
        raise TypeError(
            f"{name!r} would stay {got.simpleString()} — widen must move the "
            "type (already wider, or not a safe widening)"
        )
    return table.commit(
        {},
        epoch_key=None,
        schema=widened,
        stats={
            "maintenance": "alter",
            "alter": {"widen": [name, new_type.simpleString()]},
        },
        base=snap.snapshot_id,
    )
