"""Shuffle-free merge-on-read scan (the MOR counterpart of SURVEY §2.A3).

``LakeTable._resolve`` — the one read-side winner rule behind
``read_resolved``, ``lookup``, ``read_where`` and ``changes`` — must produce
one winning row per ``(conv_id, turn_idx)`` across a bucket's base+delta
files (or the pruned subset of them a lookup or range read needs). The obvious
formulation — ``groupBy(key).agg(max_by(...))`` over all files — shuffles
the whole table on every read. But resolution is *bucket-local by
construction*: a key lives in exactly one bucket (``pk_bucket =
hash(conv_id) % B``), so no row ever needs to cross bucket boundaries.

:func:`scan` exploits that with ``spark.range(0, n, 1, n).mapInArrow``: one
row, and so one task, per pack of bucket file-groups, at most one pack per
task slot. The packs ride in the task closure, so the plan is JVM-only (a
``Range`` feeding ``MapInArrow``) and no Python planner runs before the
first task (a Python data source would pay ~0.3-0.5 s of planner round trips
on every query). Each task resolves its buckets one after another, reading
each bucket's files with pyarrow, resolving winners vectorized (sort by
``(key, _lsn, commit-seq)``, keep the last row per key — numpy boundary
scan, no Python row loop), and emitting Arrow record batches straight to
the JVM. Zero shuffle, and the working set at any moment is one bucket —
exactly the per-file-group merge a Hudi/Iceberg MOR reader performs, built
from scratch per the north rule. Packing matters because a Python task has
a fixed cost (worker set-up, ~120-140 ms on a 4-core host) that dwarfs
resolving one small bucket (~12 ms), so the task count follows the cores,
not the buckets. Groups and their bytes come from the driver's
``plan.plan_groups`` (file stats), so packing stats no file.

Spark pushes neither filters nor the projection into ``mapInArrow``: the
caller passes the narrow schema (``LakeTable._scan_schema``) and, for a
point read, the key equalities (``key_filters``), which prune parquet row
groups by their key statistics and then rows; key filters are safe before
resolution because the key is the resolution key.

Schema evolution: older files simply lack newer columns; each file is
conformed to the snapshot schema (missing columns null-filled, compatible
types cast) before concatenation, mirroring ``schema.conform``.
"""

from __future__ import annotations

import heapq

from pyspark.sql.types import StructType


def pack_groups(
    groups: list[list[str]], sizes: list[int], slots: int
) -> list[list[list[str]]]:
    """Pack bucket groups into at most ``slots`` packs: largest total
    bytes first (``sizes[i]``, from the driver's plan; nothing is statted
    here), each onto the least-loaded pack (LPT). A group is never
    split, and each pack keeps its groups in input order."""
    n = max(1, min(slots, len(groups)))
    loads = [(0, k) for k in range(n)]  # (bytes, pack) min-heap
    members: list[list[int]] = [[] for _ in range(n)]
    for i in sorted(range(len(groups)), key=lambda i: -sizes[i]):
        load, k = heapq.heappop(loads)
        members[k].append(i)
        heapq.heappush(loads, (load + sizes[i], k))
    return [[groups[i] for i in sorted(m)] for m in members]


def resolve_group(files: list[str], schema: StructType, key_filters=None):
    """Read one bucket's base+delta files and yield resolved Arrow batches.

    Winner per (conv_id, turn_idx) = max (_lsn, commit-seq), where seq is
    the file's position in the group's commit-ordered list (a pruned subset
    of a bucket keeps its files' relative order, so the tie-break holds).
    Equal-LSN ties can only come from re-delivered events — the engine
    invariant is one-LSN-one-payload per key, so the seq preference for the
    later commit is defensive determinism, not semantics. Every read of a
    multi-file group (``LakeTable._resolve``: resolved reads, lookups,
    range reads, the net change feed) and every bucket rewrite
    (``LakeTable._fold``) resolves here.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from maestro_spark.schema import conform_arrow_table

    arrow_schema = to_arrow_schema(schema)
    # pk_bucket lives in the partition DIRECTORY name, not the file; when the
    # requested schema asks for it (LakeTable._fold, every bucket rewrite), parse
    # it from the path instead of null-filling it like an absent column
    want_bucket = "pk_bucket" in arrow_schema.names

    def _bucket_from(path: str) -> int:
        for part in path.split("/"):
            if part.startswith("pk_bucket="):
                return int(part.split("=", 1)[1])
        raise ValueError(f"no pk_bucket= segment in {path}")

    tables = []
    for seq, path in enumerate(files):
        # one footer read per file: it says which of the wanted columns the
        # file has (evolved-in columns null-fill) and, under key filters,
        # which row groups' key statistics can hold the key
        with pq.ParquetFile(path) as pf:
            present = set(pf.schema_arrow.names)
            want = [n for n in arrow_schema.names if n in present]
            flt = [(c, v) for c, v in (key_filters or []) if c in want]
            if flt:
                md = pf.metadata
                col = {md.schema.column(j).path: j for j in range(md.num_columns)}
                raw = pf.read_row_groups(
                    [i for i in range(md.num_row_groups)
                     if all(_may_hold(md.row_group(i).column(col[c]).statistics, v)
                            for c, v in flt)],
                    columns=want,
                )
                mask = None
                for c, v in flt:
                    eq = pc.equal(raw[c], v)
                    mask = eq if mask is None else pc.and_(mask, eq)
                raw = raw.filter(mask)
            else:
                raw = pf.read(columns=want)
        if want_bucket and "pk_bucket" not in raw.column_names:
            raw = raw.append_column(
                "pk_bucket",
                pa.array(np.full(len(raw), _bucket_from(path), np.int32)),
            )
        t = conform_arrow_table(raw, arrow_schema)
        tables.append(
            t.append_column("_seq", pa.array(np.full(len(t), seq, np.int64)))
        )
    tbl = pa.concat_tables(tables)
    if len(tables) > 1 and len(tbl) > 0:
        tbl = tbl.sort_by(
            [("conv_id", "ascending"), ("turn_idx", "ascending"),
             ("_lsn", "ascending"), ("_seq", "ascending")]
        )
        conv = tbl["conv_id"].to_numpy(zero_copy_only=False)
        turn = tbl["turn_idx"].to_numpy(zero_copy_only=False)
        keep = np.ones(len(tbl), dtype=bool)
        keep[:-1] = (conv[:-1] != conv[1:]) | (turn[:-1] != turn[1:])
        tbl = tbl.take(np.nonzero(keep)[0])
    tbl = tbl.drop_columns(["_seq"])
    yield from tbl.to_batches(max_chunksize=65536)


def _may_hold(stats, v) -> bool:
    """Can a row group whose key column has ``stats`` hold value ``v``?
    Row groups without min/max statistics are kept."""
    return stats is None or not stats.has_min_max or stats.min <= v <= stats.max


def register(spark) -> None:
    """Called once per :func:`scan`. Nothing is registered (the scan is a
    plain ``mapInArrow``); the function stays as the named hook perfbench's
    tracer wraps for its ``mor_scan.register_s`` layer."""


def scan(spark, schema: StructType, groups: list[list[str]], sizes: list[int],
         key_filters: list[tuple[str, object]] | None = None):
    """DataFrame of ``groups`` (absolute files in commit order, each group
    holding every version of its keys) resolved in ``schema`` (PHYSICAL
    names), packed one task per core by the groups' ``sizes`` (bytes, from
    the driver's plan). ``key_filters`` — ``(column, value)`` equalities on
    the key columns — prune each file's row groups and rows before
    resolution; callers still filter the result."""
    register(spark)
    packs = pack_groups(groups, sizes, spark.sparkContext.defaultParallelism)

    def resolve_packs(batches):
        for batch in batches:
            for k in batch.column(0).to_pylist():
                for files in packs[k]:
                    yield from resolve_group(files, schema, key_filters)

    return spark.range(0, len(packs), 1, len(packs)).mapInArrow(resolve_packs, schema)
