"""Shuffle-free merge-on-read scan (the MOR counterpart of SURVEY §2.A3).

``LakeTable.read_resolved`` must produce one winning row per
``(conv_id, turn_idx)`` across a bucket's base+delta files. The obvious
formulation — ``groupBy(key).agg(max_by(...))`` over all files — shuffles
the whole table on every read. But resolution is *bucket-local by
construction*: a key lives in exactly one bucket (``pk_bucket =
hash(conv_id) % B``), so no row ever needs to cross bucket boundaries.

This module exploits that with a Python batch ``DataSource`` whose input
partitions are packs of whole bucket file-groups, at most one pack per task
slot: each task resolves its buckets one after another, reading each
bucket's files with pyarrow, resolving winners vectorized (sort by
``(key, _lsn, commit-seq)``, keep the last row per key — numpy boundary
scan, no Python row loop), and emitting Arrow record batches straight to the
JVM scan node. Zero shuffle, and the working set at any moment is one
bucket — exactly the per-file-group merge a Hudi/Iceberg MOR reader
performs, built from scratch per the north rule. Packing matters because a
Python task has a fixed cost (worker set-up, ~120-140 ms on a 4-core host)
that dwarfs resolving one small bucket (~12 ms), so the task count follows
the cores, not the buckets.

Schema evolution: older files simply lack newer columns; each file is
conformed to the snapshot schema (missing columns null-filled, compatible
types cast) before concatenation, mirroring ``schema.conform``.
"""

from __future__ import annotations

import heapq
import json
import os
from dataclasses import dataclass, field

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

FORMAT_NAME = "mor_scan"


@dataclass
class BucketPack(InputPartition):
    # whole bucket groups, each a file list in commit order (== merge seq)
    groups: list[list[str]] = field(default_factory=list)


def pack_groups(groups: list[list[str]], slots: int) -> list[BucketPack]:
    """Pack bucket groups into at most ``slots`` partitions: largest total
    file bytes first, each onto the least-loaded partition (LPT). A group is
    never split, and each pack keeps its groups in input order."""
    n = max(1, min(slots, len(groups)))
    sizes = [sum(os.path.getsize(f) for f in g) for g in groups]
    loads = [(0, k) for k in range(n)]  # (bytes, pack) min-heap
    members: list[list[int]] = [[] for _ in range(n)]
    for i in sorted(range(len(groups)), key=lambda i: -sizes[i]):
        load, k = heapq.heappop(loads)
        members[k].append(i)
        heapq.heappush(loads, (load + sizes[i], k))
    return [BucketPack([groups[i] for i in sorted(m)]) for m in members]


def resolve_group(files: list[str], schema: StructType, key_filters=None):
    """Read one bucket's base+delta files and yield resolved Arrow batches.

    Winner per (conv_id, turn_idx) = max (_lsn, commit-seq), where seq is
    the file's position in the bucket's commit-ordered list. The
    ``maestro.read.resolve=shuffle`` formulation applies the identical
    (_lsn, seq) ordering (lake.read_resolved tags each commit position), so
    the two paths are deterministically equal. Equal-LSN ties can only come
    from re-delivered events — the engine invariant is one-LSN-one-payload
    per key, so the seq preference for the later commit is defensive
    determinism, not semantics (and tests compare the paths row-for-row).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from maestro_spark.schema import conform_arrow_table

    arrow_schema = to_arrow_schema(schema)
    # pk_bucket lives in the partition DIRECTORY name, not the file; when the
    # requested schema asks for it (the zero-shuffle compaction path), parse
    # it from the path instead of null-filling it like an absent column
    want_bucket = "pk_bucket" in arrow_schema.names

    def _bucket_from(path: str) -> int:
        for part in path.split("/"):
            if part.startswith("pk_bucket="):
                return int(part.split("=", 1)[1])
        raise ValueError(f"no pk_bucket= segment in {path}")

    tables = []
    for seq, path in enumerate(files):
        # column pruning: Python DataSources never receive Spark's projection
        # pushdown, so the PRUNED schema arrives from read_resolved(columns=…)
        # and only its columns are decoded from each file (footer-only probe
        # for which of them the file has; evolved-in columns null-fill)
        present = set(pq.ParquetFile(path).schema_arrow.names)
        want = [n for n in arrow_schema.names if n in present]
        # pushed KEY filters are safe pre-resolve (conv_id/turn_idx ARE the
        # dedup key — dropping other keys' rows cannot change any winner);
        # pyarrow applies them as row-group statistics pruning + row filter
        flt = [(c, "=", v) for c, v in (key_filters or []) if c in present] or None
        raw = pq.read_table(path, columns=want, filters=flt)
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


class MorScanReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self.groups: list[list[str]] = json.loads(options["groups_json"])
        self.n_buckets = int(options.get("n_buckets", "0"))
        # task slots of the session (sparkContext.defaultParallelism); the
        # planning worker has no SparkContext, so the caller passes it
        self.slots = int(options.get("slots", "1"))
        self.key_filters: list[tuple[str, object]] = []

    def partitions(self):
        groups = self.groups
        conv = [v for c, v in self.key_filters if c == "conv_id"]
        if conv and self.n_buckets:
            # a conv_id equality pins ONE bucket — drop every other group
            # (same arithmetic as LakeTable.lookup, via the pure-Python twin)
            from maestro_spark.keyhash import bucket_of

            tags = {f"pk_bucket={bucket_of(v, self.n_buckets)}/" for v in conv}
            groups = [
                g for g in groups if any(tag in g[0] for tag in tags)
            ]
        return pack_groups(groups, self.slots)

    def read(self, partition: BucketPack):
        for files in partition.groups:
            yield from resolve_group(files, self._schema, self.key_filters)


class PushdownMorScanReader(MorScanReader):
    """MorScanReader + Spark 4.1 Python-DataSource filter pushdown. A
    SEPARATE class because merely implementing pushFilters makes Spark
    require ``spark.sql.python.filterPushdown.enabled``; read_resolved
    selects this reader only when the session has (or accepts) the flag,
    so the engine never hard-depends on a session conf it doesn't own."""

    def pushFilters(self, filters):
        """Accept equality on the KEY columns only (safe pre-resolve; see
        resolve_group). All filters are returned so Spark still
        re-evaluates them — pushdown here is an IO optimization
        (bucket-group pruning + parquet row-group pruning), never a
        correctness dependency."""
        from pyspark.sql.datasource import EqualTo

        for f in filters:
            if isinstance(f, EqualTo) and f.attribute in (("conv_id",), ("turn_idx",)):
                self.key_filters.append((f.attribute[0], f.value))
            yield f


class MorScanDataSource(DataSource):
    """spark.read.format("mor_scan").schema(s)
    .option("groups_json", json.dumps([[f1, f2], ...]))
    .option("slots", str(sc.defaultParallelism)).load()"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.options["schema_json"]))

    def reader(self, schema: StructType) -> MorScanReader:
        cls = (
            PushdownMorScanReader
            if self.options.get("pushdown") == "true"
            else MorScanReader
        )
        return cls(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(MorScanDataSource)
