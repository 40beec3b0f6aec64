"""Per-partition lineage + metrics sink (SURVEY §2.A6/K8, BASELINE.json:6).

One lineage row per (epoch × changed bucket), appended each commit:
``epoch_id, query_id, pk_bucket, rows, lsn_min, lsn_max, files, bytes,
snapshot_id, wall_s``. Row counts, byte sizes and LSN ranges come from the
file stats harvested from parquet footers at write time — metadata-only,
no second pass over the data and no ``stat`` (the scale-honest way to get
per-partition lineage; a recompute of the merge DAG would double the epoch
cost at 100 TB).
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from maestro_spark.lake import LINEAGE_DIR, LakeTable, Snapshot

_LINEAGE_ARROW = pa.schema(
    [
        ("query_id", pa.string()),
        ("epoch_id", pa.int64()),
        ("snapshot_id", pa.int64()),
        ("pk_bucket", pa.int32()),
        ("rows", pa.int64()),
        ("lsn_min", pa.int64()),
        ("lsn_max", pa.int64()),
        ("n_files", pa.int32()),
        ("bytes", pa.int64()),
        ("wall_s", pa.float64()),
        ("committed_at", pa.timestamp("us")),
    ]
)


def append_lineage(
    table: LakeTable,
    snap: Snapshot,
    epoch_id: int,
    query_id: str,
    new_files: dict[str, list[str]],
    wall_s: float,
) -> None:
    now = int(time.time() * 1_000_000)
    rows = []
    for b, rels in sorted(new_files.items(), key=lambda kv: int(kv[0])):
        tot_rows, lsn_min, lsn_max, nbytes = 0, None, None, 0
        for rel in rels:
            st = table.file_stats.get_or_read(rel)
            tot_rows += st["rows"]
            nbytes += st["bytes"]
            if st["lsn_min"] is not None:
                lsn_min = st["lsn_min"] if lsn_min is None else min(lsn_min, st["lsn_min"])
                lsn_max = st["lsn_max"] if lsn_max is None else max(lsn_max, st["lsn_max"])
        rows.append(
            {
                "query_id": query_id,
                "epoch_id": epoch_id,
                "snapshot_id": snap.snapshot_id,
                "pk_bucket": int(b),
                "rows": tot_rows,
                "lsn_min": lsn_min,
                "lsn_max": lsn_max,
                "n_files": len(rels),
                "bytes": nbytes,
                "wall_s": wall_s,
                "committed_at": now,
            }
        )
    if not rows:
        return
    t = pa.Table.from_pylist(rows, schema=_LINEAGE_ARROW)
    out = os.path.join(
        table.root, LINEAGE_DIR, f"lineage-{epoch_id:013d}-{uuid.uuid4().hex[:8]}.parquet"
    )
    pq.write_table(t, out)


def read_lineage(table: LakeTable):
    """Lineage as a DataFrame (append-only parquet dir)."""
    d = os.path.join(table.root, LINEAGE_DIR)
    files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    if not files:
        from pyspark.sql.pandas.types import from_arrow_schema

        return table.spark.createDataFrame([], from_arrow_schema(_LINEAGE_ARROW))
    return table.spark.read.parquet(*files)


def lineage_summary(table: LakeTable):
    """Per-epoch operational rollup of the lineage rows: rows applied,
    buckets touched, bytes written, wall seconds, commit snapshot — the
    table an operator watches to spot a slow or skewed epoch without
    touching any data file."""
    from pyspark.sql import functions as F

    return (
        read_lineage(table)
        .groupBy("query_id", "epoch_id", "snapshot_id")
        .agg(
            F.sum("rows").alias("rows"),
            F.count(F.lit(1)).alias("buckets_touched"),
            F.max("rows").alias("max_bucket_rows"),  # skew indicator
            F.sum("bytes").alias("bytes"),
            F.max("wall_s").alias("wall_s"),
            F.min("lsn_min").alias("lsn_min"),
            F.max("lsn_max").alias("lsn_max"),
        )
        .orderBy("snapshot_id")
    )
