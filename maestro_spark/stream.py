"""Streaming ingest driver (SURVEY §2.I1-I7, §3.1) — the flagship path.

``stream_ingest`` wires: cdc_binlog source → optional watermark + streaming
dedup-within-watermark → ``foreachBatch(apply_epoch)`` where each microbatch
runs the same K2..K8 pipeline as batch replay (merge_batch). Exactly-once is
the two-layer contract:

- Spark's checkpoint WAL makes offset ranges per epoch deterministic on
  restart (same epoch id → same data);
- the lake's epoch-keyed snapshot chain makes re-delivery of an epoch a
  no-op (merge_batch returns None) — covering crashes after commit but
  before the checkpoint advances, and even a wholesale loss of the Spark
  checkpoint directory.

Watermark note: the ledger records per-epoch max event time; late events
beyond the watermark are never silently dropped by the engine itself — the
merge applies LSN dominance regardless of event time (BASELINE.json:6
out-of-order-delete rule). The optional ``dropDuplicatesWithinWatermark``
only ever removes *exact* (conv_id, turn_idx, op_lsn) re-deliveries, which
are idempotent in the merge anyway — it is a shuffle-saving prefilter, not a
correctness requirement.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from maestro_spark import source as cdc_source
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch


def stream_ingest(
    spark: SparkSession,
    log_dir: str,
    table_root: str,
    query_id: str = "stream",
    checkpoint_dir: str | None = None,
    watermark: str | None = "10 minutes",
    dedup_within_watermark: bool = False,
    available_now: bool = True,
    processing_time: str | None = None,
    max_segments_per_batch: int | None = None,
    source: str = "python",
    maintain_views: list | None = None,
):
    """Run the streaming pipeline; with ``available_now`` (default) processes
    the whole log and terminates — the replayable-batch trigger. Returns the
    finished StreamingQuery.

    ``source`` picks the tail reader:
    - ``"python"`` (default): the custom ``cdc_binlog`` Python DataSource
      (SURVEY §2.A1) — replayable segment-index offsets, Arrow-batch reads.
    - ``"native"``: Spark's built-in parquet FileStreamSource over the same
      directory — every byte stays JVM-side (no Python worker on the scan),
      which is the throughput choice at cluster scale; admission control via
      ``maxFilesPerTrigger``. Both feed the identical foreachBatch pipeline
      and converge to the same table state (LSN dominance is
      arrival-order-invariant).
    - ``"debezium"``: tail a directory of standard Debezium JSON envelopes
      (a connector's sink / topic dump) — text file-stream decoded by
      ``ingest.from_debezium`` (one from_json, no UDFs) against the target
      table's payload schema, as ``copy_into`` does; rows keep their SOURCE
      op + LSN, defects dead-letter via the merge DLQ. Envelope fields the
      table lacks are dropped — ALTER TABLE ADD COLUMN first, then restart.

    The two parquet readers use the log's discovered schema (merged from
    segment footers), so evolved columns present on disk flow through;
    columns that first appear while a continuous query is running are
    picked up on restart — the same contract Spark's own file source has.

    ``maintain_views``: materialized views (e.g. ``ivm.ConvStatsView`` over
    this table) refreshed after each epoch's commit, so they stay fresh as
    the stream runs; each refresh is delta-driven and exactly-once.
    """
    table = LakeTable(spark, table_root)
    if source == "debezium":
        # tail a directory of Debezium envelope JSONL (a connector's file
        # sink / topic dump): text file-stream → one from_json projection
        # into change events; everything downstream — watermark, dedup,
        # merge, view maintenance, exactly-once — is identical. Defective
        # envelopes dead-letter through the merge DLQ.
        from maestro_spark.ingest import from_debezium

        reader = spark.readStream
        if max_segments_per_batch:
            reader = reader.option(
                "maxFilesPerTrigger", str(max_segments_per_batch)
            )
        events = from_debezium(
            reader.text(log_dir), table.snapshot().payload_schema()
        )
    elif source == "native":
        log_schema = _discover_log_schema(log_dir)
        reader = spark.readStream.schema(log_schema)
        if max_segments_per_batch:
            reader = reader.option("maxFilesPerTrigger", str(max_segments_per_batch))
        events = reader.parquet(log_dir)
    else:
        import json as _json

        log_schema = _discover_log_schema(log_dir)
        cdc_source.register(spark)
        reader = (
            spark.readStream.format(cdc_source.FORMAT_NAME)
            .option("path", log_dir)
            .option("schema_json", _json.dumps(log_schema.jsonValue()))
        )
        if max_segments_per_batch:
            reader = reader.option("maxSegmentsPerBatch", str(max_segments_per_batch))
            if not available_now and processing_time:
                # processing-time runs: let the source recover its cursor
                # from the offset WAL so the restart catch-up batch is
                # bounded too (the clamp must NOT engage for availableNow —
                # it would truncate the run; see source.latestOffset)
                ckpt_hint = checkpoint_dir or os.path.join(
                    table_root, "_checkpoints", query_id
                )
                reader = reader.option("checkpointHint", ckpt_hint)
        events = reader.load()
    if watermark:
        # event times are NTZ (naive); watermarks require TIMESTAMP, so derive
        # a UTC-interpreted event-time column (session tz is UTC) and drop it
        # again before the merge sees the batch
        events = events.withColumn("_event_time", F.col("ts").cast("timestamp"))
        events = events.withWatermark("_event_time", watermark)
        if dedup_within_watermark:
            events = events.dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "op_lsn"])

    def apply_epoch(batch_df, epoch_id: int):
        if "_event_time" in batch_df.columns:
            batch_df = batch_df.drop("_event_time")
        merge_batch(table, batch_df, query_id=query_id, epoch_id=epoch_id)
        # continuous view maintenance: fold this epoch's changes into each
        # registered view after the base commit. refresh() is itself
        # exactly-once (epoch-keyed on the base snapshot id), so a crash
        # between base commit and view refresh just replays the refresh on
        # the next microbatch — views trail the base by at most one epoch,
        # never diverge
        for view in maintain_views or []:
            view.refresh()

    ckpt = checkpoint_dir or os.path.join(table_root, "_checkpoints", query_id)
    writer = (
        events.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", ckpt)
        .queryName(f"maestro-{query_id}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def throughput_metrics(q) -> list[dict]:
    """Per-microbatch throughput from Spark's own progress stream (I7/K8)."""
    out = []
    for p in q.recentProgress:
        out.append(
            {
                "batchId": p["batchId"],
                "numInputRows": p["numInputRows"],
                "inputRowsPerSecond": p.get("inputRowsPerSecond"),
                "durationMs": p.get("durationMs", {}),
            }
        )
    return out


def stateful_conv_progress(events):
    """I5: arbitrary stateful operator — per-conversation running state
    (max applied LSN, cumulative event count) maintained across microbatches
    via ``applyInPandasWithState`` (Arrow-batched; state is a tiny tuple).

    Emits one row per conversation per microbatch it appears in:
    (conv_id, max_lsn, total_events). The pattern scales: state size is
    O(active conversations), partitioned by conv_id across executors.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, max_lsn long, total_events long"
    state_schema = "max_lsn long, total_events long"

    def update(key, pdfs, state: GroupState):
        max_lsn, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if len(pdf):
                max_lsn = max(max_lsn, int(pdf["op_lsn"].max()))
                total += len(pdf)
        state.update((max_lsn, total))
        import pandas as pd

        yield pd.DataFrame(
            {"conv_id": [key[0]], "max_lsn": [max_lsn], "total_events": [total]}
        )

    return events.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _discover_log_schema(log_dir: str):
    """Merged schema of the on-disk log (driver-side, footer reads only).

    Evolution is additive over time, so merging the FIRST and LAST segment
    footers covers the range without reading every footer — O(1) regardless
    of log length.
    """
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from maestro_spark import schema as S
    from maestro_spark.source import _segments

    segs = _segments(log_dir)
    if not segs:
        return S.CHANGE_EVENT_SCHEMA
    picks = {segs[0], segs[-1]}
    merged = None
    for name in sorted(picks):
        st = from_arrow_schema(
            pq.read_schema(os.path.join(log_dir, name)), prefer_timestamp_ntz=True
        )
        merged = st if merged is None else S.merge_schemas(merged, st)
    return merged


def stream_stream_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    within: str = "10 minutes",
    watermark: str = "10 minutes",
):
    """Stream-stream inner equi-join of two CDC tails on ``conv_id`` with an
    event-time interval bound (right event lands within ``within`` after the
    left event) — e.g. correlating the turn stream with a tool-result or
    feedback stream for the same conversation WITHOUT landing either side
    in a table first.

    Both sides carry watermarks, and the join condition bounds event-time
    distance, so Spark's state store provably evicts: a buffered left row
    is dropped once the right watermark passes ``l_time + within`` (state
    is O(events inside the interval), not O(stream history)) — the property
    that makes the operator viable on an unbounded 10^10-event tail.
    Returns a streaming DataFrame (append mode); pair with any sink.
    """
    ls = _discover_log_schema(left_dir)
    rs = _discover_log_schema(right_dir)
    left = (
        spark.readStream.schema(ls)
        .parquet(left_dir)
        .select(
            F.col("conv_id"),
            F.col("turn_idx").alias("l_turn"),
            F.col("op_lsn").alias("l_lsn"),
            F.col("ts").cast("timestamp").alias("l_time"),
        )
        .withWatermark("l_time", watermark)
    )
    right = (
        spark.readStream.schema(rs)
        .parquet(right_dir)
        .select(
            F.col("conv_id").alias("r_conv"),
            F.col("turn_idx").alias("r_turn"),
            F.col("op_lsn").alias("r_lsn"),
            F.col("ts").cast("timestamp").alias("r_time"),
        )
        .withWatermark("r_time", watermark)
    )
    cond = (
        (left["conv_id"] == right["r_conv"])
        & (right["r_time"] >= left["l_time"])
        & (right["r_time"] <= left["l_time"] + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, cond, "inner").drop("r_conv")
