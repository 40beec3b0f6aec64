"""Debezium envelope front door (ingest.from_debezium + COPY INTO
FILEFORMAT = debezium): op-code mapping, row-image choice, LSN fallback
chain, defect routing through the merge DLQ, and out-of-order archive
loads reconverging to the live-tail state via source-LSN dominance."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from maestro_spark import schema as S
from maestro_spark.ingest import copy_into, from_debezium
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch, read_quarantine


def _raw(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


ROW_A0 = ('{"conv_id": "A", "turn_idx": 0, "role": "user", '
          '"text": "%s", "tool": null, "ts": "2025-03-01T10:00:00"}')


def _env(op, lsn=None, before=None, after=None, src_ts=None, ts_ms=None):
    src = []
    if lsn is not None:
        src.append(f'"lsn": {lsn}')
    if src_ts is not None:
        src.append(f'"ts_ms": {src_ts}')
    source = "{" + ", ".join(src) + "}" if src else "null"
    return (
        '{"before": %s, "after": %s, "source": %s, "op": "%s", "ts_ms": %s}'
        % (before or "null", after or "null", source, op,
           ts_ms if ts_ms is not None else "null")
    )


def test_from_debezium_mapping(spark):
    ev = from_debezium(_raw(spark, [
        _env("r", lsn=10, after=ROW_A0 % "snap"),
        _env("c", lsn=11, after=ROW_A0 % "created"),
        _env("u", lsn=12, before=ROW_A0 % "created", after=ROW_A0 % "edited"),
        _env("d", lsn=13, before=ROW_A0 % "edited"),
        # LSN fallbacks: source.ts_ms, then envelope ts_ms
        _env("c", src_ts=777, after=ROW_A0 % "gtid"),
        _env("c", ts_ms=888, after=ROW_A0 % "nolsn"),
        # defects: invalid JSON / unknown op / no row image
        "not json at all {",
        _env("x", lsn=14, after=ROW_A0 % "weird"),
        _env("c", lsn=15),
    ])).collect()
    assert [f.name for f in S.CHANGE_EVENT_SCHEMA.fields] == \
        [c for c in ev[0].asDict()]
    got = [(r["op"], r["op_lsn"], r["text"]) for r in ev]
    assert got[0] == ("insert", 10, "snap")
    assert got[1] == ("insert", 11, "created")
    assert got[2] == ("update", 12, "edited")      # after image wins
    assert got[3] == ("delete", 13, "edited")      # before image for d
    assert got[4] == ("insert", 777, "gtid")
    assert got[5] == ("insert", 888, "nolsn")
    assert got[6] == ("corrupt_envelope", None, None)
    assert got[7] == ("x", 14, "weird")            # unknown code verbatim
    assert got[8][0] == "insert" and got[8][2] is None  # imageless
    # ts decodes into the declared NTZ type
    assert ev[0]["ts"] == dt.datetime(2025, 3, 1, 10)


def test_envelopes_merge_with_dlq(spark, tmp_path):
    """Decoded envelopes feed merge_batch directly; defective envelopes
    dead-letter with precise reasons instead of poisoning the table."""
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    ev = from_debezium(_raw(spark, [
        _env("c", lsn=1, after=ROW_A0 % "a0"),
        _env("u", lsn=2, before=ROW_A0 % "a0", after=ROW_A0 % "a0v2"),
        "broken{",
        _env("x", lsn=3, after=ROW_A0 % "weird"),
    ]))
    snap = merge_batch(t, ev, "dbz", 0)
    assert snap.stats["invalid_events"] == 2
    rows = t.read().collect()
    assert [(r["conv_id"], r["text"]) for r in rows] == [("A", "a0v2")]
    reasons = set(read_quarantine(t, "dbz").toPandas()["_reason"])
    assert reasons == {"null_conv_id", "bad_op"}


@pytest.mark.parametrize("per_file", [True, False])
def test_copy_into_debezium_out_of_order_reconverges(spark, tmp_path, per_file):
    """A directory of binlog archive dumps loads in ANY file order to the
    same final state as a live tail: rows keep their SOURCE LSNs, so
    max-LSN dominance resolves cross-file ordering. Re-runs skip."""
    def row(conv, turn, text):
        return ('{"conv_id": "%s", "turn_idx": %d, "role": "user", '
                '"text": "%s", "tool": null, "ts": "2025-03-01T10:00:00"}'
                % (conv, turn, text))

    d = tmp_path / "archive"
    d.mkdir()
    # later half of the log sorts FIRST lexicographically (load-order trap)
    (d / "0-late.jsonl").write_text("\n".join([
        _env("u", lsn=20, after=row("A", 0, "a0-final")),
        _env("d", lsn=21, before=row("B", 0, "b0")),
        _env("c", lsn=22, after=row("C", 0, "c0")),
    ]) + "\n")
    (d / "1-early.jsonl").write_text("\n".join([
        _env("c", lsn=10, after=row("A", 0, "a0")),
        _env("c", lsn=11, after=row("B", 0, "b0")),
        _env("u", lsn=12, after=row("A", 0, "a0-mid")),
    ]) + "\n")

    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    out = copy_into(t, str(d), "debezium", per_file=per_file)
    assert out["files_loaded"] == 2 and out["rows_quarantined"] == 0
    state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()}
    assert state == {("A", 0): "a0-final", ("C", 0): "c0"}  # B deleted
    again = copy_into(t, str(d), "debezium", per_file=per_file)
    assert again["files_loaded"] == 0 and again["files_skipped"] == 2
    assert {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in t.read().collect()} == state
    # the CDC-native load refuses schema evolution explicitly
    with pytest.raises(ValueError, match="evolve"):
        copy_into(t, str(d), "debezium", evolve=True)


def test_stream_ingest_debezium_source(spark, tmp_path):
    """stream_ingest(source='debezium') tails an envelope JSONL directory
    through the same foreachBatch/exactly-once pipeline; restart with the
    same checkpoint re-applies nothing; newly arriving files tail in."""
    from maestro_spark.stream import stream_ingest

    log = tmp_path / "dbzlog"
    log.mkdir()
    (log / "seg-0.jsonl").write_text("\n".join([
        _env("c", lsn=1, after=ROW_A0 % "a0"),
        _env("u", lsn=2, after=ROW_A0 % "a0v2"),
    ]) + "\n")
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    stream_ingest(spark, str(log), t.root, query_id="dbz",
                  source="debezium", watermark=None)
    assert {r["text"] for r in t.read().collect()} == {"a0v2"}
    s1 = t.snapshot().snapshot_id
    stream_ingest(spark, str(log), t.root, query_id="dbz",
                  source="debezium", watermark=None)
    assert t.snapshot().snapshot_id == s1  # checkpointed restart: no-op
    (log / "seg-1.jsonl").write_text(
        _env("d", lsn=3, before=ROW_A0 % "a0v2") + "\n")
    stream_ingest(spark, str(log), t.root, query_id="dbz",
                  source="debezium", watermark=None)
    assert t.read().count() == 0  # the delete tailed in


def test_to_debezium_round_trip_replicates_table(spark, tmp_path):
    """CDC OUT over the public wire format: changes() → to_debezium →
    from_debezium → merge into a second table reproduces the source table
    exactly (tombstones ride as 'd' envelopes; LSNs survive the trip)."""
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.ingest import to_debezium

    TS = dt.datetime(2025, 1, 1, 12)
    src = LakeTable.create(spark, str(tmp_path / "src"), n_buckets=4)
    merge_batch(src, spark.createDataFrame(
        [(1, "insert", "A", 0, "user", "a0", "search", TS),
         (2, "insert", "B", 0, "user", "b0", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "seed", 0)
    merge_batch(src, spark.createDataFrame(
        [(3, "update", "A", 0, "user", "a0v2", None, TS),
         (4, "delete", "B", 0, None, None, None, TS)],
        S.CHANGE_EVENT_SCHEMA), "seed", 1)

    envelopes = to_debezium(src.changes(0))
    assert envelopes.columns == ["value"]
    dst = LakeTable.create(spark, str(tmp_path / "dst"), n_buckets=4)
    merge_batch(dst, from_debezium(envelopes), "replicate", 0)

    def state(t):
        return {(r["conv_id"], r["turn_idx"]): (r["text"], r["tool"], r["ts"])
                for r in t.read().collect()}

    assert state(dst) == state(src) == {("A", 0): ("a0v2", None, TS)}


def test_export_changes_debezium_format(spark, tmp_path):
    """export_changes(format='debezium'): the exactly-once cursor/claim
    machinery emits envelope JSONL a foreign consumer (or a second engine)
    applies to reproduce the table; a dest dir refuses format mixing."""
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.ingest import from_debezium

    TS = dt.datetime(2025, 1, 1, 12)
    src = LakeTable.create(spark, str(tmp_path / "src"), n_buckets=4)
    merge_batch(src, spark.createDataFrame(
        [(1, "insert", "A", 0, "user", "a0", None, TS),
         (2, "insert", "B", 0, "user", "b0", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "seed", 0)
    dest = str(tmp_path / "feed")
    out1 = src.export_changes(dest, format="debezium")
    merge_batch(src, spark.createDataFrame(
        [(3, "delete", "B", 0, None, None, None, TS)],
        S.CHANGE_EVENT_SCHEMA), "seed", 1)
    out2 = src.export_changes(dest, format="debezium")
    assert out1["path"] != out2["path"]

    replica = LakeTable.create(spark, str(tmp_path / "replica"), n_buckets=4)
    envelopes = spark.read.text(f"{dest}/changes/*/part-*")
    merge_batch(replica, from_debezium(envelopes), "apply", 0)
    assert {(r["conv_id"], r["text"]) for r in replica.read().collect()} \
        == {(r["conv_id"], r["text"]) for r in src.read().collect()} \
        == {("A", "a0")}
    # idle re-export: cursor derived from markers, nothing re-written
    out3 = src.export_changes(dest, format="debezium")
    assert out3["path"] is None
    with pytest.raises(ValueError, match="one wire format"):
        src.export_changes(dest, format="parquet")
    # a PRE-SENTINEL destination (only parquet ranges, upgraded engine)
    # pins itself to parquet before validating — no silent mixing
    import os

    dest2 = str(tmp_path / "feed2")
    src.export_changes(dest2)  # parquet range lands
    os.unlink(f"{dest2}/_format.json")  # simulate pre-upgrade dir
    with pytest.raises(ValueError, match="one wire format"):
        src.export_changes(dest2, format="debezium")


def test_export_changes_idle_call_pins_no_format(spark, tmp_path):
    """A call that writes no range must not pin the destination's format:
    only the first range written decides it, and a mismatch is still
    refused after that."""
    import os

    TS = dt.datetime(2025, 1, 1, 12)
    src = LakeTable.create(spark, str(tmp_path / "src"), n_buckets=4)
    dest = str(tmp_path / "feed")
    idle = src.export_changes(dest, format="debezium")
    assert idle["path"] is None and idle["rows"] == 0
    assert not os.path.exists(f"{dest}/_format.json")
    merge_batch(src, spark.createDataFrame(
        [(1, "insert", "A", 0, "user", "a0", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "seed", 0)
    out = src.export_changes(dest, format="parquet")
    assert out["path"] is not None
    assert spark.read.parquet(out["path"]).count() == 1
    with pytest.raises(ValueError, match="one wire format"):
        src.export_changes(dest, format="debezium")


def test_copy_into_debezium_via_sql_door(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    d = tmp_path / "dump"
    d.mkdir()
    (d / "part-0.jsonl").write_text(
        _env("c", lsn=5, after=ROW_A0 % "hello") + "\n")
    t.sql(f"COPY INTO t FROM '{d}' FILEFORMAT = debezium "
          "WITH (per_file = 0)")
    assert [r["text"] for r in t.read().collect()] == ["hello"]
