"""ALTER TABLE surface (M41): metadata-only add/rename/drop — content,
tombstone semantics, idempotence keys, zone maps, the feed contract, and
deferred/immediate physical erasure all hold across the boundary.

The r4 verdict's requirement: a routine column rename must be O(metadata)
at 100 TB. These tests pin that a rename/drop commit writes ZERO data
files, that every serving path composes across the boundary, and that the
retired-physical-name registry prevents stale-byte resurrection (the r4
ADVICE.md high finding: a feed range spanning drop+re-add must never emit
the dropped column's old values)."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
import pytest

from maestro_spark import schema as S
from maestro_spark.ddl import add_column, drop_column, rename_column
from maestro_spark.dml import delete_where, update_where, upsert
from maestro_spark.lake import DATA_DIR, LakeTable
from maestro_spark.merge import merge_batch

TS = dt.datetime(2025, 1, 1, 12)


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    merge_batch(t, spark.createDataFrame(
        [(5, "insert", "A", 0, "user", "a0", "search", TS),
         (6, "insert", "A", 1, "assistant", "a1", None, TS),
         (7, "insert", "B", 0, "user", "b0", "browse", TS),
         (8, "insert", "C", 0, "user", "c0", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "seed", 0)
    return t


def _data_files(table) -> set[str]:
    return {p for ps in table.snapshot().files.values() for p in ps}


def test_add_column_is_metadata_only(spark, table):
    files_before = table.snapshot().files
    snap = add_column(table, "rating", "int")
    assert snap.files == files_before  # no data IO at all
    assert table.read().filter(F.col("rating").isNotNull()).count() == 0
    upsert(table, spark.createDataFrame(
        [("A", 0, 5)], "conv_id string, turn_idx int, rating int"))
    got = {(r["conv_id"], r["turn_idx"]): r["rating"]
           for r in table.read().collect()}
    assert got[("A", 0)] == 5 and got[("B", 0)] is None
    with pytest.raises(ValueError, match="already exists"):
        add_column(table, "rating", "int")


def test_rename_column_is_metadata_only_and_preserves_everything(spark, table):
    delete_where(table, F.col("conv_id") == "C")
    pre_rename = table.snapshot().snapshot_id
    before = {(r["conv_id"], r["turn_idx"]): r["text"]
              for r in table.read().collect()}
    files_before = _data_files(table)

    snap = rename_column(table, "text", "body")
    # THE 100 TB property: a rename is one metadata commit, zero data files
    assert _data_files(table) == files_before
    assert snap.snapshot_id == pre_rename + 1
    cols = set(table.read().columns)
    assert "body" in cols and "text" not in cols
    got = {(r["conv_id"], r["turn_idx"]): r["body"]
           for r in table.read().collect()}
    assert got == before

    # tombstones still dominate: a late lower-LSN redelivery of the deleted
    # key stays dead (its old-name payload evolves a FRESH column — the
    # physical alias keeps it from decoding body's bytes out of old files)
    merge_batch(table, spark.createDataFrame(
        [(8, "insert", "C", 0, "user", "c0", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "late", 1)
    assert table.read().filter(F.col("conv_id") == "C").count() == 0
    assert "text" in table.read().columns  # evolved back, all-null
    assert table.read().filter(F.col("text").isNotNull()).count() == 0

    # epoch idempotence survived: the seed epoch re-delivers as a no-op
    assert merge_batch(table, spark.createDataFrame(
        [(5, "insert", "A", 0, "user", "SHOULD-NOT-LAND", "x", TS)],
        S.CHANGE_EVENT_SCHEMA), "seed", 0) is None
    assert {r["body"] for r in table.read().collect()} >= {"a0", "a1", "b0"}

    # zone maps + lookup serve the new name over the UNREWRITTEN files
    assert sorted(map(tuple,
        table.read_where("body", "a0", "a1").select("conv_id", "body").collect()
    )) == [("A", "a0"), ("A", "a1")]
    assert {r["body"] for r in table.lookup("A").collect()} == {"a0", "a1"}

    # the change feed SPANS the rename: pre-rename files decode under the
    # to-snapshot's physical schema and surface the new logical name
    feed = table.changes(0).filter(F.col("op") != "delete")
    assert {r["body"] for r in feed.collect()} >= {"a0", "a1", "b0"}
    live = {(r["conv_id"], r["turn_idx"]): r["body"]
            for r in feed.collect()}
    now = {(r["conv_id"], r["turn_idx"]): r["body"]
           for r in table.read().collect()}
    for k, v in now.items():
        assert live[k] == v  # apply-feed reproduces the snapshot

    with pytest.raises(ValueError, match="already exists"):
        rename_column(table, "body", "role")
    with pytest.raises(ValueError, match="key/internal"):
        rename_column(table, "conv_id", "cid")


def test_rename_back_and_compaction_compose(spark, table):
    """A->B->A round trip clears the mapping; a compaction between renames
    rewrites files under the PHYSICAL name so every era stays readable."""
    rename_column(table, "text", "body")
    table.compact()  # rewrites under physical name "text"
    upsert(table, spark.createDataFrame(
        [("D", 0, "d0")], "conv_id string, turn_idx int, body string"))
    rename_column(table, "body", "text")
    # the round trip cleared the metadata: schema carries no mapping
    fld = next(f for f in table.snapshot().schema.fields if f.name == "text")
    assert S.physical_name(fld) == "text"
    got = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert got["A"] in ("a0", "a1") and got["D"] == "d0"


def test_compact_tiered_folds_across_a_chained_rename(spark, table):
    """After text->body, a late event evolves a FRESH ``text`` column, so
    logical ``body`` lives in physical ``text`` and logical ``text`` in a
    new alias. A tiered fold must write each column back under its own
    physical name (the fold hands logical names to the write)."""
    from maestro_spark.verify import symmetric_diff_empty

    rename_column(table, "text", "body")
    merge_batch(table, spark.createDataFrame(
        [(9, "insert", "A", 2, "user", "a2", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "late", 1)
    before = table.read()
    assert {r["text"] for r in before.collect()} == {None, "a2"}
    assert table.compact_tiered() is not None
    assert symmetric_diff_empty(table.read(), before)


def test_drop_column_masks_then_compaction_erases(spark, table):
    update_where(table, F.col("conv_id") == "B",
                 {"tool": F.lit("SENTINELTOOL")})
    files_before = _data_files(table)
    drop_column(table, "tool")
    # metadata-only: zero data files written by the DROP itself
    assert _data_files(table) == files_before
    assert "tool" not in table.read().columns
    assert "tool" in table.snapshot().dropped  # physical name retired

    # the name is free at ANY type now — the re-add owns a FRESH physical
    # name, so stale bytes in un-rewritten files can never surface
    add_column(table, "tool", "int")
    assert table.read().filter(F.col("tool").isNotNull()).count() == 0
    upsert(table, spark.createDataFrame(
        [("B", 0, 7)], "conv_id string, turn_idx int, tool int"))
    assert table.read().filter(F.col("conv_id") == "B").head()["tool"] == 7

    # physical excision rides the COMPACTION cadence: a rewrite under the
    # masked schema never writes the column; expiry+vacuum drop the rest
    table.compact()
    table.expire_snapshots(keep_last=1)
    table.vacuum(manifest_grace_seconds=0)
    for dirpath, _, files in os.walk(os.path.join(table.root, DATA_DIR)):
        for fn in files:
            data = open(os.path.join(dirpath, fn), "rb").read()
            assert b"SENTINELTOOL" not in data, fn

    with pytest.raises(ValueError, match="key/internal"):
        drop_column(table, "turn_idx")
    with pytest.raises(ValueError, match="no payload column"):
        drop_column(table, "nope")


def test_drop_column_erase_true_is_immediate(spark, table):
    """The RTBF-grade path: erase=True rewrites now — the new current-state
    files never contained the bytes, no compaction needed."""
    update_where(table, F.col("conv_id") == "B",
                 {"tool": F.lit("SENTINELTOOL")})
    drop_column(table, "tool", erase=True)
    assert "tool" not in table.read().columns
    assert "tool" in table.snapshot().dropped
    table.expire_snapshots(keep_last=1)
    table.vacuum(manifest_grace_seconds=0)
    for dirpath, _, files in os.walk(os.path.join(table.root, DATA_DIR)):
        for fn in files:
            data = open(os.path.join(dirpath, fn), "rb").read()
            assert b"SENTINELTOOL" not in data, fn


def test_feed_spans_drop_and_readd_without_resurrection(spark, table):
    """The r4 ADVICE.md high finding, as a regression test: a changes()
    range spanning drop_column + same-name re-add must emit NULL (the fresh
    column) for pre-drop rows — never the dropped column's old values."""
    update_where(table, F.col("conv_id") == "B", {"tool": F.lit("OTHER")})
    drop_column(table, "tool")
    add_column(table, "tool", "string")
    feed = table.changes(0)
    assert "tool" in feed.columns
    vals = {r["tool"] for r in feed.collect()}
    assert vals == {None}, f"dropped values resurrected: {vals}"
    # a different-TYPE re-add must also scan clean (no parquet convert error)
    t2 = table
    drop_column(t2, "tool")
    add_column(t2, "tool", "int")
    assert t2.changes(0).filter(F.col("tool").isNotNull()).count() == 0
    assert t2.read().filter(F.col("tool").isNotNull()).count() == 0


def test_widen_column_metadata_only_and_expire_by_age(spark, table):
    """widen_column publishes the wider schema with zero data IO; old
    narrow files read through parquet upcast. expire_snapshots
    older_than_seconds keeps young history even past keep_last."""
    from maestro_spark.ddl import widen_column

    upsert(table, spark.createDataFrame(
        [("W", 0, "w0", 7)], "conv_id string, turn_idx int, text string, score int"))
    files_before = table.snapshot().files
    widen_column(table, "score", "long")
    assert table.snapshot().files == files_before  # no rewrite
    got = {r["conv_id"]: r["score"] for r in table.read().collect()}
    assert got["W"] == 7 and got["A"] is None  # narrow file upcast + nulls
    upsert(table, spark.createDataFrame(
        [("W", 1, "big", 2**40)], "conv_id string, turn_idx int, text string, score long"))
    assert table.read().filter(
        (F.col("conv_id") == "W") & (F.col("turn_idx") == 1)
    ).head()["score"] == 2**40
    with pytest.raises(TypeError, match="widen must move"):
        widen_column(table, "score", "int")   # narrowing refused
    with pytest.raises(TypeError):
        widen_column(table, "text", "int")    # not a safe widening

    # age-gated expiry: everything is seconds old -> nothing drops; with no
    # age gate the same keep_last drops history (tags still protected)
    assert table.expire_snapshots(keep_last=1,
                                  older_than_seconds=3600) == 0
    assert table.expire_snapshots(keep_last=1) > 0


def test_widen_renamed_column_keeps_mapping(spark, table):
    """Metadata survives composition: rename then widen then read."""
    from maestro_spark.ddl import widen_column

    upsert(table, spark.createDataFrame(
        [("W", 0, 7)], "conv_id string, turn_idx int, score int"))
    rename_column(table, "score", "stars")
    widen_column(table, "stars", "long")
    fld = next(f for f in table.snapshot().schema.fields if f.name == "stars")
    assert S.physical_name(fld) == "score"
    assert table.read().filter(F.col("conv_id") == "W").head()["stars"] == 7
