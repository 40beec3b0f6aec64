"""Dead-letter channel in the merge sink: unmergeable events (null key /
null LSN / unknown op) are excluded from the table, counted in the epoch
stats on the same pass as the other planning metrics, and written to
<root>/_quarantine/<query_id>/epoch=<id>/ with a _reason — before the
commit, so crash-retries rewrite the same DLQ rows (exactly-once)."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
import pytest

from maestro_spark import schema as S
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch, read_quarantine

TS = dt.datetime(2025, 1, 1, 12)


import pyspark.sql.types as T

# a dirty source ignores our declared nullability — model it with an
# all-nullable twin of the event schema
DIRTY_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in S.CHANGE_EVENT_SCHEMA.fields]
)


def _events(spark, rows):
    """rows: (op_lsn, op, conv_id, turn_idx, text) — Nones allowed."""
    return spark.createDataFrame(
        [(lsn, op, cid, ti, None, txt, None, TS) for (lsn, op, cid, ti, txt) in rows],
        DIRTY_SCHEMA,
    )


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)


def test_dirty_batch_quarantined_clean_rows_applied(spark, table):
    snap = merge_batch(table, _events(spark, [
        (1, "insert", "A", 0, "a0"),
        (2, "insert", None, 0, "bad-key"),        # null_conv_id
        (3, "insert", "B", None, "bad-turn"),     # null_turn_idx
        (None, "insert", "C", 0, "bad-lsn"),      # null_op_lsn
        (5, "replace", "D", 0, "bad-op"),         # bad_op
        (6, "insert", "E", 0, "e0"),
    ]), "q", 0)
    assert snap.stats["invalid_events"] == 4
    assert snap.stats["rows_in"] == 6
    got = {r["conv_id"] for r in table.read().collect()}
    assert got == {"A", "E"}
    dlq = read_quarantine(table, "q").toPandas()
    assert len(dlq) == 4
    assert set(dlq["_reason"]) == {"null_conv_id", "null_turn_idx", "null_op_lsn", "bad_op"}
    # repair flow: fix the fixable rows, re-merge under a NEW epoch
    merge_batch(table, _events(spark, [
        (3, "insert", "B", 1, "bad-turn"),
        (5, "insert", "D", 0, "bad-op"),
    ]), "q", 1)
    assert {r["conv_id"] for r in table.read().collect()} == {"A", "B", "D", "E"}


def test_clean_batch_writes_no_quarantine(spark, table):
    snap = merge_batch(table, _events(spark, [
        (1, "insert", "A", 0, "a0"),
    ]), "q", 0)
    assert snap.stats["invalid_events"] == 0
    assert read_quarantine(table, "q") is None
    assert not os.path.isdir(os.path.join(table.root, "_quarantine"))


def test_quarantine_idempotent_on_redelivery(spark, table):
    ev = [(1, "insert", "A", 0, "a0"), (2, "oops", "B", 0, "bad")]
    merge_batch(table, _events(spark, ev), "q", 0)
    assert merge_batch(table, _events(spark, ev), "q", 0) is None  # skipped
    assert len(read_quarantine(table, "q").collect()) == 1


def test_all_invalid_local_batch(spark, table):
    """Every row quarantined (Catalyst statically collapses the empty merge
    input for a local batch — the degenerate-plan fallback path): the epoch
    still commits (rows_out 0), the DLQ holds every row, and the table is
    untouched."""
    snap = merge_batch(table, _events(spark, [
        (None, "insert", "A", 0, "bad1"),
        (2, "wat", "B", 0, "bad2"),
    ]), "q", 0)
    assert snap.stats["invalid_events"] == 2
    assert snap.stats["rows_out"] == 0
    assert table.read().count() == 0
    assert len(read_quarantine(table, "q").collect()) == 2
