"""The SQL statement table's pin rule and the statements it routes: every
kind refuses a time-travel pin it cannot honour (no pin is silently
ignored), INSERT … SELECT / MERGE … USING take a kwarg pin as the source
read, and RESTORE/rollback re-state the target snapshot's own bucket
layout."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from maestro_spark import schema as S
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch

TS = dt.datetime(2025, 1, 1, 12)
PIN = "cannot target a time-travel pin"


def _events(spark, rows):
    return spark.createDataFrame(
        [(lsn, op, c, t, "user", text, None, TS) for lsn, op, c, t, text in rows],
        S.CHANGE_EVENT_SCHEMA,
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    merge_batch(t, _events(spark, [
        (5, "insert", "A", 0, "a0"),
        (6, "insert", "A", 1, "a1"),
        (7, "insert", "B", 0, "b0"),
    ]), "seed", 0)
    return t


def test_metadata_and_search_statements_refuse_a_pin(spark, table, tmp_path):
    """These kinds read the tip (or no snapshot at all); a pin on them used
    to be dropped without a word."""
    sid = table.snapshot().snapshot_id
    table.sql("CREATE INDEX terms ON t USING text (text)")
    for stmt in ("SEARCH terms FOR 'a0'", "DESCRIBE HISTORY t",
                 "DESCRIBE FILES t", "SHOW CREATE TABLE t", "SHOW INDEXES",
                 "SHOW MATERIALIZED VIEWS ON t"):
        with pytest.raises(ValueError, match=PIN):
            table.sql(stmt, snapshot_id=sid)
        with pytest.raises(ValueError, match=PIN):
            table.sql(stmt, ts=table.snapshot(sid).committed_at)
    # an inline pin on the same statements refuses the same way
    with pytest.raises(ValueError, match=PIN):
        table.sql(f"SHOW CREATE TABLE t VERSION AS OF {sid}")
    # unpinned, each still serves
    assert table.sql("DESCRIBE HISTORY t").count() == len(table.snapshot_ids())
    assert table.sql("SEARCH terms FOR 'a0'").count() == 1


def test_cli_sql_snapshot_refuses_a_write(spark, table, monkeypatch):
    """`sql --snapshot N "UPDATE …"` used to register the pinned view and
    then write live rows; it now refuses and writes nothing."""
    from maestro_spark.__main__ import main

    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    before = table.snapshot().snapshot_id
    with pytest.raises(ValueError, match=PIN):
        main(["sql", "UPDATE lake SET text = 'x' WHERE conv_id = 'B'",
              "--table", f"{table.root}=lake", "--snapshot", str(before)])
    assert table.snapshot().snapshot_id == before
    assert table.read().filter(F.col("conv_id") == "B").head()["text"] == "b0"


def test_kwarg_pin_is_the_source_of_insert_select_and_merge(spark, table):
    """A kwarg pin on INSERT … SELECT / MERGE … USING pins the statement's
    source read, exactly like the inline clause: point-in-time repair."""
    s1 = table.snapshot().snapshot_id
    table.sql("DELETE FROM t WHERE conv_id = 'A'")
    assert table.read().count() == 1

    out = table.sql("INSERT INTO t SELECT * FROM t WHERE conv_id = 'A'",
                    snapshot_id=s1)
    assert {(r["conv_id"], r["turn_idx"]) for r in out.collect()} == {
        ("A", 0), ("A", 1), ("B", 0)}

    table.sql("UPDATE t SET text = 'changed'")
    table.sql("MERGE INTO t USING (SELECT * FROM t) AS s "
              "ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx "
              "WHEN MATCHED THEN UPDATE SET text = s.text",
              ts=table.snapshot(s1).committed_at)
    assert {r["text"] for r in table.read().collect()} == {"a0", "a1", "b0"}
    # the view serves the post-statement tip, not the pin
    assert table.sql("SELECT count(*) AS n FROM t WHERE text = 'changed'") \
        .head()["n"] == 0
    # a kwarg and an inline pin together still refuse
    with pytest.raises(ValueError, match="inline OR as a kwarg"):
        table.sql(f"INSERT INTO t SELECT * FROM t VERSION AS OF {s1}",
                  snapshot_id=s1)
    # INSERT … VALUES reads no view: a pin there refuses
    with pytest.raises(ValueError, match=PIN):
        table.sql("INSERT INTO t (conv_id, turn_idx, text) VALUES ('C', 0, 'c')",
                  snapshot_id=s1)


@pytest.mark.parametrize("how", ["rollback", "restore"])
def test_rollback_across_a_rebucket_keeps_the_target_layout(spark, tmp_path, how):
    t = LakeTable.create(spark, str(tmp_path / "rb"), n_buckets=4)
    keys = [(f"k{i}", 0) for i in range(20)]
    merge_batch(t, _events(spark, [
        (i + 1, "insert", c, ti, f"v{i}") for i, (c, ti) in enumerate(keys)
    ]), "seed", 0)
    pre = t.snapshot().snapshot_id
    t.rebucket(8)
    assert t.snapshot().n_buckets == 8

    if how == "rollback":
        snap = t.rollback(pre)
    else:
        t.sql(f"RESTORE TABLE t TO VERSION AS OF {pre}")
        snap = t.snapshot()
    assert snap.n_buckets == 4 and snap.stats["rollback_to"] == pre
    assert t.read().count() == 20
    for c, ti in keys:
        assert t.lookup(c, ti).count() == 1, c

    # one more merged epoch lands in the restored layout
    merge_batch(t, _events(spark, [(100, "update", "k3", 0, "new"),
                                   (101, "insert", "k99", 0, "x")]), "more", 1)
    assert t.read().count() == 21
    assert t.lookup("k3", 0).head()["text"] == "new"
    assert t.lookup("k99", 0).count() == 1
    assert all(t.lookup(c, ti).count() == 1 for c, ti in keys)
