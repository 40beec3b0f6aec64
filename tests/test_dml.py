"""DML verbs compile to change-event epochs through the normal merge path:
LSN dominance, tombstone semantics, change-feed visibility, and schema
evolution all hold; duplicate-key statements are rejected."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from maestro_spark import schema as S
from maestro_spark.dml import (
    _pinned_keys,
    delete_where,
    max_live_lsn,
    merge_into,
    update_where,
    upsert,
)
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch

TS = dt.datetime(2025, 1, 1, 12)


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    merge_batch(t, spark.createDataFrame(
        [(5, "insert", "A", 0, "user", "a0", None, TS),
         (6, "insert", "A", 1, "assistant", "a1", None, TS),
         (7, "insert", "B", 0, "user", "b0", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "seed", 0)
    return t


def _rows(t):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read().collect()
    }


def test_upsert_insert_and_replace(spark, table):
    df = spark.createDataFrame(
        [("A", 0, "user", "a0-v2", None, TS), ("C", 0, "user", "c0", None, TS)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz",
    )
    upsert(table, df)
    assert _rows(table) == {
        ("A", 0): "a0-v2", ("A", 1): "a1", ("B", 0): "b0", ("C", 0): "c0",
    }
    # the statement's LSN strictly dominates the seed data
    assert max_live_lsn(table) == 8


def test_upsert_duplicate_keys_rejected(spark, table):
    df = spark.createDataFrame(
        [("X", 0, "a"), ("X", 0, "b")], "conv_id string, turn_idx int, text string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert(table, df)


def test_delete_where_tombstones(spark, table):
    delete_where(table, F.col("conv_id") == "A")
    assert _rows(table) == {("B", 0): "b0"}
    # late re-delivery of the deleted rows (their original LSNs) stays dead
    merge_batch(table, spark.createDataFrame(
        [(5, "insert", "A", 0, "user", "a0", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "late", 1)
    assert _rows(table) == {("B", 0): "b0"}


def test_update_where_preserves_other_columns(spark, table):
    update_where(
        table,
        (F.col("conv_id") == "A") & (F.col("turn_idx") == 1),
        {"text": F.upper("text")},
    )
    got = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["role"])
        for r in table.read().collect()
    }
    assert got[("A", 1)] == ("A1", "assistant")  # role rode along
    assert got[("A", 0)] == ("a0", "user")       # untouched rows unchanged


def test_update_where_set_is_simultaneous(spark, table):
    """SQL UPDATE semantics: every SET expression reads the OLD row, so
    ``SET text = role, role = text`` SWAPS the two columns (sequential
    assignment would make the second read the first's result); a new
    column's expression also reads old values."""
    update_where(
        table,
        F.col("conv_id") == "A",
        {"text": F.col("role"), "role": F.col("text"),
         "tool": F.concat(F.col("role"), F.lit("|"), F.col("text"))},
    )
    got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["role"], r["tool"])
           for r in table.read().filter(F.col("conv_id") == "A").collect()}
    assert got == {
        ("A", 0): ("user", "a0", "user|a0"),
        ("A", 1): ("assistant", "a1", "assistant|a1"),
    }


def test_dml_visible_in_change_feed(spark, table):
    pre = table.snapshot().snapshot_id
    snap = delete_where(table, F.col("conv_id") == "B")
    feed = table.changes(pre, snap.snapshot_id).collect()
    assert [(r["conv_id"], r["op"]) for r in feed] == [("B", "delete")]


def test_upsert_schema_evolution(spark, table):
    df = spark.createDataFrame(
        [("D", 0, "d0", "rated-5")],
        "conv_id string, turn_idx int, text string, rating string",
    )
    upsert(table, df)
    got = table.read().filter(F.col("conv_id") == "D").head()
    assert got["rating"] == "rated-5"
    # pre-existing rows read the evolved column as null
    assert table.read().filter(F.col("conv_id") == "A").head()["rating"] is None


def test_concurrent_dml_statements_never_tie_lsn(spark, table):
    """r2 advice: two concurrent statements acquiring the same max+1 LSN
    must not both land it for different payloads — the loser hits the LSN
    fence, re-acquires a fresh LSN, and re-plans from current state."""
    b = LakeTable(spark, table.root)
    df_a = spark.createDataFrame(
        [("A", 0, "from-a")], "conv_id string, turn_idx int, text string")
    df_b = spark.createDataFrame(
        [("A", 0, "from-b")], "conv_id string, turn_idx int, text string")
    real = table._publish
    state = {"fired": False}

    def hooked(snap, **kwargs):
        if not state["fired"]:  # b's whole statement wins the race
            state["fired"] = True
            upsert(b, df_b, query_id="dml-b")
        real(snap, **kwargs)

    table._publish = hooked
    upsert(table, df_a, query_id="dml-a")
    table._publish = real
    # the re-planned statement strictly dominates: distinct LSNs, a wins
    assert _rows(table)[("A", 0)] == "from-a"
    lsns = [
        table.snapshot(s).stats.get("max_lsn")
        for s in table.snapshot_ids()
        if table.snapshot(s).epoch_key and
        table.snapshot(s).epoch_key.startswith("dml-")
    ]
    assert sorted(lsns) == [8, 9]  # seed max was 7; no tie


# --------------------------------------------------------------- MERGE INTO
def test_merge_into_all_clause_kinds(spark, table):
    """One statement exercising update / delete / insert / by-source-update:
    lands atomically as ONE snapshot, final state exact, feed sees the
    tombstone as op='delete'."""
    src = spark.createDataFrame(
        [("A", 0, "upd", "patched"),
         ("B", 0, "del", None),
         ("D", 0, "ins", "fresh")],
        "conv_id string, turn_idx int, action string, note string")
    pre = table.snapshot().snapshot_id
    snap = (merge_into(table, src)
            .when_matched_delete(condition="s.action = 'del'")
            .when_matched_update(set={"text": "concat(t.text, '+', s.note)"})
            .when_not_matched_insert(values={"text": "s.note", "role": "'user'"})
            .when_not_matched_by_source_update(
                set={"role": "'stale'"}, condition="t.turn_idx = 1")
            .execute())
    assert snap.snapshot_id == pre + 1  # one atomic commit
    got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["role"])
           for r in table.read().collect()}
    assert got == {
        ("A", 0): ("a0+patched", "user"),
        ("A", 1): ("a1", "stale"),        # by-source clause hit
        ("D", 0): ("fresh", "user"),      # inserted
    }  # B/0 deleted
    feed = {(r["conv_id"], r["turn_idx"]): r["op"]
            for r in table.changes(pre, snap.snapshot_id).collect()}
    assert feed[("B", 0)] == "delete"
    assert feed[("D", 0)] == "upsert"


def test_merge_into_first_true_clause_wins(spark, table):
    """Delta semantics: within a category, clauses fire in registration
    order — a row satisfying both conditions takes the FIRST."""
    src = spark.createDataFrame(
        [("A", 0), ("A", 1)], "conv_id string, turn_idx int")
    (merge_into(table, src)
     .when_matched_update(set={"text": "'first'"}, condition="t.turn_idx = 0")
     .when_matched_update(set={"text": "'second'"})
     .execute())
    got = _rows(table)
    assert got[("A", 0)] == "first"
    assert got[("A", 1)] == "second"


def test_merge_into_sync_semantics(spark, table):
    """update+insert+by-source-delete = 'make the table equal the source'
    (classic dimension sync)."""
    src = spark.createDataFrame(
        [("A", 0, "user", "a0-v2"), ("Z", 9, "user", "z9")],
        "conv_id string, turn_idx int, role string, text string")
    (merge_into(table, src)
     .when_matched_update(set={"text": "s.text", "role": "s.role"})
     .when_not_matched_insert()
     .when_not_matched_by_source_delete()
     .execute())
    assert _rows(table) == {("A", 0): "a0-v2", ("Z", 9): "z9"}


def test_merge_into_insert_defaults_to_source_columns(spark, table):
    """values=None inserts the source's table columns verbatim; columns the
    source lacks land as typed nulls."""
    src = spark.createDataFrame(
        [("N", 0, "brand-new")], "conv_id string, turn_idx int, text string")
    merge_into(table, src).when_not_matched_insert().execute()
    row = table.read().filter(
        (F.col("conv_id") == "N") & (F.col("turn_idx") == 0)).head()
    assert row["text"] == "brand-new" and row["role"] is None


def test_merge_into_schema_evolution(spark, table):
    """A set= expression naming a NEW column evolves the table schema like
    an evolved binlog event; untouched rows read it as null."""
    src = spark.createDataFrame([("A", 0, 5)],
                                "conv_id string, turn_idx int, stars int")
    (merge_into(table, src)
     .when_matched_update(set={"rating": "cast(s.stars as string)"})
     .execute())
    got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["rating"])
           for r in table.read().collect()}
    assert got[("A", 0)] == ("a0", "5")   # untouched cols rode along
    assert got[("B", 0)] == ("b0", None)


def test_merge_into_rejects_ambiguity_and_empty(spark, table):
    src = spark.createDataFrame(
        [("X", 0, "a"), ("X", 0, "b")],
        "conv_id string, turn_idx int, text string")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(table, src).when_not_matched_insert().execute()
    ok = spark.createDataFrame([("X", 0, "a")],
                               "conv_id string, turn_idx int, text string")
    with pytest.raises(ValueError, match="WHEN clause"):
        merge_into(table, ok).execute()
    with pytest.raises(ValueError, match="key columns"):
        merge_into(table, ok.drop("turn_idx"))


def test_key_pinned_dml_reads_only_its_buckets(spark, table, monkeypatch):
    """A predicate pinning conv_id to literals (Python or SQL form) reads
    only those keys' buckets; any other predicate reads the whole table.
    Results are those of the unnarrowed read."""
    from maestro_spark.keyhash import bucket_of

    n = table.snapshot().n_buckets
    calls = []
    read = LakeTable.read

    def spy(self, snapshot_id=None, buckets=None, columns=None):
        calls.append(buckets)
        return read(self, snapshot_id, buckets, columns)

    monkeypatch.setattr(LakeTable, "read", spy)
    delete_where(table, F.col("conv_id") == "A")
    assert calls == [[bucket_of("A", n)]]
    # table.sql also reads the whole table to register its view
    calls.clear()
    table.sql("UPDATE t SET text = 'x' WHERE conv_id IN ('A', 'B') AND turn_idx = 0")
    assert [c for c in calls if c is not None] == [
        sorted({bucket_of("A", n), bucket_of("B", n)})]
    calls.clear()
    update_where(table, (F.col("conv_id") == "B") | (F.col("turn_idx") == 9),
                 {"text": F.lit("y")})
    assert calls == [None]
    monkeypatch.undo()
    assert _rows(table) == {("B", 0): "y"}

    # what pins the key, and what must not
    schema = table.snapshot().payload_schema()
    for where, want in [
        ("CONV_ID = 'a' OR conv_id <=> 'b'", {"a", "b"}),
        ("conv_id = 'a' AND conv_id = 'b'", set()),
        ("conv_id = 'a' OR turn_idx = 0", None),
        ("'a' IN (conv_id, 'a')", None),
        ("lower(conv_id) = 'a'", None),
        ("conv_id = NULL", None),
    ]:
        cond = (spark.createDataFrame([], schema).filter(F.expr(where))
                ._jdf.queryExecution().analyzed().condition())
        assert _pinned_keys(cond) == want, where
