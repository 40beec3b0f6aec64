"""SQL transaction scripts (BEGIN … COMMIT/ROLLBACK): multi-statement DML
published atomically through the zero-copy-branch + adopt machinery — one
table via LakeTable.sql, several tables via the warehouse door's
coordinator-intent protocol. Readers never observe a partial script."""

from __future__ import annotations

import os

import pytest

from maestro_spark.lake import LakeTable, warehouse_sql
from maestro_spark.merge import merge_batch


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "wh")


def _mk(spark, wh, name, rows):
    os.makedirs(wh, exist_ok=True)
    warehouse_sql(spark, wh, f"CREATE TABLE {name} (conv_id string, "
                             "turn_idx int, role string, text string) "
                             "WITH (n_buckets = 4)")
    if rows:
        vals = ", ".join("('%s', %d, 'user', '%s')" % r for r in rows)
        warehouse_sql(spark, wh, f"INSERT INTO {name} (conv_id, turn_idx, "
                                 f"role, text) VALUES {vals}")
    return LakeTable(spark, f"{wh}/{name}")


def _state(t):
    return {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()}


def test_single_table_script_atomic_and_ordered(spark, wh):
    t = _mk(spark, wh, "conv", [("A", 0, "a0")])
    out = t.sql("""
        BEGIN;
        INSERT INTO t (conv_id, turn_idx, role, text)
          VALUES ('B', 0, 'user', 'b0');
        UPDATE t SET text = upper(text) WHERE conv_id = 'B';
        DELETE FROM t WHERE conv_id = 'A';
        COMMIT;
    """).head()
    assert out["op"] == "transaction" and out["statements_applied"] == 3
    # the UPDATE saw the INSERT's row (branch-state visibility in order)
    assert _state(t) == {("B", 0): "B0"}


def test_rollback_and_empty_are_noops(spark, wh):
    t = _mk(spark, wh, "conv", [("A", 0, "a0")])
    s0 = t.snapshot().snapshot_id
    t.sql("BEGIN; DELETE FROM t; ROLLBACK;")
    t.sql("BEGIN; COMMIT;")
    assert t.snapshot().snapshot_id == s0
    assert _state(t) == {("A", 0): "a0"}


def test_failing_statement_discards_everything(spark, wh):
    t = _mk(spark, wh, "conv", [("A", 0, "a0")])
    s0 = t.snapshot().snapshot_id
    with pytest.raises(Exception):
        t.sql("""
            BEGIN;
            DELETE FROM t WHERE conv_id = 'A';
            UPDATE t SET text = no_such_column || 'x';
            COMMIT;
        """)
    assert t.snapshot().snapshot_id == s0  # statement 1 never published
    assert _state(t) == {("A", 0): "a0"}


def test_failed_script_leaves_view_on_committed_state(spark, wh):
    """After a failing script the temp view serves the COMMITTED table, not
    the discarded branch (whose files are gone)."""
    t = _mk(spark, wh, "conv", [("A", 0, "a0")])
    with pytest.raises(Exception):
        t.sql("""
            BEGIN;
            INSERT INTO t (conv_id, turn_idx, role, text)
              VALUES ('B', 0, 'user', 'b0');
            UPDATE t SET text = no_such_column || 'x';
            COMMIT;
        """)
    rows = spark.sql("SELECT conv_id, turn_idx, text FROM t").collect()
    assert [tuple(r) for r in rows] == [("A", 0, "a0")]


def test_script_grammar_refusals(spark, wh):
    t = _mk(spark, wh, "conv", [("A", 0, "a0")])
    with pytest.raises(ValueError, match="COMMIT or ROLLBACK"):
        t.sql("BEGIN; DELETE FROM t")
    with pytest.raises(ValueError, match="only DML"):
        t.sql("BEGIN; OPTIMIZE t; COMMIT;")
    with pytest.raises(ValueError, match="only DML"):
        t.sql("BEGIN; SELECT * FROM t; COMMIT;")
    with pytest.raises(ValueError, match="misplaced"):
        t.sql("BEGIN; BEGIN; COMMIT;")
    # a literal semicolon inside a value never splits the script
    t.sql("BEGIN; INSERT INTO t (conv_id, turn_idx, role, text) "
          "VALUES ('C', 0, 'user', 'a; b; c'); COMMIT;")
    assert _state(t)[("C", 0)] == "a; b; c"


def test_cross_table_script_atomic(spark, wh):
    a = _mk(spark, wh, "conv_a", [("A", 0, "a0")])
    b = _mk(spark, wh, "conv_b", [("B", 0, "b0")])
    out = warehouse_sql(spark, wh, """
        BEGIN;
        UPDATE conv_a SET text = 'moved' WHERE conv_id = 'A';
        INSERT INTO conv_b (conv_id, turn_idx, role, text)
          SELECT conv_id, 1, 'user', text FROM conv_a WHERE conv_id = 'A';
        DELETE FROM conv_b WHERE conv_id = 'B';
        COMMIT;
    """).head()
    import json
    assert out["op"] == "transaction"
    assert set(json.loads(out["summary"])["tables"]) == {"conv_a", "conv_b"}
    assert _state(a) == {("A", 0): "moved"}
    # the INSERT's SELECT read conv_a's BRANCH state (already 'moved')
    assert _state(b) == {("A", 1): "moved"}


def test_cross_table_failure_moves_nothing(spark, wh):
    a = _mk(spark, wh, "conv_a", [("A", 0, "a0")])
    b = _mk(spark, wh, "conv_b", [("B", 0, "b0")])
    sa, sb = a.snapshot().snapshot_id, b.snapshot().snapshot_id
    with pytest.raises(Exception):
        warehouse_sql(spark, wh, """
            BEGIN;
            DELETE FROM conv_a;
            UPDATE conv_b SET text = boom_col;
            COMMIT;
        """)
    assert a.snapshot().snapshot_id == sa and b.snapshot().snapshot_id == sb
    assert _state(a) == {("A", 0): "a0"} and _state(b) == {("B", 0): "b0"}
    # the catalog views serve the committed states, not the dead branches
    for name, want in (("conv_a", ("A", "a0")), ("conv_b", ("B", "b0"))):
        rows = spark.sql(f"SELECT conv_id, text FROM {name}").collect()
        assert [tuple(r) for r in rows] == [want]


def test_transactional_ddl_plus_dml(spark, wh):
    """ALTER TABLE rides a script with the DML that populates it — the new
    column exists IFF the backfill landed (one atomic publish). Underneath
    this is the adopt() replace-schema fix: ALTER commits republish their
    schema verbatim instead of through the add-only merge."""
    t = _mk(spark, wh, "conv", [("A", 0, "a0")])
    t.sql("""
        BEGIN;
        ALTER TABLE t ADD COLUMN rating int;
        UPDATE t SET rating = 5 WHERE conv_id = 'A';
        COMMIT;
    """)
    rows = t.read().collect()
    assert [(r["conv_id"], r["rating"]) for r in rows] == [("A", 5)]
    # rename + drop inside a script adopt with replace semantics: the old
    # names must NOT resurrect on main, and the retired physical name
    # survives (a later same-name re-add reads nulls, never stale bytes)
    t.sql("""
        BEGIN;
        ALTER TABLE t RENAME COLUMN rating TO stars;
        ALTER TABLE t DROP COLUMN role;
        COMMIT;
    """)
    names = [f.name for f in t.snapshot().payload_schema().fields]
    assert "stars" in names and "rating" not in names and "role" not in names
    assert "role" in t.snapshot().dropped
    assert [r["stars"] for r in t.read().collect()] == [5]
    t.sql("BEGIN; ALTER TABLE t ADD COLUMN role string; COMMIT;")
    assert [r["role"] for r in t.read().collect()] == [None]  # fresh alias


def test_wap_branch_alter_adopts_with_replace_schema(spark, wh):
    """The raw WAP flow (clone → ALTER on the branch → adopt) carries
    rename/drop verbatim — the regression behind the script test above."""
    from maestro_spark import ddl

    t = _mk(spark, wh, "conv", [("A", 0, "a0")])
    with t.transaction() as txn:
        ddl.rename_column(txn, "text", "body")
        ddl.drop_column(txn, "role")
    names = [f.name for f in t.snapshot().payload_schema().fields]
    assert names == ["conv_id", "turn_idx", "body"]
    assert "role" in t.snapshot().dropped
    assert [r["body"] for r in t.read().collect()] == ["a0"]


def test_script_conflicts_with_concurrent_writer(spark, wh):
    """A racing commit between branch fork and COMMIT publish surfaces as
    the documented CommitConflict — nothing half-lands."""
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.lake import CommitConflict
    from maestro_spark.sqldml import parse_script

    t = _mk(spark, wh, "conv", [("A", 0, "a0")])
    stmts, _ = parse_script("BEGIN; DELETE FROM t WHERE conv_id = 'A'; COMMIT;")
    with pytest.raises(CommitConflict):
        with t.transaction() as txn:
            from maestro_spark.sqldml import execute_dml

            txn.create_view("t")
            execute_dml(txn, stmts[0], name="t", query_id="race")
            # a foreign writer lands on MAIN while the script is staging
            merge_batch(t, spark.createDataFrame(
                [(99, "insert", "Z", 0, "user", "z", None,
                  dt.datetime(2025, 1, 1))], S.CHANGE_EVENT_SCHEMA), "racer", 0)
    state = _state(t)
    assert state[("Z", 0)] == "z" and state[("A", 0)] == "a0"  # racer only
