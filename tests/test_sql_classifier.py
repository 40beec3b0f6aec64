"""Spark-free: every entry of ``sqldml.STATEMENTS`` classifies its samples
to its kind, target and pin policy, hostile literals included, and every
kind that cannot honour a pin refuses one before touching a table."""

from __future__ import annotations

import pytest

from maestro_spark import sqldml
from maestro_spark.sqldml import OWN, REFUSE, SELECT, SOURCE

# kind -> [(statement, target), …]; every kind of the table needs samples
SAMPLES = {
    "script": [
        ("BEGIN; UPDATE t SET text = 'a; b; COMMIT' WHERE conv_id = 'A'; COMMIT", None),
        ("  begin transaction;\n delete from t; rollback", None),
    ],
    "describe_history": [("DESCRIBE HISTORY conv", "conv"),
                         ("  describe history t;", "t")],
    "describe_files": [("describe FILES t", "t")],
    "show_create": [("SHOW CREATE TABLE conv", "conv")],
    "show_views": [("SHOW MATERIALIZED VIEWS", None),
                   ("show materialized views on conv", "conv")],
    "show_indexes": [("SHOW INDEXES ON conv", "conv"), ("\tshow indexes", None)],
    "search": [("SEARCH terms FOR 'x VERSION AS OF 3'", None),
               ("search '/idx/p' for 'a', 'b' mode term limit 2", None)],
    "restore": [("RESTORE TABLE t TO VERSION AS OF 3", "t"),
                ("restore table conv to timestamp as of '2025-01-01'", "conv")],
    "create_view": [
        ("CREATE MATERIALIZED VIEW '/p/from x' AS SELECT conv_id, "
         "count(*) AS n FROM conv GROUP BY conv_id", "conv"),
        ("create materialized view v as select 1", None),
    ],
    "view": [("REFRESH MATERIALIZED VIEW stats", None),
             ("drop materialized view if exists '/v'", None)],
    "create_index": [("CREATE INDEX terms ON conv USING text (text)", "conv"),
                     ("create index 'on x' on t using value (role, tool)", "t")],
    "index": [("refresh index terms", None), ("DROP INDEX IF EXISTS '/i'", None)],
    "maintenance": [("OPTIMIZE conv ZORDER BY (role)", "conv"),
                    ("  vacuum t dry run", "t")],
    "alter": [("ALTER TABLE t ADD COLUMN x string", "t")],
    "copy": [("COPY INTO conv FROM '/d' FILEFORMAT = csv", "conv")],
    "insert_values": [
        ("INSERT INTO t (conv_id, turn_idx, text) VALUES "
         "('A', 0, 'was VERSION AS OF 3')", "t"),
        ("insert into t values ('A', 0, 'select')", "t"),
    ],
    "insert_select_merge": [
        ("INSERT INTO t SELECT * FROM t VERSION AS OF 3", "t"),
        ("insert into t (conv_id, turn_idx) select conv_id, 0 from t", "t"),
        ("MERGE INTO t USING (SELECT 'values' AS text FROM t) AS s "
         "ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx "
         "WHEN MATCHED THEN DELETE", "t"),
        ("INSERT OVERWRITE t VALUES (1)", None),
    ],
    "update_delete_truncate": [
        ("UPDATE t SET text = 'was VERSION AS OF 9' WHERE conv_id = 'E'", "t"),
        ("  delete from t where text = 'insert into x'", "t"),
        ("TRUNCATE TABLE t", "t"),
    ],
    "table_ddl": [("CREATE TABLE x (conv_id string, turn_idx int)", None),
                  ("drop table if exists x", None),
                  ("CREATE TABLE y AS SELECT * FROM x", None)],
    "show_tables": [("SHOW TABLES", None)],
    "describe_table": [("DESCRIBE conv", None), ("describe table conv;", None)],
    "select": [
        ("SELECT 'UPDATE t SET x = 1' AS s", None),
        ("WITH x AS (SELECT 1) SELECT * FROM x", None),
        ("EXPLAIN SELECT count(*) FROM t VERSION AS OF 3", None),
        ("CREATE VIEW v AS SELECT 1", None),
        ("", None),
    ],
}
POLICY = {st.kind: st.pin for st in sqldml.STATEMENTS}
CASES = [(kind, sql, target) for kind, cases in SAMPLES.items()
         for sql, target in cases]


def test_every_kind_has_samples():
    assert set(SAMPLES) == set(POLICY)
    assert len(POLICY) == len(sqldml.STATEMENTS)  # kind names are unique


@pytest.mark.parametrize("kind,sql,target", CASES)
def test_sample_classifies_to_its_kind_target_and_policy(kind, sql, target):
    st, groups = sqldml.classify(sql)
    assert (st.kind, groups.get("target"), st.pin) == (kind, target, POLICY[kind])
    assert sqldml.statement_target(sql) == target


def test_pin_policies():
    assert {k for k, p in POLICY.items() if p == SOURCE} == {"insert_select_merge"}
    assert {k for k, p in POLICY.items() if p == OWN} == {"restore"}
    assert {k for k, p in POLICY.items() if p == SELECT} == {
        "select", "table_ddl", "show_tables", "describe_table"}


def test_derived_predicates():
    assert sqldml.is_dml("  INSERT INTO t VALUES (1)")
    assert sqldml.is_dml("Merge Into t USING s ON …")
    assert not sqldml.is_dml("SELECT 'DELETE FROM t'")
    assert sqldml.is_ddl("alter table t drop column x")
    assert sqldml.is_mv("  refresh   materialized view 'p'")
    assert not sqldml.is_mv("CREATE VIEW v AS SELECT 1")


@pytest.mark.parametrize("kind,sql,target", [
    c for c in CASES if POLICY[c[0]] in (REFUSE, OWN)])
def test_kinds_reading_live_rows_refuse_a_pin(kind, sql, target):
    # the refusal comes before any table access: object() has no methods
    with pytest.raises(ValueError, match="cannot target a time-travel pin"):
        sqldml.run(object(), sql, name=target or "t", snapshot_id=1)
    with pytest.raises(ValueError, match="cannot target a time-travel pin"):
        sqldml.run(object(), sql, name=target or "t", ts=1.5)


def test_inline_and_kwarg_pin_together_refuse():
    with pytest.raises(ValueError, match="inline OR as a kwarg"):
        sqldml.run(object(), "SELECT * FROM t VERSION AS OF 3", snapshot_id=3)
    with pytest.raises(ValueError, match="serves only view"):
        sqldml.run(object(), "SELECT * FROM other VERSION AS OF 3")


def test_script_split_keeps_literal_semicolons():
    stmts, term = sqldml.parse_script(SAMPLES["script"][0][0])
    assert term == "commit" and len(stmts) == 1
    assert sqldml.script_tables(stmts) == ["t"]
