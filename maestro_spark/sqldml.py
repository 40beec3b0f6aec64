"""SQL write statements over lake tables (r4 verdict ask #3).

The engine's read-side SQL front door (``LakeTable.sql`` / ``register_
catalog``) serves SELECTs through the session; this module gives the WRITE
verbs the same ergonomics by parsing a RESTRICTED grammar of ``INSERT
INTO`` / ``UPDATE`` / ``DELETE FROM`` / ``MERGE INTO`` statement text and
compiling it onto the engine's fenced DML builders (maestro_spark.dml) —
so a SQL statement gets the full native-write contract for free: fenced
statement LSN, exactly-once commit, CommitConflict re-plan, change-feed
visibility, IVM maintenance, constraint gating, and schema evolution.

Restricted grammar (anything outside it raises a clear ValueError — the
engine REFUSES rather than mis-executes):

    INSERT INTO <t> (c1, ...) VALUES (v1, ...) [, (…) …]
    INSERT INTO <t> [(c1, ...)] SELECT …
    UPDATE <t> SET c1 = e1 [, …] [WHERE p]
    DELETE FROM <t> [WHERE p]
    TRUNCATE TABLE <t>   (fenced delete-all: tombstones, not erasure)
    MERGE INTO <t> [[AS] t] USING (<src name> | (SELECT …)) [[AS] s]
      ON <key equality on (conv_id, turn_idx)>
      WHEN MATCHED [AND c] THEN UPDATE SET … | DELETE
      WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT * | INSERT (…) VALUES (…)
      WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE
    ALTER TABLE … (see execute_ddl — metadata-only DDL builders)
    CREATE MATERIALIZED VIEW <view> AS SELECT … FROM <t>
      [[LEFT] JOIN '<dim path>' USING (cols)] [WHERE …] GROUP BY …
    REFRESH MATERIALIZED VIEW <view> / DROP MATERIALIZED VIEW [IF EXISTS] <view>
    OPTIMIZE <t> [ZORDER BY (cols…)] / VACUUM <t> [DRY RUN]
    SEARCH <idx> FOR '<query>'[, '<v2>'…] [MODE …] [LIMIT k]
      (modes term|and|phrase|bm25|bm25_and; a quoted value LIST probes a
      composite value index, one value per indexed column)
    COPY INTO <t> FROM '<dir-or-glob>' FILEFORMAT = <csv|json|parquet|orc> [WITH (…)]
      (idempotent per-file bulk load — ingest.copy_into)
    RESTORE TABLE <t> TO VERSION AS OF <id|'tag'> / TO TIMESTAMP AS OF <'iso'|epoch>
      (forward-only rollback — lake.rollback)
    BEGIN [TRANSACTION|WORK]; <DML or ALTER TABLE>; … COMMIT | ROLLBACK
      (one atomic script — execute_script)
    DESCRIBE HISTORY|FILES <t> / SHOW CREATE TABLE <t>
    SHOW MATERIALIZED VIEWS [ON <t>] / SHOW INDEXES [ON <t>]
    CREATE TABLE [IF NOT EXISTS] <name> (col type, …) [WITH (n_buckets = K)]
    CREATE TABLE <name> [WITH (…)] AS SELECT … / DROP TABLE [IF EXISTS] <name>
    SHOW TABLES / DESCRIBE [TABLE] <name>
      (table provisioning and catalog — the warehouse front door,
      lake.warehouse_sql)
    Time travel, inline on a view name or as the snapshot_id=/ts= kwarg:
      <name> [FOR] VERSION AS OF <id|'tag'> / [FOR] TIMESTAMP AS OF <'iso'|epoch>
      (extract_time_travel; resolved by the table's own snapshot chain).
      It pins a SELECT, or the SOURCE read of INSERT … SELECT / MERGE …
      USING; every other kind refuses it.

Routing: every statement kind above is ONE entry of :data:`STATEMENTS` —
its anchored matcher (with the ``target`` group its refusals check), its
pin policy, its executor, its result rows, when it (re-)registers the
view, and how the warehouse door and the CLI find its owning table.
``LakeTable.sql`` (:func:`run`), ``warehouse_sql`` (:func:`owner`) and the
CLI ``sql`` command all dispatch through that one table.

Design choices:
- expressions are NEVER re-implemented: every value/assignment/predicate
  substring is handed to Spark (``F.expr`` / ``spark.sql``) so the SQL
  dialect inside expressions is exactly Spark's;
- the statement's target name must match the registered view name — a
  statement aimed at a different table refuses instead of silently writing
  this one;
- MERGE aliases are pinned to ``t`` (target) and ``s`` (source), Delta's
  documentation convention, and the ON clause must be the table key
  equality (the builder's identity rule; see dml.MergeInto) — anything
  else refuses with the reason.

Scale: the module is pure statement-compilation — the plans that run are
IDENTICAL to the native builders' (one fenced merge epoch; MERGE is one
join + one exchange, plan-gated in tests/test_plan_quality.py).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maestro_spark import index_maint as IM
from maestro_spark import ivm
from maestro_spark import schema as S
from maestro_spark.dml import MergeInto, delete_where, update_where, upsert
from maestro_spark.lake import LakeTable, Snapshot, show_create

# Inline time travel (Delta `t VERSION AS OF 3` / `t TIMESTAMP AS OF '…'`,
# Iceberg `t FOR VERSION AS OF 3`, SQL:2011 `t FOR SYSTEM_TIME AS OF …`).
# The clause attaches to a table reference, so the pattern anchors on an
# identifier. Matching runs over a LITERAL-MASKED copy of the statement so
# 'VERSION AS OF 9' inside a quoted value can never match (values are
# spliced back from the original text by span).
_TT_RE = re.compile(
    r"(?P<ident>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"(?:FOR\s+)?(?P<kind>SYSTEM_VERSION|SYSTEM_TIME|VERSION|TIMESTAMP)"
    r"\s+AS\s+OF\s+"
    r"(?P<val>'[^']*'|\"[^\"]*\"|\d+(?:\.\d+)?)",
    re.I,
)


def _mask_literal_bodies(s: str) -> str:
    """Same-length copy with the INTERIOR of quoted literals blanked
    (quotes kept; '' doubling and backslash escapes honored — Spark's
    default dialect interprets both) — regex spans stay valid on the
    original text."""
    out = list(s)
    i = 0
    while i < len(s):
        q = s[i]
        if q in ("'", '"'):
            j = i + 1
            while j < len(s):
                if s[j] == "\\":
                    j += 2
                    continue
                if s[j] == q:
                    if q == "'" and j + 1 < len(s) and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i + 1, min(j, len(s))):
                out[k] = "\x00"
            i = j + 1
        else:
            i += 1
    return "".join(out)


def extract_time_travel(sql: str, name: str) -> tuple[str, list[tuple[str, str]]]:
    """Find and STRIP inline time-travel clauses on view ``name``.

    Returns ``(stripped_sql, pins)`` where each pin is ``(kind, raw_value)``
    with kind normalized to ``VERSION`` (snapshot id or tag literal) or
    ``TIMESTAMP`` (ISO literal or epoch-seconds number). A clause attached
    to any OTHER identifier refuses — this front door serves exactly one
    registered view, and silently ignoring a pin on a joined name would
    read the wrong snapshot. Resolution (tag → id, ts → id, conflicting
    pins) happens in :meth:`LakeTable.sql`, which owns the snapshot chain."""
    stripped, by_ident = extract_time_travel_any(sql)
    pins: list[tuple[str, str]] = []
    for ident, ident_pins in by_ident.items():
        if ident.lower() != name.lower():
            raise ValueError(
                f"time-travel clause on {ident!r}, but this front door "
                f"serves only view {name!r} — register the other table's "
                "view pinned (create_view(snapshot_id=…)) instead"
            )
        pins.extend(ident_pins)
    return stripped, pins


def extract_time_travel_any(sql: str) -> tuple[str, dict[str, list[tuple[str, str]]]]:
    """Multi-table variant of :func:`extract_time_travel` (the warehouse
    front door, where several registered tables may each carry a pin):
    strips every inline clause and returns ``(stripped_sql,
    {identifier: [(kind, raw_value), …]})`` — the caller validates the
    identifiers against its catalog and resolves each table's pins."""
    by_ident: dict[str, list[tuple[str, str]]] = {}
    out: list[str] = []
    last = 0
    for m in _TT_RE.finditer(_mask_literal_bodies(sql)):
        ident = sql[m.start("ident") : m.end("ident")]
        kind = m.group("kind").upper()
        kind = {"SYSTEM_VERSION": "VERSION", "SYSTEM_TIME": "TIMESTAMP"}.get(
            kind, kind
        )
        by_ident.setdefault(ident, []).append(
            (kind, sql[m.start("val") : m.end("val")])
        )
        out.append(sql[last : m.end("ident")])  # keep the table reference
        last = m.end()
    out.append(sql[last:])
    return "".join(out), by_ident


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0, outside quoted strings (single
    or double — both are string literals in Spark's default dialect)."""
    masked = _mask_literal_bodies(s)
    parts, buf, depth = [], [], 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(s[i])
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _scan_group(s: str, start: int) -> int:
    """Index just past the ``)`` matching the ``(`` at ``s[start]``
    (literal-aware: parens inside quoted strings don't count)."""
    masked = _mask_literal_bodies(s)
    depth = 0
    for i in range(start, len(masked)):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError(f"unbalanced parentheses in {s[start:start + 60]!r}")


def _top_kw(s: str, kw_pattern: str) -> re.Match | None:
    """First match of ``kw_pattern`` at paren depth 0 outside string
    literals — how clause keywords (WHERE, WHEN MATCHED, …) are located
    without being fooled by the same word inside a literal or a
    parenthesized subexpression. Spans are valid on the original text."""
    masked = _mask_literal_bodies(s)
    depth, depths = 0, []
    for ch in masked:
        if ch == "(":
            depth += 1
        depths.append(depth)
        if ch == ")":
            depth -= 1
    for m in re.finditer(kw_pattern, masked, re.I):
        if depths[m.start()] == 0:
            return m
    return None


def _parse_assignments(text: str) -> dict[str, str]:
    """``c1 = e1, c2 = e2`` -> {c1: e1, ...} (exprs stay Spark SQL text)."""
    out: dict[str, str] = {}
    for part in _split_top(text):
        m = re.match(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", part, re.S)
        if not m:
            raise ValueError(f"cannot parse assignment {part!r} (want col = expr)")
        col = m.group(1)
        if col in out:
            raise ValueError(f"column {col!r} assigned twice")
        out[col] = m.group(2).strip()
    if not out:
        raise ValueError("SET clause has no assignments")
    return out


def _require_target(stmt_name: str, name: str) -> None:
    if stmt_name.lower() != name.lower():
        raise ValueError(
            f"statement targets {stmt_name!r} but this table is registered "
            f"as {name!r} — refusing to write a different table"
        )


def _strip_ident(tok: str) -> str:
    return tok.strip().strip("`\"")


# --------------------------------------------------------------------- verbs
def _exec_insert(table: LakeTable, sql: str, name: str, query_id: str):
    m = re.match(
        r"^\s*insert\s+into\s+([A-Za-z_][\w.]*)\s*"
        r"(\(([^)]*)\))?\s*(values\b|select\b|with\b)(.*)$",
        sql, re.I | re.S,
    )
    if not m:
        raise ValueError(
            "unsupported INSERT (want: INSERT INTO <t> [(cols)] VALUES "
            "(...)[, ...] | INSERT INTO <t> [(cols)] [WITH …] SELECT ...)"
        )
    _require_target(_strip_ident(m.group(1)), name)
    cols = [_strip_ident(c) for c in _split_top(m.group(3))] if m.group(3) else None
    kw, rest = m.group(4).lower(), m.group(5).strip()
    spark = table.spark
    if kw.startswith("values"):
        if not cols:
            cols = [f.name for f in table.snapshot().payload_schema().fields]
        # Spark parses every literal/expression: VALUES text passes verbatim
        df = spark.sql(
            f"SELECT * FROM VALUES {rest} AS v({', '.join(cols)})"
        )
    else:
        df = spark.sql(sql[m.start(4):])
        if cols:
            if len(cols) != len(df.columns):
                raise ValueError(
                    f"INSERT column list has {len(cols)} names but the "
                    f"SELECT produces {len(df.columns)} columns"
                )
            df = df.toDF(*cols)
    missing = [k for k in S.KEY_COLS if k not in df.columns]
    if missing:
        raise ValueError(f"INSERT must provide key columns {missing}")
    return upsert(table, df, query_id=query_id)


def _exec_update(table: LakeTable, sql: str, name: str, query_id: str):
    m = re.match(
        r"^\s*update\s+([A-Za-z_][\w.]*)\s+set\s+(.*?)\s*;?\s*$",
        sql, re.I | re.S,
    )
    if not m:
        raise ValueError("unsupported UPDATE (want: UPDATE <t> SET c = e[, ...] [WHERE p])")
    _require_target(_strip_ident(m.group(1)), name)
    # the WHERE boundary is found outside literals/parens, so a SET value
    # like 'deleted where stale' can never truncate the assignment list
    body = m.group(2)
    wm = _top_kw(body, r"\bwhere\b")
    set_text, where_text = (
        (body[: wm.start()], body[wm.end():].strip()) if wm else (body, None)
    )
    assigns = {c: F.expr(e) for c, e in _parse_assignments(set_text).items()}
    bad = set(assigns) & set(S.KEY_COLS)
    if bad:
        raise ValueError(f"cannot UPDATE key columns {sorted(bad)}")
    pred = F.expr(where_text) if where_text else F.lit(True)
    return update_where(table, pred, assigns, query_id=query_id)


def _exec_delete(table: LakeTable, sql: str, name: str, query_id: str):
    m = re.match(
        r"^\s*delete\s+from\s+([A-Za-z_][\w.]*)\s*(?:where\s+(.*))?\s*;?\s*$",
        sql, re.I | re.S,
    )
    if not m:
        raise ValueError("unsupported DELETE (want: DELETE FROM <t> [WHERE p])")
    _require_target(_strip_ident(m.group(1)), name)
    pred = F.expr(m.group(2)) if m.group(2) else F.lit(True)
    return delete_where(table, pred, query_id=query_id)


def _exec_truncate(table: LakeTable, sql: str, name: str, query_id: str):
    """``TRUNCATE TABLE <t>`` (Delta parity) = a fenced delete-all: every
    live row tombstones in ONE exactly-once epoch. CDC semantics hold —
    the rows are remembered, not erased (the change feed emits the
    deletes; history/time travel still serve them; RTBF erasure remains
    ``purge``'s job)."""
    m = re.match(r"^\s*truncate\s+table\s+([A-Za-z_][\w.]*)\s*;?\s*$", sql, re.I)
    if not m:
        raise ValueError("unsupported TRUNCATE (want: TRUNCATE TABLE <t>)")
    _require_target(_strip_ident(m.group(1)), name)
    return delete_where(table, F.lit(True), query_id=query_id)


def _validate_merge_on(on_text: str) -> None:
    """The ON clause must be exactly the key equality (any order, either
    side first): the builder defines row identity by the table key and
    cannot honor an arbitrary join condition (see dml.MergeInto)."""
    seen: set[str] = set()
    for part in re.split(r"\band\b", on_text, flags=re.I):
        m = re.match(
            r"^\s*([st])\s*\.\s*([A-Za-z_]\w*)\s*=\s*([st])\s*\.\s*([A-Za-z_]\w*)\s*$",
            part.strip(),
        )
        if not m:
            raise ValueError(
                f"MERGE ON must be key equality over aliases s/t; cannot "
                f"accept {part.strip()!r}"
            )
        a_side, a_col, b_side, b_col = m.groups()
        if {a_side, b_side} != {"s", "t"} or a_col != b_col or a_col not in S.KEY_COLS:
            raise ValueError(
                f"MERGE ON must equate the table key {S.KEY_COLS} between "
                f"s and t; cannot accept {part.strip()!r}"
            )
        seen.add(a_col)
    if seen != set(S.KEY_COLS):
        raise ValueError(
            f"MERGE ON must cover the full table key {S.KEY_COLS}; got {sorted(seen)}"
        )


def _exec_merge(table: LakeTable, sql: str, name: str, query_id: str):
    m = re.match(
        r"^\s*merge\s+into\s+([A-Za-z_][\w.]*)\s*(?:as\s+)?(?:t\b)?\s*using\s+",
        sql, re.I,
    )
    if not m:
        raise ValueError(
            "unsupported MERGE (want: MERGE INTO <t> [AS t] USING <src>|(SELECT …) "
            "[AS s] ON <key equality> WHEN … THEN …)"
        )
    _require_target(_strip_ident(m.group(1)), name)
    # the USING source: a parenthesized SELECT is delimited by a proper
    # paren scan (arbitrary nesting — a depth-limited regex refused
    # sources like upper(trim(x)) inside the subquery)
    pos = m.end()
    if sql[pos : pos + 1] == "(":
        end = _scan_group(sql, pos)
        src_text = sql[pos:end]
    else:
        sm = re.match(r"[A-Za-z_][\w.]*", sql[pos:])
        if not sm:
            raise ValueError("MERGE USING wants a view name or (SELECT …)")
        src_text = sm.group(0)
        end = pos + sm.end()
    am = re.match(r"\s*(?:as\s+)?(?:s\b)?\s*on\s+", sql[end:], re.I)
    if not am:
        raise ValueError(
            "MERGE wants ON after the USING source (source alias, if "
            "given, must be s)"
        )
    rest = sql[end + am.end():]
    # clause keywords are located outside literals and parens, so a SET
    # value like 'when matched then x' or a CASE WHEN expression can
    # never be mistaken for a clause boundary
    _WHEN = r"\bwhen\s+(?:not\s+)?matched\b"
    wm = _top_kw(rest, _WHEN)
    if not wm:
        raise ValueError("MERGE wants at least one WHEN clause")
    on_text, when_text = rest[: wm.start()].strip(), rest[wm.start():]
    _validate_merge_on(on_text)  # grammar first: refuse before any IO
    spark = table.spark
    if src_text.startswith("("):
        source = spark.sql(src_text[1:-1])
    else:
        source = spark.table(_strip_ident(src_text))

    builder = MergeInto(table, source)
    clause_re = re.compile(
        r"when\s+(not\s+matched\s+by\s+source|not\s+matched(?:\s+by\s+target)?|matched)"
        r"\s*(?:and\s+(.*?))?\s*then\s+"
        r"(update\s+set\s+.*?|delete|insert\s*\*|insert\s*\([^)]*\)\s*values\s*\(.*?\))"
        rf"\s*(?={_WHEN}|$)",
        re.I | re.S,
    )
    consumed = 0
    # match over the masked copy (same length), slice text from the
    # original by span: literals can't confuse the clause grammar
    for cm in clause_re.finditer(_mask_literal_bodies(when_text)):
        if when_text[consumed : cm.start()].strip():
            raise ValueError(
                f"cannot parse MERGE clause text "
                f"{when_text[consumed:cm.start()].strip()!r}"
            )
        consumed = cm.end()
        cat = re.sub(r"\s+", " ", cm.group(1).lower())
        cond = (
            when_text[cm.start(2) : cm.end(2)] if cm.group(2) is not None else None
        )
        action = when_text[cm.start(3) : cm.end(3)].strip()
        upd = re.match(r"^update\s+set\s+(.*)$", action, re.I | re.S)
        if cat == "matched":
            if action.lower() == "delete":
                builder.when_matched_delete(condition=cond)
            elif upd:
                builder.when_matched_update(
                    set=_parse_assignments(upd.group(1)), condition=cond
                )
            else:
                raise ValueError("WHEN MATCHED supports UPDATE SET … or DELETE")
        elif cat == "not matched by source":
            if action.lower() == "delete":
                builder.when_not_matched_by_source_delete(condition=cond)
            elif upd:
                builder.when_not_matched_by_source_update(
                    set=_parse_assignments(upd.group(1)), condition=cond
                )
            else:
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE supports UPDATE SET … or DELETE"
                )
        else:  # not matched [by target]
            if re.fullmatch(r"insert\s*\*", action, re.I):
                builder.when_not_matched_insert(condition=cond)
            elif action.lower().startswith("insert"):
                im = re.match(
                    r"insert\s*\(([^)]*)\)\s*values\s*\((.*)\)\s*$", action,
                    re.I | re.S,
                )
                if not im:
                    raise ValueError(
                        "WHEN NOT MATCHED supports INSERT * or INSERT (cols) VALUES (exprs)"
                    )
                cols = [_strip_ident(c) for c in _split_top(im.group(1))]
                exprs = _split_top(im.group(2))
                if len(cols) != len(exprs):
                    raise ValueError(
                        f"INSERT lists {len(cols)} columns but {len(exprs)} values"
                    )
                builder.when_not_matched_insert(
                    values=dict(zip(cols, exprs)), condition=cond
                )
            else:
                raise ValueError(
                    "WHEN NOT MATCHED supports INSERT * or INSERT (cols) VALUES (exprs)"
                )
    if when_text[consumed:].strip():
        raise ValueError(
            f"cannot parse MERGE clause text {when_text[consumed:].strip()!r}"
        )
    return builder.execute(query_id=query_id)


def execute_dml(
    table: LakeTable, sql: str, name: str = "t", query_id: str = "sqldml"
) -> Snapshot | None:
    """Parse one DML statement and run it through the fenced native
    builders. Returns the committed Snapshot (None when the statement was
    a no-op — empty batch or idempotent re-delivery)."""
    # a trailing semicolon is always outside any literal (a literal's
    # closing quote would follow it), so stripping here is safe for every
    # verb — INSERT's VALUES tail passes to Spark verbatim and would
    # otherwise choke on it
    sql = sql.rstrip()
    while sql.endswith(";"):
        sql = sql[:-1].rstrip()
    if classify(sql)[0].family != "dml":
        raise ValueError("not a DML statement (INSERT/UPDATE/DELETE/MERGE)")
    fn = {
        "insert": _exec_insert,
        "update": _exec_update,
        "delete": _exec_delete,
        "merge": _exec_merge,
        "truncate": _exec_truncate,
    }[re.match(r"\s*(\w+)", sql).group(1).lower()]
    return fn(table, sql, name, query_id)


# ------------------------------------------------------ transaction scripts
def parse_script(sql: str) -> tuple[list[str], str]:
    """Split ``BEGIN[ TRANSACTION|WORK]; <stmt>; …; COMMIT|ROLLBACK`` into
    its inner statements and terminator (literal-aware top-level ``;``
    split, so a semicolon inside a quoted value never breaks a statement).
    Inner statements must be DML verbs (INSERT / UPDATE / DELETE / MERGE /
    TRUNCATE) or ALTER TABLE (transactional DDL: metadata-only commits
    ride the branch and adopt republishes them with replace-schema
    semantics); anything else — maintenance, SELECT, a nested BEGIN —
    refuses up front, before any statement runs."""
    stmts = _split_top(sql, ";")
    if not stmts or not re.fullmatch(
        r"begin(\s+(transaction|work))?", stmts[0], re.I
    ):
        raise ValueError(
            "transaction script must start with BEGIN [TRANSACTION|WORK]"
        )
    term = re.fullmatch(
        r"(commit|rollback)(\s+(transaction|work))?", stmts[-1], re.I
    )
    if not term:
        raise ValueError(
            "transaction script must end with COMMIT or ROLLBACK "
            "(statement-at-a-time autocommit needs no BEGIN)"
        )
    inner = stmts[1:-1]
    for s_ in inner:
        if re.fullmatch(r"(begin|commit|rollback)\b.*", s_, re.I | re.S):
            raise ValueError(
                f"misplaced transaction keyword mid-script: {s_[:40]!r}"
            )
        if classify(s_)[0].family not in ("dml", "ddl"):
            raise ValueError(
                "only DML (INSERT/UPDATE/DELETE/MERGE/TRUNCATE) and ALTER "
                f"TABLE statements run inside BEGIN … COMMIT; got {s_[:60]!r}"
            )
    return inner, term.group(1).lower()


def execute_script(
    table: LakeTable, sql: str, name: str = "t", query_id: str = "sqltxn"
) -> int:
    """Run a multi-statement DML transaction ATOMICALLY: the statements
    apply to a zero-copy branch (:meth:`LakeTable.transaction`) in order —
    each seeing the previous statements' effects through the re-registered
    view — and publish as one all-or-nothing adopt on COMMIT. A failing
    statement (or a concurrent-writer conflict at publish) discards the
    branch: readers never observe a partial script. Either way the view
    ``name`` is re-registered on the table's committed state on exit (the
    branch it pointed at mid-script is gone). ``ROLLBACK`` as the
    terminator validates the script and discards it — identical visible
    effect to never running it, at zero cost.

    Returns the number of statements applied (0 for ROLLBACK / empty).
    Time-travel pins are not supported inside a script — pin reads outside
    the transaction instead."""
    stmts, term = parse_script(sql)
    if term == "rollback" or not stmts:
        return 0
    try:
        with table.transaction() as txn:
            apply_statements(stmts, {name: txn}, query_id)
    finally:
        table.create_view(name)  # committed state, published or discarded
    return len(stmts)


def script_tables(stmts: list[str]) -> list[str]:
    """The distinct target tables of a script's statements, in first-use
    order (the warehouse door's cross-table script opens one branch per
    table); a statement without a target refuses."""
    names = [statement_target(s_) for s_ in stmts]
    if None in names:
        raise ValueError(
            f"cannot find the target table of {stmts[names.index(None)][:60]!r}"
        )
    return list(dict.fromkeys(names))


def apply_statements(
    stmts: list[str], branches: dict[str, LakeTable], query_id: str = "sqltxn",
    prefix: str = "",
) -> None:
    """The one script statement loop, for :func:`execute_script` (one
    table) and the warehouse door's cross-table script. ``branches`` maps
    each view name to its in-flight branch; before every statement each
    branch is re-registered as view ``prefix + name``, so a statement reads
    the states the previous ones left. ALTER TABLE runs through
    :func:`execute_ddl`, every other verb through :func:`execute_dml`, on
    the branch its target names (one table: that table's, so a foreign
    target refuses there)."""
    for i, s_ in enumerate(stmts):
        for n, b in branches.items():
            b.create_view(prefix + n)
        st, groups = classify(s_)
        name = groups.get("target")
        name = name if name in branches else next(iter(branches))
        if st.family == "ddl":
            execute_ddl(branches[name], s_, name=name)
        else:
            execute_dml(branches[name], s_, name=name, query_id=f"{query_id}.{i}")


# ---------------------------------------------------------------------- DDL
def execute_ddl(table: LakeTable, sql: str, name: str = "t") -> Snapshot:
    """Parse one ALTER TABLE statement and run it through the engine's
    metadata-only DDL builders (maestro_spark.ddl) — the SQL twin of
    :func:`execute_dml`, with the same refusal discipline (anything
    outside the grammar raises rather than mis-executes). Accepted forms::

        ALTER TABLE <t> ADD COLUMN <col> <type>
        ALTER TABLE <t> RENAME COLUMN <old> TO <new>
        ALTER TABLE <t> DROP COLUMN <col> [ERASE]
        ALTER TABLE <t> ALTER COLUMN <col> TYPE <type>     (widen only)

    ``<type>`` strings go to Spark's DDL parser verbatim (so the dialect
    is exactly Spark's); ``DROP COLUMN … ERASE`` opts into the immediate
    RTBF rewrite instead of the default masked drop (physical excision on
    the compaction cadence)."""
    m = re.match(r"^\s*alter\s+table\s+([A-Za-z_][\w.]*)\s+(.*?)\s*;?\s*$",
                 sql, re.I | re.S)
    if not m:
        raise ValueError("cannot parse ALTER TABLE statement")
    _require_target(_strip_ident(m.group(1)), name)
    from maestro_spark import ddl

    rest = m.group(2)
    if am := re.match(r"^add\s+column\s+([A-Za-z_]\w*)\s+(\S.*)$", rest, re.I | re.S):
        return ddl.add_column(table, _strip_ident(am.group(1)), am.group(2).strip())
    if rm := re.match(r"^rename\s+column\s+([A-Za-z_]\w*)\s+to\s+([A-Za-z_]\w*)$",
                      rest, re.I):
        return ddl.rename_column(table, _strip_ident(rm.group(1)),
                                 _strip_ident(rm.group(2)))
    if dm := re.match(r"^drop\s+column\s+([A-Za-z_]\w*)(\s+erase)?$", rest, re.I):
        return ddl.drop_column(table, _strip_ident(dm.group(1)),
                               erase=bool(dm.group(2)))
    if wm := re.match(r"^alter\s+column\s+([A-Za-z_]\w*)\s+type\s+(\S.*)$",
                      rest, re.I | re.S):
        return ddl.widen_column(table, _strip_ident(wm.group(1)), wm.group(2).strip())
    raise ValueError(
        f"unsupported ALTER TABLE form {rest!r} — accepted: ADD COLUMN, "
        "RENAME COLUMN … TO …, DROP COLUMN [ERASE], ALTER COLUMN … TYPE …"
    )


# ------------------------------------------------------ materialized views
_MV_TARGET = r"('[^']+'|\"[^\"]+\"|[A-Za-z_]\w*)"


def _derived_root(target: str, base_root: str, family: str) -> str:
    """Quoted target = literal view/index path; bare identifier = a sibling
    directory of the base root (``<base.root>__mv_<ident>`` for a view,
    ``__idx_<ident>`` for an index) so derived data travels with its table
    without the caller inventing paths."""
    t = target.strip()
    if t[0] in "'\"":
        return t[1:-1]
    suffix = "mv" if family == "materialized_view" else "idx"
    return f"{base_root.rstrip('/')}__{suffix}_{t}"


def _derive_scan_columns(exprs: list[str], table: LakeTable) -> list[str]:
    """Heuristic scan-pruning set for a view declaration: identifiers
    appearing OUTSIDE string literals in the aggregate expressions,
    intersected with the base payload schema (same literal-stripping rule
    the constraint gate uses — see merge.py). Wrong is safe: a miss makes
    the declaration probe fail loudly and the caller retries unpruned."""
    payload = {f.name for f in table.snapshot().payload_schema().fields}
    no_lits = re.sub(r"'(?:[^']|'')*'", "''", " ".join(exprs))
    words = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", no_lits))
    return sorted(words & payload)


def execute_mv(table: LakeTable, sql: str, name: str = "t"):
    """Compile one materialized-view statement onto the engine's
    incremental-view machinery (maestro_spark.ivm) and refresh it to the
    base table's current snapshot. Accepted forms::

        CREATE MATERIALIZED VIEW <view> AS
          SELECT <key cols…, agg_expr AS alias, …> FROM <t>
          [[LEFT] JOIN '<dim path>' USING (join cols)]
          [WHERE <pre-aggregation filter>] GROUP BY <key cols>
        REFRESH MATERIALIZED VIEW <view>
        DROP MATERIALIZED VIEW [IF EXISTS] <view>

    The JOIN clause declares dimension enrichment (see
    ``ivm.MaterializedView``): the dim is another lake table named by a
    QUOTED path (a dim is a table, not view-relative derived data), the
    join is an equi-join on the USING columns against the dim's live
    rows, and plain/INNER vs LEFT follows standard SQL. Dim-change
    staleness is cursor-tracked by the view machinery itself.

    ``<view>`` is a quoted path (``'/data/conv_stats'``) or a bare name
    (view lives beside the base root — see :func:`_derived_root`). The select
    list must echo exactly the GROUP BY columns plus ALIASED aggregate
    expressions (expression text goes to Spark's parser verbatim and is
    PERSISTED in the view root, so REFRESH needs only the view path).
    CREATE of an already-declared identical view just reopens it (so the
    statement is idempotent); a differing declaration refuses. CREATE and
    REFRESH return the refreshed :class:`maestro_spark.ivm.MaterializedView`.
    DROP verifies the target IS a declared view of THIS table (refuses on
    an undeclared directory or another table's view — never an arbitrary
    rmtree) and returns the removed root path; with IF EXISTS a missing
    view is a no-op returning None.
    Scale: refresh work is delta-proportional (changed-conv bucket pruning,
    crossover rule) — the statement never implies a full recompute unless
    the view's own machinery chooses one."""
    rm = re.match(
        rf"^\s*refresh\s+materialized\s+view\s+{_MV_TARGET}\s*;?\s*$", sql, re.I
    )
    if rm:
        root = _derived_root(rm.group(1), table.root, "materialized_view")
        mv = ivm.load(table.spark, root, base=table)
        mv.refresh()
        return mv

    dm = re.match(
        rf"^\s*drop\s+materialized\s+view\s+(if\s+exists\s+)?{_MV_TARGET}"
        r"\s*;?\s*$",
        sql, re.I,
    )
    if dm:
        root = _derived_root(dm.group(2), table.root, "materialized_view")
        if ivm._VIEWS.read(root) is None:
            if dm.group(1):
                return None
            raise ValueError(
                f"{root!r} holds no declared materialized view — refusing "
                "to remove (DROP only deletes ivm.declare'd roots; use "
                "IF EXISTS to no-op)"
            )
        # refuses another table's view; also drops the registry marker
        return ivm.undeclare(table.spark, root, base=table)

    # match over the literal-masked copy (same length) and slice each
    # group from the original by span: a WHERE value like 'a group by b'
    # or a dim path containing ``join`` can never confuse the grammar
    cm = re.match(
        rf"^\s*create\s+materialized\s+view\s+{_MV_TARGET}\s+as\s+"
        r"select\s+(.*?)\s+from\s+([A-Za-z_][\w.]*)"
        r"(?:\s+(left\s+|inner\s+)?join\s+('[^']+'|\"[^\"]+\")"
        r"\s+using\s*\(([^)]*)\))?"
        r"(?:\s+where\s+(.*?))?\s+group\s+by\s+(.*?)\s*;?\s*$",
        _mask_literal_bodies(sql), re.I | re.S,
    )
    if not cm:
        raise ValueError(
            "unsupported materialized-view statement (want: CREATE "
            "MATERIALIZED VIEW <view> AS SELECT … FROM <t> "
            "[[LEFT] JOIN '<dim path>' USING (cols)] [WHERE …] "
            "GROUP BY …, or REFRESH MATERIALIZED VIEW <view>)"
        )
    def g(i: int) -> str | None:
        return sql[cm.start(i) : cm.end(i)] if cm.group(i) is not None else None

    _require_target(_strip_ident(g(3)), name)
    # dim enrichment: SQL-standard USING join onto another lake table
    # (quoted path — a dim is a TABLE, not view-relative derived data);
    # plain/INNER JOIN = inner, LEFT JOIN = left, per standard SQL
    dim_root = g(5)[1:-1] if cm.group(5) else None
    dim_on = ([_strip_ident(c) for c in _split_top(g(6))]
              if cm.group(5) else None)
    dim_how = ("left" if (g(4) or "").strip().lower() == "left"
               else "inner") if dim_root else "left"
    where = g(7).strip() if cm.group(7) else None
    keys = [_strip_ident(k) for k in _split_top(g(8))]
    bad_keys = [k for k in keys if not re.fullmatch(r"[A-Za-z_]\w*", k)]
    if bad_keys:
        raise ValueError(
            f"GROUP BY must list bare base columns; cannot accept {bad_keys}"
        )
    echoed, agg_exprs = [], []
    for item in _split_top(g(2)):
        if re.fullmatch(r"[A-Za-z_]\w*", _strip_ident(item)):
            echoed.append(_strip_ident(item))
            continue
        am = re.match(r"^(.*\S)\s+as\s+([A-Za-z_]\w*)\s*$", item, re.I | re.S)
        if not am:
            raise ValueError(
                f"aggregate select item {item!r} needs an alias "
                "(… AS name) — view column names must be explicit"
            )
        agg_exprs.append(f"{am.group(1)} AS {am.group(2)}")
    if sorted(echoed) != sorted(keys):
        raise ValueError(
            f"select list must echo exactly the GROUP BY columns "
            f"{sorted(keys)}; got bare columns {sorted(echoed)}"
        )
    if not agg_exprs:
        raise ValueError("view needs at least one aggregate select item")
    root = _derived_root(g(1), table.root, "materialized_view")

    def _declare(columns):
        mv = ivm.declare(
            table.spark, table, root, key_cols=keys, agg_exprs=agg_exprs,
            columns=columns, where=where,
            dim_root=dim_root, dim_on=dim_on, dim_how=dim_how,
        )
        mv.refresh()
        return mv

    try:
        return _declare(
            _derive_scan_columns(agg_exprs + ([where] if where else []), table)
            or None
        )
    except Exception as e:  # noqa: BLE001 — unresolved-column ⇒ pruning miss
        # declare() probes the plan BEFORE persisting the declaration, so a
        # pruning miss leaves no _mv.json behind and the unpruned retry is
        # a clean first declaration
        if "UNRESOLVED_COLUMN" not in str(e):
            raise
        return _declare(None)


# ------------------------------------------------------------- maintenance
def execute_maintenance(table: LakeTable, sql: str, name: str = "t") -> dict:
    """Route a maintenance statement onto the engine's own idempotent
    primitives (Delta SQL parity). Accepted forms::

        OPTIMIZE <t> [ZORDER BY (c1, c2, …)]
        VACUUM <t> [DRY RUN]

    ``OPTIMIZE`` runs the one-call maintenance driver (fold delta tiers —
    or a z-order clustered rewrite when ZORDER BY is given — backfill key
    blooms, expire old snapshots, vacuum orphans; every step idempotent,
    crash-safe by re-run). ``VACUUM`` removes orphan data files + stale
    staging dirs + grace-protected unreferenced manifests; ``DRY RUN``
    deletes nothing and reports the orphan count. Returns a JSON-able
    summary dict (the statement's result row)."""
    from maestro_spark.lake import optimize as _optimize

    vm = re.match(
        r"^\s*vacuum\s+([A-Za-z_][\w.]*)(\s+dry\s+run)?\s*;?\s*$", sql, re.I
    )
    if vm:
        _require_target(_strip_ident(vm.group(1)), name)
        if vm.group(2):
            return {"op": "vacuum", "dry_run": True,
                    "orphan_files": table.vacuum(dry_run=True)}
        return {"op": "vacuum", "removed_files": table.vacuum()}

    om = re.match(
        r"^\s*optimize\s+([A-Za-z_][\w.]*)"
        r"(?:\s+zorder\s+by\s+\(?\s*([^);]+?)\s*\)?)?\s*;?\s*$",
        sql, re.I,
    )
    if not om:
        raise ValueError(
            "unsupported maintenance statement (want: OPTIMIZE <t> "
            "[ZORDER BY (cols…)], or VACUUM <t> [DRY RUN])"
        )
    _require_target(_strip_ident(om.group(1)), name)
    if om.group(2):
        cols = [_strip_ident(c) for c in _split_top(om.group(2))]
        bad = [c for c in cols if not re.fullmatch(r"[A-Za-z_]\w*", c)]
        if bad:
            raise ValueError(f"ZORDER BY wants bare column names; got {bad}")
        summary = _optimize(table, cluster_by=cols, zorder=True)
    else:
        summary = _optimize(table)
    return {"op": "optimize", **summary}


# ----------------------------------------------------------------- indexes
def _parse_with_params(text: str) -> dict:
    """``k1 = 4, text_col = 'text'`` → typed dict (int / float / 'string'
    literals only — these feed a constructor, not an expression)."""
    out: dict[str, object] = {}
    for part in _split_top(text):
        m = re.match(r"^\s*([A-Za-z_]\w*)\s*=\s*(.+?)\s*$", part, re.S)
        if not m:
            raise ValueError(f"cannot parse WITH item {part!r} (want k = v)")
        key, raw = m.group(1), m.group(2)
        if re.fullmatch(r"-?\d+", raw):
            out[key] = int(raw)
        elif re.fullmatch(r"-?\d+\.\d+", raw):
            out[key] = float(raw)
        elif len(raw) >= 2 and raw[0] == "'" and raw[-1] == "'":
            out[key] = raw[1:-1].replace("''", "'")
        else:
            raise ValueError(
                f"WITH value {raw!r} for {key!r} must be an int, a float, "
                "or a 'quoted string'"
            )
    return out


def execute_index(table: LakeTable, sql: str, name: str = "t"):
    """Compile one index statement onto the feed-maintained index family
    (maestro_spark.index_maint) and refresh it to the base table's current
    snapshot. Accepted forms::

        CREATE INDEX <idx> ON <t> USING <text|value|simhash|lsh|ivf> (<column>)
          [WITH (param = value, …)]
        REFRESH INDEX <idx>
        DROP INDEX [IF EXISTS] <idx>

    ``<idx>`` is a quoted path or a bare name (index lives beside the base
    root — see :func:`_derived_root`). The indexed column binds to the kind's
    column parameter (``text_col`` / ``vec_col``); WITH parameters go to
    the class constructor after signature validation (a typo refuses with
    the accepted names). The declaration persists in the index root
    (``index_maint.declare_index``), so REFRESH needs only the path, the
    index registers with the base table (``optimize`` folds it before
    expiry), and an identical re-CREATE reopens while a divergent one
    refuses. CREATE and REFRESH return the maintained index object
    (``search*``/``probe`` per kind); DROP returns the removed root, or
    None for an IF EXISTS no-op."""
    rm = re.match(
        rf"^\s*refresh\s+index\s+{_MV_TARGET}\s*;?\s*$", sql, re.I
    )
    if rm:
        root = _derived_root(rm.group(1), table.root, "index")
        idx = IM.load_index(table.spark, root, base=table)
        idx.refresh()
        return idx

    dm = re.match(
        rf"^\s*drop\s+index\s+(if\s+exists\s+)?{_MV_TARGET}\s*;?\s*$", sql, re.I
    )
    if dm:
        root = _derived_root(dm.group(2), table.root, "index")
        if IM._INDEXES.read(root) is None:
            if dm.group(1):
                return None
            raise ValueError(
                f"{root!r} holds no declared index — refusing to remove "
                "(DROP only deletes declare_index'd roots; use IF EXISTS "
                "to no-op)"
            )
        return IM.undeclare_index(table.spark, root, base=table)

    cm = re.match(
        rf"^\s*create\s+index\s+{_MV_TARGET}\s+on\s+([A-Za-z_][\w.]*)\s+"
        r"using\s+([A-Za-z_]\w*)\s*\(([^)]*)\)"
        r"(?:\s+with\s*\(\s*(.*?)\s*\))?\s*;?\s*$",
        sql, re.I | re.S,
    )
    if not cm:
        raise ValueError(
            "unsupported index statement (want: CREATE INDEX <idx> ON <t> "
            "USING <text|value|simhash|lsh|ivf> (<column>[, …]) "
            "[WITH (k = v, …)], REFRESH INDEX <idx>, or DROP INDEX "
            "[IF EXISTS] <idx>)"
        )
    _require_target(_strip_ident(cm.group(2)), name)
    kind = cm.group(3).lower()
    if kind not in IM.INDEX_KINDS:
        raise ValueError(
            f"unknown index kind {kind!r} — accepted: {sorted(IM.INDEX_KINDS)}"
        )
    cols = [_strip_ident(c) for c in _split_top(cm.group(4))]
    bad = [c for c in cols if not re.fullmatch(r"[A-Za-z_]\w*", c)]
    if not cols or bad:
        raise ValueError(
            f"CREATE INDEX wants bare column name(s); got {bad or cols}"
        )
    if len(cols) > 1 and kind != "value":
        raise ValueError(
            f"{kind} index takes exactly one column; only the value kind "
            "accepts a composite column list"
        )
    params = _parse_with_params(cm.group(5)) if cm.group(5) else {}
    col_param = IM.INDEX_COLUMN_PARAM[kind]
    if col_param in params:
        raise ValueError(
            f"the indexed column is the (…) argument — do not also pass "
            f"{col_param!r} in WITH"
        )
    params[col_param] = cols if len(cols) > 1 else cols[0]
    idx = IM.declare_index(
        table.spark, table, _derived_root(cm.group(1), table.root, "index"), kind,
        **params,
    )
    idx.refresh()
    return idx


# ------------------------------------------------------------------ SEARCH
def execute_search(table: LakeTable, sql: str, name: str = "t") -> DataFrame:
    """Route a retrieval statement onto a maintained inverted text index
    (the SQL twin of the ``search`` CLI). Accepted form::

        SEARCH <idx> FOR '<query>'[, '<v2>'…]
          [MODE term|and|phrase|bm25|bm25_and] [LIMIT k]

    ``<idx>`` is a quoted path or a bare name (sibling of the base root —
    same resolution as CREATE INDEX). Modes map to the index's probe
    family: ``term`` (single token), ``and`` (tf-ranked all-tokens),
    ``phrase`` (position-adjacent), ``bm25`` (idf-weighted OR — the
    default) and ``bm25_and``. Every probe is the index's own
    partition-pruned scan — the base table is never touched."""
    m = re.match(
        rf"^\s*search\s+{_MV_TARGET}\s+for\s+"
        r"('(?:[^']|'')*'(?:\s*,\s*'(?:[^']|'')*')*)"
        r"(?:\s+mode\s+([A-Za-z_]\w*))?"
        r"(?:\s+limit\s+(\d+))?\s*;?\s*$",
        sql, re.I | re.S,
    )
    if not m:
        raise ValueError(
            "unsupported SEARCH (want: SEARCH <idx> FOR '<query>'[, '<v2>'…] "
            "[MODE term|and|phrase|bm25|bm25_and] [LIMIT k])"
        )
    root = _derived_root(m.group(1), table.root, "index")
    idx = IM.load_index(table.spark, root, base=table)
    if not hasattr(idx, "search_bm25"):
        raise ValueError(
            f"SEARCH wants a text index; {type(idx).__name__} is not one"
        )
    vals = [v[1:-1].replace("''", "'") for v in _split_top(m.group(2))]
    value_cols = getattr(idx, "value_cols", None)
    if len(vals) > 1 or (value_cols and len(value_cols) > 1):
        # a quoted tuple probes a COMPOSITE value index (one value per
        # indexed column, arity-checked by lookup itself); any other index
        # kind takes exactly one query string
        if not value_cols:
            raise ValueError(
                "SEARCH with a value list probes a composite value index; "
                f"{type(idx).__name__} takes one '<query>'"
            )
        if m.group(3) and m.group(3).lower() != "term":
            raise ValueError("a composite value probe is MODE term only")
        out = idx.lookup(vals)
        return out.limit(int(m.group(4))) if m.group(4) else out
    text = vals[0]
    # default mode is the index kind's own (bm25 for text, term for value)
    mode = (m.group(3) or getattr(idx, "DEFAULT_SEARCH_MODE", "bm25")).lower()
    k = int(m.group(4)) if m.group(4) else None
    if mode == "term":
        return idx.search(text, k=k)
    if mode == "and":
        return idx.search_all(text, k=k)
    if mode == "phrase":
        return idx.search_phrase(text, k=k)
    if mode in ("bm25", "bm25_and"):
        return idx.search_bm25(text, k=k,
                               mode="and" if mode == "bm25_and" else "or")
    raise ValueError(
        f"unknown SEARCH mode {mode!r} — accepted: term, and, phrase, "
        "bm25, bm25_and"
    )


# ------------------------------------------------------- table provisioning
def parse_table_ddl(sql: str) -> dict:
    """Parse one table-provisioning statement (the warehouse front door's
    grammar — see :func:`maestro_spark.lake.warehouse_sql`) into a plain
    spec dict. Accepted forms::

        CREATE TABLE [IF NOT EXISTS] <name> (col type, …) [WITH (n_buckets = K)]
        CREATE TABLE [IF NOT EXISTS] <name> [WITH (…)] AS SELECT …
        DROP TABLE [IF EXISTS] <name>

    Column definitions go to Spark's DDL schema parser verbatim
    (``StructType.fromDDL``), so the type dialect is exactly Spark's.
    Anything outside the grammar refuses with the reason."""
    s = sql.strip().rstrip(";").strip()
    dm = re.match(r"^drop\s+table\s+(if\s+exists\s+)?([A-Za-z_]\w*)$", s, re.I)
    if dm:
        return {"op": "drop", "if_exists": bool(dm.group(1)),
                "name": dm.group(2)}
    cm = re.match(
        r"^create\s+table\s+(if\s+not\s+exists\s+)?([A-Za-z_]\w*)\s*(.*)$",
        s, re.I | re.S,
    )
    if not cm:
        raise ValueError(
            "unsupported table statement (want: CREATE TABLE [IF NOT "
            "EXISTS] <name> (col type, …) [WITH (…)], CREATE TABLE … AS "
            "SELECT …, or DROP TABLE [IF EXISTS] <name>)"
        )
    if_not_exists, name, rest = bool(cm.group(1)), cm.group(2), cm.group(3).strip()
    columns = None
    if rest.startswith("("):
        depth, close = 0, -1
        for i, ch in enumerate(rest):  # cols can nest parens: decimal(18,2)
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0:
                close = i
                break
        if close < 0:
            raise ValueError("unbalanced parentheses in column list")
        columns, rest = rest[1:close].strip(), rest[close + 1 :].strip()
    params: dict[str, object] = {}
    if wm := re.match(r"^with\s*\((.*?)\)\s*(.*)$", rest, re.I | re.S):
        params, rest = _parse_with_params(wm.group(1)), wm.group(2).strip()
    select = None
    if am := re.match(r"^as\s+(select\b.*)$", rest, re.I | re.S):
        select, rest = am.group(1), ""
    if rest:
        raise ValueError(f"cannot parse CREATE TABLE tail {rest!r}")
    if (columns is None) == (select is None):
        raise ValueError(
            "CREATE TABLE takes a column list OR AS SELECT …, exactly one"
        )
    return {"op": "create", "if_not_exists": if_not_exists, "name": name,
            "columns": columns, "params": params, "select": select}


# ------------------------------------------------------------- COPY INTO
def execute_copy(table: LakeTable, sql: str, name: str = "t") -> dict:
    """Compile one ``COPY INTO`` statement onto :func:`ingest.copy_into`
    (idempotent per-file bulk load). Accepted form::

        COPY INTO <t> FROM '<dir-or-glob>'
          FILEFORMAT = <csv|json|parquet|orc|debezium>
          [WITH (option = value, …)]

    ``per_file = 0`` in WITH selects the batched commit mode (all pending
    files as ONE merge epoch — the many-small-files shape); ``evolve = 1``
    turns unknown incoming columns into schema evolution instead of a
    refusal (merge-side add-only/safe-widen gate — see
    :func:`ingest.copy_into`); every other option passes through to the
    typed reader (e.g. ``sep = '|'`` for CSV); anything outside the
    grammar refuses with the reason."""
    m = re.match(
        r"^\s*copy\s+into\s+([A-Za-z_][\w.]*)\s+from\s+'([^']+)'\s+"
        r"fileformat\s*=\s*([A-Za-z]+)"
        r"(?:\s+with\s*\((.*?)\))?\s*;?\s*$",
        sql, re.I | re.S,
    )
    if not m:
        raise ValueError(
            "unsupported COPY statement (want: COPY INTO <t> FROM '<path>' "
            "FILEFORMAT = <csv|json|parquet|orc|debezium> "
            "[WITH (option = value, …)])"
        )
    _require_target(_strip_ident(m.group(1)), name)
    from maestro_spark.ingest import copy_into

    options = _parse_with_params(m.group(4)) if m.group(4) else {}
    per_file = bool(options.pop("per_file", 1))
    evolve = bool(options.pop("evolve", 0))
    return copy_into(table, m.group(2), m.group(3), per_file=per_file,
                     evolve=evolve, **options)


# ---------------------------------------------------------- RESTORE TABLE
def execute_restore(table: LakeTable, sql: str, name: str = "t") -> Snapshot:
    """Compile one ``RESTORE TABLE`` statement (Delta parity) onto
    :meth:`LakeTable.rollback`. Accepted form::

        RESTORE TABLE <t> TO VERSION AS OF <id | 'tag'>
        RESTORE TABLE <t> TO TIMESTAMP AS OF <'iso' | epoch-seconds>

    Forward-only history, same as the native call: the restore publishes a
    NEW snapshot re-stating the target's content; the bad epochs stay
    visible for audit and the change feed refuses ranges spanning the
    boundary (consumers re-sync)."""
    m = re.match(
        r"^\s*restore\s+table\s+([A-Za-z_][\w.]*)\s+to\s+"
        r"(version|timestamp)\s+as\s+of\s+"
        r"('[^']*'|\"[^\"]*\"|\d+(?:\.\d+)?)\s*;?\s*$",
        sql, re.I,
    )
    if not m:
        raise ValueError(
            "unsupported RESTORE statement (want: RESTORE TABLE <t> TO "
            "VERSION AS OF <id|'tag'> or TO TIMESTAMP AS OF <'iso'|epoch>)"
        )
    _require_target(_strip_ident(m.group(1)), name)
    kind = m.group(2).upper()
    sid = table._resolve_tt_pins([(kind, m.group(3))])
    return table.rollback(sid)


# ------------------------------------------------------------ statement table
# Pin policies: what a time-travel pin (an inline clause or the
# snapshot_id=/ts= kwarg) means for a statement kind.
REFUSE = "refuse"  # the statement reads only live rows: a pin refuses
SOURCE = "source"  # the pin is the registered view the SOURCE reads
SELECT = "select"  # the pin is the registered view the query reads
OWN = "own"  # RESTORE names its snapshot in its own TO … AS OF clause
# How the warehouse door and the CLI find the table that owns a statement.
TARGET = "target"  # the named target (for a CREATE: its inline FROM/ON base)
DECLARED = "declared"  # the base root stored with the view/index it names
WAREHOUSE = "warehouse"  # runs in warehouse_sql itself, over the catalog


@dataclass(frozen=True)
class Statement:
    """One statement kind of the SQL surface. ``pattern`` is anchored and
    runs over a literal-masked copy of the text; its optional ``target``
    group names the table the statement must be aimed at. ``run(table,
    sql, name)`` executes it and ``shape(spark, result)`` turns the result
    into rows (None: the view re-registered after the statement). ``view``
    registers the view ``before`` the statement (at the pin), re-registers
    it ``after``, or ``both``. ``owner`` is how the warehouse door and the
    CLI find the owning table (None: a SELECT over the catalog)."""

    kind: str
    family: str
    pattern: re.Pattern
    pin: str
    run: Callable
    shape: Callable | None
    view: str
    owner: str | None


def _st(kind, pattern, pin, run, shape, view="", owner=TARGET, family=None):
    return Statement(kind, family or kind, re.compile(r"^\s*" + pattern, re.I | re.S),
                     pin, run, shape, view, owner)


def _frame(spark, out):
    return out


def _row(schema: str, fn: Callable) -> Callable:
    """Result shape: one row ``fn(result)`` of ``schema``."""
    return lambda spark, out: spark.createDataFrame([fn(out)], schema)


def _or_dropped(col: str, shape: Callable) -> Callable:
    """Result shape of a view/index kind: DROP [IF EXISTS] returns the
    removed root (None for an IF EXISTS no-op) as column ``col``."""
    def rows(spark, out):
        if out is None or isinstance(out, str):
            return spark.createDataFrame([(out,)], f"{col}: string")
        return shape(spark, out)
    return rows


def _declarations(table: LakeTable, decls: list[dict]) -> DataFrame:
    """SHOW MATERIALIZED VIEWS / SHOW INDEXES: one row per persisted
    declaration registered over ``table`` — registry metadata only."""
    return table.spark.createDataFrame(
        [(d["root"], json.dumps({k: v for k, v in d.items() if k != "root"}))
         for d in decls] or [],
        "root string, declaration string",
    )


def _select(table, sql, name):
    return table.spark.sql(sql)


def _run_script(table, sql, name):
    return execute_script(table, sql, name=name), table.snapshot().snapshot_id


_ID = r"(?P<target>[A-Za-z_][\w.]*)"
_PATH = rf"(?P<path>{_MV_TARGET})"
_DROP_PATH = rf"(?P<if_exists>if\s+exists\s+)?{_PATH}"
_SUMMARY = "op: string, summary: string"
_MV_ROWS = _or_dropped("dropped_view", lambda spark, mv: mv.read())
_INDEX_ROWS = _or_dropped("dropped_index", _row(
    "index: string, root: string, applied_through: long",
    lambda idx: (type(idx).__name__, idx.dir, idx.applied_through()),
))

# The SQL surface, one kind per entry; the first matching entry wins.
STATEMENTS: tuple[Statement, ...] = (
    _st("script", r"begin\b", REFUSE, _run_script,
        _row("op: string, statements_applied: int, snapshot_id: long",
             lambda out: ("transaction", *out)), owner=WAREHOUSE),
    _st("describe_history", rf"describe\s+history\s+{_ID}\s*;?\s*$", REFUSE,
        lambda t, q, n: t.meta_snapshots(), _frame),
    _st("describe_files", rf"describe\s+files\s+{_ID}\s*;?\s*$", REFUSE,
        lambda t, q, n: t.meta_files(), _frame),
    _st("show_create", rf"show\s+create\s+table\s+{_ID}\s*;?\s*$", REFUSE,
        lambda t, q, n: show_create(t, n),
        _row("create_statement string", lambda s: (s,))),
    _st("show_views", rf"show\s+materialized\s+views(?:\s+on\s+{_ID})?\s*;?\s*$",
        REFUSE, lambda t, q, n: _declarations(t, ivm.list_declared(t)), _frame),
    _st("show_indexes", rf"show\s+indexes(?:\s+on\s+{_ID})?\s*;?\s*$", REFUSE,
        lambda t, q, n: _declarations(t, IM.list_declared(t)), _frame),
    _st("search", rf"search\b(?:\s+{_PATH})?", REFUSE, execute_search, _frame,
        owner=DECLARED),
    _st("restore", rf"restore\s+table\b(?:\s+{_ID})?", OWN, execute_restore,
        _row("op: string, snapshot_id: long, restored_to: long",
             lambda s: ("restore", s.snapshot_id, s.stats.get("rollback_to"))),
        view="after"),
    _st("create_view", rf"create\s+materialized\s+view\b"
        rf"(?:\s+{_PATH}\s+as\s+select\b.*?\bfrom\s+{_ID})?", REFUSE,
        execute_mv, _MV_ROWS, family="materialized_view"),
    _st("view", rf"(?:refresh|drop)\s+materialized\s+view\b(?:\s+{_DROP_PATH})?",
        REFUSE, execute_mv, _MV_ROWS, owner=DECLARED, family="materialized_view"),
    _st("create_index", rf"create\s+index\b(?:\s+{_PATH}\s+on\s+{_ID})?", REFUSE,
        execute_index, _INDEX_ROWS, family="index"),
    _st("index", rf"(?:refresh|drop)\s+index\b(?:\s+{_DROP_PATH})?", REFUSE,
        execute_index, _INDEX_ROWS, owner=DECLARED, family="index"),
    _st("maintenance", rf"(?:optimize|vacuum)\b(?:\s+{_ID})?", REFUSE,
        execute_maintenance, _row(_SUMMARY, lambda s: (s["op"], json.dumps(s)))),
    _st("alter", rf"alter\s+table\b(?:\s+{_ID})?", REFUSE, execute_ddl, None,
        view="after", family="ddl"),
    _st("copy", rf"copy\s+into\b(?:\s+{_ID})?", REFUSE, execute_copy,
        _row(_SUMMARY, lambda s: ("copy_into", json.dumps(s))), view="after"),
    # INSERT … VALUES reads no view; INSERT … SELECT / MERGE … USING read
    # the registered view, so a pin there is their SOURCE read
    _st("insert_values", rf"insert\s+into\s+{_ID}\s*(?:\([^)]*\)\s*)?values\b",
        REFUSE, execute_dml, None, view="both", family="dml"),
    _st("insert_select_merge", rf"(?:insert|merge)\b(?:\s+into\s+{_ID})?",
        SOURCE, execute_dml, None, view="both", family="dml"),
    _st("update_delete_truncate",
        rf"(?:update|delete(?:\s+from)?|truncate(?:\s+table)?)\b(?:\s+{_ID})?",
        REFUSE, execute_dml, None, view="both", family="dml"),
    # warehouse-only kinds; the table door hands them to Spark like a SELECT
    _st("table_ddl", r"(?:create|drop)\s+table\b", SELECT, _select, _frame,
        view="before", owner=WAREHOUSE),
    _st("show_tables", r"show\s+tables\s*;?\s*$", SELECT, _select, _frame,
        view="before", owner=WAREHOUSE),
    _st("describe_table", r"describe\s+(?:table\s+)?(?P<table>[A-Za-z_]\w*)\s*;?\s*$",
        SELECT, _select, _frame, view="before", owner=WAREHOUSE),
    _st("select", "", SELECT, _select, _frame, view="before", owner=None),
)


def classify(sql: str) -> tuple[Statement, dict[str, str]]:
    """The first :data:`STATEMENTS` entry whose matcher accepts ``sql``,
    with its named groups (``target``, ``path``, …) sliced from the
    original text. Matching runs over a literal-masked copy, so a quoted
    value can change neither the kind nor the target."""
    sql = sql or ""
    masked = _mask_literal_bodies(sql)
    for st in STATEMENTS:
        if m := st.pattern.match(masked):
            return st, {k: sql[m.start(k) : m.end(k)]
                        for k, v in m.groupdict().items() if v is not None}
    raise AssertionError("the select entry matches every statement")


def is_dml(sql: str) -> bool:
    """True for INSERT / UPDATE / DELETE / MERGE / TRUNCATE."""
    return classify(sql)[0].family == "dml"


def is_ddl(sql: str) -> bool:
    """True for ALTER TABLE."""
    return classify(sql)[0].family == "ddl"


def is_mv(sql: str) -> bool:
    """True for CREATE/REFRESH/DROP MATERIALIZED VIEW."""
    return classify(sql)[0].family == "materialized_view"


def statement_target(sql: str) -> str | None:
    """The table a statement names as its target (a CREATE MATERIALIZED
    VIEW / INDEX: its inline FROM / ON base); None for SELECTs and for
    kinds that name a view/index path instead."""
    return classify(sql)[1].get("target")


def run(
    table: LakeTable, sql: str, name: str = "t", snapshot_id: int | None = None,
    ts=None,
) -> DataFrame:
    """Run one statement against ``table`` registered as view ``name`` —
    the body of :meth:`LakeTable.sql`. The inline pins (none for RESTORE,
    whose own ``TO … AS OF`` is not one) and the kwarg pin meet in one
    rule: both at once refuse, and a kind that reads only live rows
    refuses any pin; otherwise they resolve to one snapshot id through
    :meth:`LakeTable._resolve_tt_pins`."""
    st, groups = classify(sql)
    pins = []
    if st.pin != OWN:  # the kind of the statement the pins are stripped from
        sql, pins = extract_time_travel(sql, name)
        st, groups = classify(sql)
    kwargs = [(k, v) for k, v in (("VERSION", snapshot_id), ("TIMESTAMP", ts))
              if v is not None]
    if pins and kwargs:
        raise ValueError("pass the time-travel pin inline OR as a kwarg, not both")
    pins = pins or kwargs
    if pins and st.pin in (REFUSE, OWN):
        raise ValueError(
            f"{sql.split()[0].upper()} cannot target a time-travel pin: the "
            "statement reads only live rows — only SELECT, INSERT … SELECT "
            "and MERGE … USING accept a pin (RESTORE names its snapshot in "
            "its own TO … AS OF clause)"
        )
    if "target" in groups:
        _require_target(groups["target"], name)
    sid = table._resolve_tt_pins(pins) if pins else None
    if st.view in ("before", "both"):
        table.create_view(name, snapshot_id=sid)
    out = st.run(table, sql, name)
    if st.view in ("after", "both"):
        view = table.create_view(name)  # follow-up SELECTs see the new tip
    return view if st.shape is None else st.shape(table.spark, out)


def owner(sql: str, roots: dict[str, str]) -> str | None:
    """The key of ``roots`` (table name → lake root) whose table owns
    ``sql``, found as its kind's ``owner`` says: the named target, or the
    table whose root the view/index path's persisted declaration names (a
    bare name is looked up beside each root). None for a DROP … IF EXISTS
    of a path that holds no declaration: a no-op that no table owns."""
    st, groups = classify(sql)
    verb = sql.split()[0].upper()
    if st.owner == TARGET:
        name = groups.get("target")
        if name is None:
            raise ValueError(
                f"cannot find the table this {verb} statement runs on (a "
                "SHOW needs ON <table>: the registry lives with the base table)"
            )
        if name not in roots:
            raise ValueError(f"no lake table {name!r} among {sorted(roots)}")
        return name
    reg = ivm._VIEWS if st.family == "materialized_view" else IM._INDEXES
    path = groups.get("path")
    decls = {n: reg.read(_derived_root(path, r, st.family))
             for n, r in roots.items()} if path else {}
    hits = [n for n, d in decls.items()
            if d and d["base_root"] == os.path.abspath(roots[n])]
    if len(hits) == 1:
        return hits[0]
    if groups.get("if_exists") and not any(decls.values()):
        return None
    raise ValueError(
        f"{verb} {path!r}: {'several' if hits else 'no'} tables among "
        f"{sorted(roots)} declare it — name the {reg.noun} by its QUOTED "
        "path (a bare name resolves beside its base table)"
    )
