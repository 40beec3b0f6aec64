"""User-facing DML over the lake: upsert / delete_where / update_where.

The CDC engine's native write language is change events (op, op_lsn,
payload). Interactive users and batch jobs want SQL-DML ergonomics
instead; this module compiles DML verbs into one synthetic change-event
epoch and routes it through the SAME merge path as the binlog tail
(merge.merge_batch) — so DML rows obey LSN dominance, land exactly-once,
appear in the change feed, refresh IVM views, and coexist with a live
stream writing the same table (the commit validate-and-rebase handles the
race).

LSN assignment: every row of a DML statement takes ``max live LSN + 1`` —
strictly above everything already applied, so the statement wins against
any late re-delivery of older data, while the NEXT statement (max+2 …)
wins against this one. Per-key ordering is all the merge needs, so one
shared LSN per statement is sound; the max is read driver-side from the
zone-map store (per-file lsn_max — no data IO).

Concurrency: the acquired LSN is FENCED at commit time. The statement
records the snapshot it read the max from, and ``merge_batch`` passes both
through to ``LakeTable.commit``, which validates that no snapshot committed
after that read applied an LSN at or above the statement's — two concurrent
statements (or a statement racing a streaming epoch) can therefore never
land the SAME LSN for different payloads of one key. The loser raises
:class:`CommitConflict` internally and this module re-plans it: re-read the
max (now higher), rebuild the batch from CURRENT state, commit again —
bounded by ``maestro.dml.retries`` (default 5).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from maestro_spark import schema as S
from maestro_spark.lake import CommitConflict, LakeTable, Snapshot
from maestro_spark.merge import merge_batch
from maestro_spark.plan import plan_groups


def max_live_lsn(table: LakeTable, snapshot_id: int | None = None) -> int:
    """Highest LSN in the given (default current) snapshot — driver-side
    zone-map arithmetic over per-file lsn_max, zero data IO at any table
    size."""
    snap = table.snapshot(snapshot_id)
    return max([0, *(table.file_stats.get_or_read(p).get("lsn_max") or 0
                     for g in plan_groups(table, snap).groups for p in g.rels)])


def _dml_statement(
    table: LakeTable,
    build_batch: Callable[[int], DataFrame],
    query_id: str,
) -> Snapshot | None:
    """Acquire a fenced statement LSN, build the batch at it, merge; on an
    LSN-fence or bucket conflict, re-plan from the new current state.

    epoch id = microsecond wall clock: unique per statement (and per retry —
    a re-planned statement is a NEW epoch reading newer state); exactly-once
    for a RETRYING driver comes from the commit CAS + fence, not this id (a
    driver that wants replayable DML passes its own query_id/epoch through
    merge_batch directly).
    """
    retries = int(table.spark.conf.get("maestro.dml.retries", "5"))
    last: Exception | None = None
    for _ in range(retries + 1):
        base = table.snapshot().snapshot_id
        lsn = max_live_lsn(table, base) + 1
        batch = build_batch(lsn)
        try:
            return merge_batch(
                table,
                batch,
                query_id,
                epoch_id=int(time.time() * 1e6),
                fence_lsn=lsn,
                base_snapshot=base,
            )
        except CommitConflict as e:  # racer raised the LSN / touched buckets
            last = e
    raise CommitConflict(
        f"DML statement lost the LSN fence {retries + 1} times"
    ) from last


class MergeInto:
    """Delta-Lake-style ``MERGE INTO`` builder over a lake table (M37).

    The ON clause is the table's primary key — ``(conv_id, turn_idx)`` — by
    construction: a keyed upsert engine defines a row's identity by its key,
    so an arbitrary non-key ON condition cannot name a deterministic per-key
    winner. Clause vocabulary follows Delta (including the
    ``whenNotMatchedBySource`` pair added in Delta 2.3):

    - ``when_matched_update(set=..., condition=...)``
    - ``when_matched_delete(condition=...)``
    - ``when_not_matched_insert(values=..., condition=...)``
    - ``when_not_matched_by_source_update(set=..., condition=...)``
    - ``when_not_matched_by_source_delete(condition=...)``

    Conditions and value expressions are SQL strings (or Columns) over the
    aliases ``s`` (source row) and ``t`` (current target row). Within each
    match category clauses fire first-true-wins, in registration order —
    Delta's documented semantics.

    Execution is ONE declarative pass: source ⋈ target on key equality
    (left join unless by-source clauses force full-outer), clause
    resolution as a chained ``when()`` — no per-clause re-joins, no Python
    rows — compiled into a single change-event batch (upserts + tombstones)
    at a fenced statement LSN through the SAME merge path as the binlog
    tail, so a MERGE is atomic, exactly-once, visible in the change feed,
    IVM-maintained, and safe against racing writers. New columns introduced
    by ``set=``/``values=`` schema-evolve like evolved binlog events.

    Scale shape: the join shuffles on the table key (the table is already
    key-bucketed), the emitted batch flows through merge_batch's single
    bucket-aligned exchange, and only changed buckets are rewritten; a
    small source broadcasts under AQE like any other dimension join.
    """

    _UPDATE, _DELETE, _INSERT = "update", "delete", "insert"

    def __init__(self, table: LakeTable, source: DataFrame):
        missing = [k for k in S.KEY_COLS if k not in source.columns]
        if missing:
            raise ValueError(f"merge source lacks key columns {missing}")
        self.table = table
        self.source = source
        self._matched: list[tuple[str, Column | None, dict[str, Column] | None]] = []
        self._not_matched: list[tuple[Column | None, dict[str, Column] | None]] = []
        self._by_source: list[tuple[str, Column | None, dict[str, Column] | None]] = []

    @staticmethod
    def _expr(e) -> Column:
        return F.expr(e) if isinstance(e, str) else e

    def _exprs(self, d: dict | None) -> dict[str, Column] | None:
        return None if d is None else {c: self._expr(e) for c, e in d.items()}

    def when_matched_update(self, set: dict, condition=None) -> "MergeInto":  # noqa: A002
        self._matched.append((self._UPDATE, self._expr(condition) if condition is not None else None, self._exprs(set)))
        return self

    def when_matched_delete(self, condition=None) -> "MergeInto":
        self._matched.append((self._DELETE, self._expr(condition) if condition is not None else None, None))
        return self

    def when_not_matched_insert(self, values: dict | None = None, condition=None) -> "MergeInto":
        self._not_matched.append((self._expr(condition) if condition is not None else None, self._exprs(values)))
        return self

    def when_not_matched_by_source_update(self, set: dict, condition=None) -> "MergeInto":  # noqa: A002
        self._by_source.append((self._UPDATE, self._expr(condition) if condition is not None else None, self._exprs(set)))
        return self

    def when_not_matched_by_source_delete(self, condition=None) -> "MergeInto":
        self._by_source.append((self._DELETE, self._expr(condition) if condition is not None else None, None))
        return self

    # ------------------------------------------------------------- execution
    def _build(self, lsn: int) -> DataFrame:
        tgt = self.table.read()
        t_payload = list(tgt.columns)  # keys + payload, internal cols filtered

        src = self.source
        dup = src.groupBy(*S.KEY_COLS).count().filter(F.col("count") > 1).head(1)
        if dup:
            raise ValueError(
                f"merge source has duplicate keys (ambiguous MERGE), e.g. {dup[0][:2]}"
            )

        s = src.withColumn("__s", F.lit(True)).alias("s")
        t = tgt.withColumn("__t", F.lit(True)).alias("t")
        how = "full_outer" if self._by_source else "left_outer"
        joined = s.join(
            t, on=[F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in S.KEY_COLS], how=how
        )

        is_matched = F.col("s.__s").isNotNull() & F.col("t.__t").isNotNull()
        is_src_only = F.col("s.__s").isNotNull() & F.col("t.__t").isNull()
        is_tgt_only = F.col("s.__s").isNull() & F.col("t.__t").isNotNull()

        # (clause index, category-gate, clause condition, kind, assignments)
        clauses: list[tuple[int, Column, Column | None, str, dict | None]] = []
        i = 0
        for kind, cond, assign in self._matched:
            clauses.append((i, is_matched, cond, kind, assign))
            i += 1
        for cond, values in self._not_matched:
            clauses.append((i, is_src_only, cond, self._INSERT, values))
            i += 1
        for kind, cond, assign in self._by_source:
            clauses.append((i, is_tgt_only, cond, kind, assign))
            i += 1
        if not clauses:
            raise ValueError("MERGE needs at least one WHEN clause")

        # first-true-wins within each category (categories are disjoint)
        clause_col = F.lit(None).cast("int")
        picked = None
        for idx, gate, cond, _, _ in clauses:
            hit = gate if cond is None else gate & cond
            picked = (F.when(hit, F.lit(idx)) if picked is None
                      else picked.when(hit, F.lit(idx)))
        clause_col = picked.otherwise(F.lit(None).cast("int"))
        joined = joined.withColumn("__clause", clause_col).filter(
            F.col("__clause").isNotNull()
        )

        # output column set: table payload + any new columns from set/values
        out_cols = [c for c in t_payload if c not in S.KEY_COLS]
        for _, _, _, _, assign in clauses:
            for c in assign or {}:
                if c not in out_cols and c not in S.KEY_COLS:
                    out_cols.append(c)
        tgt_types = {f.name: f.dataType for f in tgt.schema.fields}
        src_cols = set(src.columns)

        def clause_value(kind: str, assign: dict | None, c: str) -> Column:
            if assign is not None and c in assign:
                return assign[c]
            if kind == self._INSERT:  # default: source column, else typed null
                if c in src_cols:
                    return F.col(f"s.{c}")
                base = F.lit(None)
                return base.cast(tgt_types[c]) if c in tgt_types else base
            # update defaults carry the target's current value along
            if c in t_payload:
                return F.col(f"t.{c}")
            base = F.lit(None)
            return base.cast(tgt_types[c]) if c in tgt_types else base

        proj = [
            F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k)
            for k in S.KEY_COLS
        ]
        op_col = None
        for idx, _, _, kind, _ in clauses:
            op = "delete" if kind == self._DELETE else "upsert"
            op_col = (F.when(F.col("__clause") == idx, F.lit(op)) if op_col is None
                      else op_col.when(F.col("__clause") == idx, F.lit(op)))
        proj.append(op_col.alias("op"))
        for c in out_cols:
            val = None
            for idx, _, _, kind, assign in clauses:
                v = (F.lit(None).cast(tgt_types[c]) if kind == self._DELETE
                     and c in tgt_types else
                     F.lit(None) if kind == self._DELETE else
                     clause_value(kind, assign, c))
                val = (F.when(F.col("__clause") == idx, v) if val is None
                       else val.when(F.col("__clause") == idx, v))
            proj.append(val.alias(c))
        return joined.select(*proj).withColumn("op_lsn", F.lit(lsn).cast("long"))

    def execute(self, query_id: str = "merge") -> Snapshot | None:
        """Run the MERGE as one fenced, exactly-once statement. Returns the
        committed Snapshot (None when the emitted batch was empty)."""
        return _dml_statement(self.table, self._build, query_id)


def merge_into(table: LakeTable, source: DataFrame) -> MergeInto:
    """Entry point: ``merge_into(table, src).when_matched_update(...)
    .when_not_matched_insert().execute()``."""
    return MergeInto(table, source)


def upsert(table: LakeTable, df: DataFrame, query_id: str = "dml") -> Snapshot | None:
    """Insert-or-replace full rows. ``df`` carries payload columns (at
    least the key); new columns schema-evolve exactly as evolved binlog
    events do. Duplicate keys inside ``df`` are rejected — a statement
    must be unambiguous about a key's final value."""
    dup = df.groupBy(*S.KEY_COLS).count().filter(F.col("count") > 1).head(1)
    if dup:
        raise ValueError(f"upsert input has duplicate keys, e.g. {dup[0][:2]}")

    def build(lsn: int) -> DataFrame:
        return df.withColumn("op", F.lit("upsert")).withColumn(
            "op_lsn", F.lit(lsn).cast("long")
        )

    return _dml_statement(table, build, query_id)


def delete_where(
    table: LakeTable, predicate: Column, query_id: str = "dml"
) -> Snapshot | None:
    """Delete every live row matching ``predicate`` (tombstones, so late
    lower-LSN re-deliveries of the deleted rows stay dead)."""

    def build(lsn: int) -> DataFrame:
        # re-read per attempt: a re-planned statement must see the racer's rows
        keys = table.read().filter(predicate).select(*S.KEY_COLS)
        return keys.withColumn("op", F.lit("delete")).withColumn(
            "op_lsn", F.lit(lsn).cast("long")
        )

    return _dml_statement(table, build, query_id)


def update_where(
    table: LakeTable,
    predicate: Column,
    assignments: dict[str, Column],
    query_id: str = "dml",
) -> Snapshot | None:
    """Set ``assignments`` on every live row matching ``predicate`` —
    reads current values, applies the expressions, re-emits the full rows
    as upserts (the merge is replace-by-key, so unchanged columns must
    ride along).

    SQL UPDATE semantics: every SET expression evaluates against the OLD
    row — one simultaneous projection, never sequential assignment — so
    ``SET a = b, b = a`` swaps (chained ``withColumn`` would make the
    second read the first's result instead)."""

    def build(lsn: int) -> DataFrame:
        rows = table.read().filter(predicate)
        have = set(rows.columns)
        proj = [
            (assignments[c].alias(c) if c in assignments else F.col(c))
            for c in rows.columns
        ]
        # assignments to NEW columns (schema evolution) append after
        proj += [assignments[c].alias(c) for c in assignments if c not in have]
        return rows.select(*proj).withColumn("op", F.lit("upsert")).withColumn(
            "op_lsn", F.lit(lsn).cast("long")
        )

    return _dml_statement(table, build, query_id)
