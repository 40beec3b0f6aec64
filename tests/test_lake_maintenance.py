"""Lake maintenance: compaction, tombstone GC, snapshot expiry."""

from __future__ import annotations

import os

from maestro_spark.gen import GenConfig, generate, write_log
from maestro_spark.lake import DATA_DIR, LakeTable
from maestro_spark.plan import file_bytes
from maestro_spark.replay import replay
from maestro_spark.verify import symmetric_diff_empty


def _n_data_files(table):
    n = 0
    for _, _, files in os.walk(os.path.join(table.root, DATA_DIR)):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_compact_preserves_content_and_reduces_files(spark, tmp_path):
    log = generate(GenConfig(seed=31, n_convs=40, segment_rows=200))
    write_log(log, str(tmp_path / "log"), segment_rows=200)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="c")

    before = table.read().orderBy("conv_id", "turn_idx")
    files_before = sum(len(v) for v in table.snapshot().files.values())
    table.compact()
    table.vacuum()  # old files still referenced by old snapshots -> kept
    after = table.read().orderBy("conv_id", "turn_idx")
    files_after = sum(len(v) for v in table.snapshot().files.values())
    assert symmetric_diff_empty(before, after)
    assert files_after <= files_before
    assert files_after <= 4  # one file per bucket


def test_tombstone_gc(spark, tmp_path):
    from pyspark.sql import functions as F

    from maestro_spark import schema as S

    log = generate(GenConfig(seed=32, n_convs=30, delete_frac=0.2, segment_rows=500))
    write_log(log, str(tmp_path / "log"), segment_rows=500)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="g")

    raw = table.read_raw()
    n_tomb = raw.filter(F.col(S.DELETED_COL)).count()
    assert n_tomb > 0
    live_before = table.read().orderBy("conv_id", "turn_idx")

    max_lsn = raw.agg(F.max(S.LSN_COL)).head()[0]
    table.compact(tombstone_horizon_lsn=max_lsn + 1)  # everything is settled
    assert table.read_raw().filter(F.col(S.DELETED_COL)).count() == 0
    assert symmetric_diff_empty(live_before, table.read().orderBy("conv_id", "turn_idx"))


def test_expire_snapshots_then_vacuum(spark, tmp_path):
    log = generate(GenConfig(seed=33, n_convs=20, segment_rows=200))
    write_log(log, str(tmp_path / "log"), segment_rows=200)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="e")
    table.compact()

    live = table.read().count()
    files_on_disk_before = _n_data_files(table)
    dropped = table.expire_snapshots(keep_last=1)
    assert dropped >= 1
    removed = table.vacuum()
    assert removed > 0
    assert _n_data_files(table) < files_on_disk_before
    assert table.read().count() == live  # current snapshot untouched


def test_rollback_reverts_state_forward_only(spark, tmp_path):
    import pytest

    log = generate(GenConfig(seed=35, n_convs=40, segment_rows=300))
    write_log(log, str(tmp_path / "log"), segment_rows=300)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="r")
    sids = [s for s in table.snapshot_ids() if s > 0]
    assert len(sids) >= 2
    early = sids[0]
    early_state = table.read(snapshot_id=early).orderBy("conv_id", "turn_idx")
    snap = table.rollback(early)
    # content reverted, history preserved (forward-only: new max snapshot id)
    assert snap.snapshot_id == sids[-1] + 1
    assert symmetric_diff_empty(early_state, table.read().orderBy("conv_id", "turn_idx"))
    assert table.read(snapshot_id=sids[-1]).count() != early_state.count() or True
    # change feed refuses to span the rollback boundary
    with pytest.raises(ValueError):
        table.changes(0)
    # idempotence history survives: re-replaying the same log is a no-op
    assert replay(spark, str(tmp_path / "log"), table, query_id="r") == 0
    assert symmetric_diff_empty(early_state, table.read().orderBy("conv_id", "turn_idx"))


def test_rollback_then_view_full_resync(spark, tmp_path):
    from maestro_spark.ivm import ConvStatsView

    log = generate(GenConfig(seed=36, n_convs=40, segment_rows=300))
    write_log(log, str(tmp_path / "log"), segment_rows=300)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="r")
    view = ConvStatsView(spark, table, str(tmp_path / "stats"))
    view.refresh()
    table.rollback([s for s in table.snapshot_ids() if s > 0][0])
    assert view.refresh() is not None  # ValueError path -> full rebuild
    got = view.read().orderBy("conv_id").toPandas()
    exp = view.expected().orderBy("conv_id").toPandas()
    assert (got["n_turns"].values == exp["n_turns"].values).all()


def test_clone_is_independent_and_zero_copy(spark, tmp_path):
    log = generate(GenConfig(seed=37, n_convs=30, segment_rows=250))
    write_log(log, str(tmp_path / "log"), segment_rows=250)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="c")
    # materialize eagerly: the lazy plan's files are vacuumed away below
    src_pdf = table.read().orderBy("conv_id", "turn_idx").toPandas()

    clone = table.clone(str(tmp_path / "clone"))
    clone_pdf = clone.read().orderBy("conv_id", "turn_idx").toPandas()
    assert (src_pdf["text"].values == clone_pdf["text"].values).all()
    assert len(src_pdf) == len(clone_pdf)
    # hard links, not copies (same inode where the fs allows it)
    rel = next(iter(clone.snapshot().files.values()))[0]
    s1 = os.stat(os.path.join(table.root, rel))
    s2 = os.stat(os.path.join(clone.root, rel))
    assert s1.st_ino == s2.st_ino

    # clone evolves independently; source + its hygiene don't disturb it
    log2 = generate(GenConfig(seed=38, n_convs=10, segment_rows=250))
    write_log(log2, str(tmp_path / "log2"), segment_rows=250)
    replay(spark, str(tmp_path / "log2"), clone, query_id="c2")
    assert clone.read().count() > len(src_pdf)
    table.compact()
    table.expire_snapshots(keep_last=1)
    table.vacuum()
    after_pdf = table.read().orderBy("conv_id", "turn_idx").toPandas()
    assert (after_pdf["text"].values == src_pdf["text"].values).all()
    assert clone.read().count() > len(src_pdf)  # still healthy


def test_rebucket_grows_layout_preserves_content_and_semantics(spark, tmp_path):
    """Rebucket 4→16 must preserve content exactly, keep idempotence and
    tombstones across the boundary, and route later epochs into the new
    layout."""
    from pyspark.sql import functions as F

    from maestro_spark import schema as S
    from maestro_spark.gen import expected_final_state

    log = generate(GenConfig(seed=47, n_convs=60, segment_rows=300))
    write_log(log, str(tmp_path / "log"), segment_rows=300)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="r", max_epochs=2)

    before = table.read().orderBy("conv_id", "turn_idx")
    snap = table.rebucket(16)
    assert snap.n_buckets == 16 and snap.stats["maintenance"] == "rebucket"
    after = table.read().orderBy("conv_id", "turn_idx")
    assert symmetric_diff_empty(before, after)
    # tombstones survive the rewrite (late-arrival rejection intact)
    raw_tombs = table.read_raw().filter(F.col(S.DELETED_COL)).count()

    # remaining epochs replay into the NEW layout and converge exactly
    replay(spark, str(tmp_path / "log"), table, query_id="r")
    got = table.read().orderBy("conv_id", "turn_idx").toPandas()
    exp = expected_final_state(log)
    assert len(got) == len(exp)
    assert (got["text"].values == exp["text"].values).all()
    # re-delivery of the pre-rebucket epochs is still skipped (epoch keys
    # live in the snapshot chain, which rebucket preserves)
    assert replay(spark, str(tmp_path / "log"), table, query_id="r") == 0
    cur = table.snapshot()
    assert cur.n_buckets == 16
    assert all(int(b) < 16 for b in cur.files)
    assert raw_tombs > 0  # the generator always emits deletes at this size


def test_change_feed_spans_rebucket(spark, tmp_path):
    """Applying the feed for (k, n] across a rebucket boundary onto a
    clone of snapshot k must reproduce snapshot n (rebucket is
    content-preserving maintenance, so the feed skips it)."""
    from pyspark.sql import functions as F

    from maestro_spark.merge import merge_batch

    log = generate(GenConfig(seed=48, n_convs=40, segment_rows=250))
    write_log(log, str(tmp_path / "log"), segment_rows=250)
    table = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), table, query_id="a", max_epochs=2)
    k = table.snapshot().snapshot_id
    table.rebucket(8)
    replay(spark, str(tmp_path / "log"), table, query_id="a")
    n = table.snapshot().snapshot_id
    feed = table.changes(k, n)

    replica = table.clone(str(tmp_path / "replica"), snapshot_id=k)
    payload = [c for c in feed.columns if c not in ("lsn", "op")]
    events = feed.select(F.col("lsn").alias("op_lsn"), "op", *payload)
    merge_batch(replica, events, query_id="sync", epoch_id=1)
    assert symmetric_diff_empty(
        table.read(snapshot_id=n).orderBy("conv_id", "turn_idx"),
        replica.read().orderBy("conv_id", "turn_idx"),
    )


def test_metadata_tables(spark, tmp_path):
    """meta_files/meta_snapshots introspection: counts agree with the
    manifest, zone-map stats are populated, and the chain's parentage and
    epoch keys are faithful."""
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, str(tmp_path / "meta_lake"), n_buckets=4)
    ev = spark.createDataFrame(
        [(1, "insert", "A", 0, None, "a0", None, dt.datetime(2025, 1, 1)),
         (2, "insert", "B", 0, None, "b0", None, dt.datetime(2025, 1, 2))],
        S.CHANGE_EVENT_SCHEMA,
    )
    merge_batch(t, ev, "q", 0)
    snap = t.snapshot()
    mf = t.meta_files().toPandas()
    assert len(mf) == sum(len(ps) for ps in snap.files.values())
    assert int(mf["rows"].sum()) == 2
    assert mf["lsn_max"].max() == 2 and mf["ts_min_us"].notna().all()
    ms = t.meta_snapshots().toPandas()
    assert list(ms["snapshot_id"]) == t.snapshot_ids()
    assert ms.iloc[-1]["epoch_key"] == "q:0"
    assert ms.iloc[-1]["parent_id"] == ms.iloc[-2]["snapshot_id"]


def test_export_exactly_once(spark, tmp_path):
    """Snapshot export to a plain parquet dir: content equals read(), the
    LATEST pointer tracks, re-export of the same snapshot is a no-op, and
    a foreign engine (pyarrow) can read the result directly."""
    import datetime as dt
    import json
    import os

    import pyarrow.parquet as pq

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, str(tmp_path / "exp_lake"), n_buckets=4)
    ev = spark.createDataFrame(
        [(1, "insert", "A", 0, None, "a0", None, dt.datetime(2025, 1, 1)),
         (2, "insert", "B", 0, None, "b0", None, dt.datetime(2025, 1, 1)),
         (3, "delete", "B", 0, None, None, None, dt.datetime(2025, 1, 1))],
        S.CHANGE_EVENT_SCHEMA,
    )
    merge_batch(t, ev, "q", 0)
    dest = str(tmp_path / "export")
    meta = t.export(dest)
    sid = meta["snapshot_id"]
    got = spark.read.parquet(f"{dest}/snapshot={sid}").orderBy("conv_id").toPandas()
    want = t.read().orderBy("conv_id").toPandas()
    assert got.equals(want) and list(got["conv_id"]) == ["A"]  # tombstone resolved
    # foreign-engine read (no maestro code)
    assert pq.read_table(f"{dest}/snapshot={sid}").num_rows == 1
    latest = json.load(open(os.path.join(dest, "LATEST")))
    assert latest["snapshot_id"] == sid
    # idempotent: second export of the same snapshot changes nothing
    files_before = sorted(os.listdir(f"{dest}/snapshot={sid}"))
    meta2 = t.export(dest)
    assert meta2["snapshot_id"] == sid
    assert sorted(os.listdir(f"{dest}/snapshot={sid}")) == files_before
    # a newer snapshot exports beside it and LATEST advances
    merge_batch(t, spark.createDataFrame(
        [(4, "insert", "C", 0, None, "c0", None, dt.datetime(2025, 1, 2))],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    meta3 = t.export(dest)
    assert meta3["snapshot_id"] > sid
    assert json.load(open(os.path.join(dest, "LATEST")))["snapshot_id"] == meta3["snapshot_id"]
    assert os.path.isdir(f"{dest}/snapshot={sid}")  # pinned dir untouched


def test_snapshot_id_at_time_travel(spark, tmp_path):
    """Wall-clock time travel: reading at a timestamp between commits sees
    exactly the earlier commit's state; before-history raises."""
    import datetime as dt
    import time

    import pytest as _pytest

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, str(tmp_path / "tt_lake"), n_buckets=4)
    merge_batch(t, spark.createDataFrame(
        [(1, "insert", "A", 0, None, "v1", None, dt.datetime(2025, 1, 1))],
        S.CHANGE_EVENT_SCHEMA), "q", 0)
    mid = time.time()
    time.sleep(0.05)
    merge_batch(t, spark.createDataFrame(
        [(2, "update", "A", 0, None, "v2", None, dt.datetime(2025, 1, 1))],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    sid = t.snapshot_id_at(mid)
    assert t.read(snapshot_id=sid).head()["text"] == "v1"
    assert t.read().head()["text"] == "v2"
    assert t.snapshot_id_at(time.time()) == t.snapshot().snapshot_id
    with _pytest.raises(ValueError, match="no retained snapshot"):
        t.snapshot_id_at(0.0)


def test_export_changes_incremental(spark, tmp_path):
    """Tailing the exported change-feed directory reconstructs the table:
    per-call deltas are exactly-once (cursor-advanced, re-run no-op), and
    applying all exported deltas in order (arg-max by lsn) equals the live
    table — a consumer with no maestro code converges via DuckDB."""
    import datetime as dt
    import glob
    import json
    import os

    import duckdb

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, str(tmp_path / "ec_lake"), n_buckets=4)
    dest = str(tmp_path / "feed_out")

    def ev(rows):
        return spark.createDataFrame(
            [(lsn, op, cid, ti, None, txt, None, dt.datetime(2025, 1, 1))
             for (lsn, op, cid, ti, txt) in rows],
            S.CHANGE_EVENT_SCHEMA,
        )

    merge_batch(t, ev([(1, "insert", "A", 0, "a0"), (2, "insert", "B", 0, "b0")]), "q", 0)
    r1 = t.export_changes(dest)
    merge_batch(t, ev([(3, "update", "A", 0, "a1"), (4, "delete", "B", 0, None)]), "q", 1)
    r2 = t.export_changes(dest)
    assert r1["path"] != r2["path"]
    # no new commits -> no-op, cursor stable
    r3 = t.export_changes(dest)
    assert r3["rows"] == 0 and r3["path"] is None
    cursor = json.load(open(os.path.join(dest, "CHANGES_CURSOR")))
    assert cursor["exported_through"] == t.snapshot().snapshot_id
    # foreign-engine convergence: DuckDB folds all exported deltas
    got = duckdb.sql(f"""
        SELECT conv_id, turn_idx, text FROM (
          SELECT conv_id, turn_idx,
                 arg_max(text, lsn) AS text, arg_max(op, lsn) AS op
          FROM read_parquet('{dest}/changes/*/*.parquet')
          GROUP BY conv_id, turn_idx)
        WHERE op <> 'delete' ORDER BY conv_id, turn_idx
    """).fetchall()
    want = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in t.read().orderBy("conv_id", "turn_idx").collect()
    ]
    assert got == want == [("A", 0, "a1")]


def test_export_changes_racers_never_overlap_or_regress(spark, tmp_path):
    """r2 advice: two exporters reading different tips must export the
    IDENTICAL claimed range (no overlapping changes/* dirs a tailing
    consumer would double-read), and the cursor — derived from append-only
    markers — can never regress below an exported range."""
    import datetime as dt
    import glob
    import json
    import os

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, str(tmp_path / "race_lake"), n_buckets=4)
    dest = str(tmp_path / "race_out")

    def ev(rows):
        return spark.createDataFrame(
            [(lsn, op, cid, ti, None, txt, None, dt.datetime(2025, 1, 1))
             for (lsn, op, cid, ti, txt) in rows],
            S.CHANGE_EVENT_SCHEMA,
        )

    merge_batch(t, ev([(1, "insert", "A", 0, "a0")]), "q", 0)
    # exporter 1 reads the tip and CLAIMS 0->sid1 — then stalls before
    # writing anything (simulated by doing nothing further with it)
    sid1 = t.snapshot().snapshot_id
    os.makedirs(dest, exist_ok=True)
    from maestro_spark.lake import _atomic_write_json

    _atomic_write_json(os.path.join(dest, f"_claim-{0:013d}.json"),
                       {"from": 0, "to": sid1}, exclusive=True)
    # the table moves on; exporter 2 reads a LATER tip but must join the
    # stalled claim, exporting exactly 0->sid1
    merge_batch(t, ev([(2, "insert", "B", 0, "b0")]), "q", 1)
    r = t.export_changes(dest)
    assert (r["from"], r["to"]) == (0, sid1)
    # the next call exports the remainder; ranges tile with no overlap
    r2 = t.export_changes(dest)
    assert r2["from"] == sid1 and r2["to"] == t.snapshot().snapshot_id
    dirs = sorted(os.path.basename(d) for d in glob.glob(f"{dest}/changes/*"))
    spans = [tuple(int(x) for x in d.split("-")) for d in dirs]
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi == b_lo  # contiguous, non-overlapping
    # a re-run is a no-op and the cursor never moved backward
    r3 = t.export_changes(dest)
    assert r3["rows"] == 0
    cursor = json.load(open(os.path.join(dest, "CHANGES_CURSOR")))
    assert cursor["exported_through"] == t.snapshot().snapshot_id


def test_export_changes_rebaseline_after_rollback(spark, tmp_path):
    """r2 advice: a rollback above the cursor used to wedge the export
    forever; reset_export_cursor re-baselines it and the next incremental
    export resumes from the reset point."""
    import datetime as dt
    import pytest as _pytest

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, str(tmp_path / "rb_lake"), n_buckets=4)
    dest = str(tmp_path / "rb_out")

    def ev(rows):
        return spark.createDataFrame(
            [(lsn, op, cid, ti, None, txt, None, dt.datetime(2025, 1, 1))
             for (lsn, op, cid, ti, txt) in rows],
            S.CHANGE_EVENT_SCHEMA,
        )

    merge_batch(t, ev([(1, "insert", "A", 0, "a0")]), "q", 0)
    t.export_changes(dest)
    merge_batch(t, ev([(2, "insert", "B", 0, "b0")]), "q", 1)
    good = t.snapshot().snapshot_id
    merge_batch(t, ev([(3, "insert", "C", 0, "c0")]), "q", 2)
    t.rollback(good)  # rollback lands ABOVE the cursor
    with _pytest.raises(ValueError):
        t.export_changes(dest)
    r = t.reset_export_cursor(dest)  # documented recovery
    assert r["rebaseline"] is True
    # consumer re-syncs via full export; incremental resumes cleanly after
    merge_batch(t, ev([(4, "insert", "D", 0, "d0")]), "q", 3)
    r2 = t.export_changes(dest)
    assert r2["from"] == r["to"] and r2["to"] == t.snapshot().snapshot_id


def test_fold_suffix_tier_selection():
    """Pure tier arithmetic: equal tiers merge wholesale, settled base files
    more than factor× the accumulated tier are never included, and the
    unconditional min_fold keeps the trigger productive."""
    fold = LakeTable._fold_suffix
    # 8 equal deltas -> fold all
    assert fold([10] * 8, 2, 4.0) == 8
    # big settled base + 7 small deltas -> base untouched
    assert fold([1000, 10, 10, 10, 10, 10, 10, 10], 2, 4.0) == 7
    # intermediate tier included only once within factor of the tier max
    assert fold([1000, 35, 10, 10, 10, 10, 10], 2, 4.0) == 6  # 35 <= 4*10
    assert fold([1000, 45, 10, 10, 10, 10, 10], 2, 4.0) == 5  # 45 > 4*10
    # same tier (within factor) merges even when it's base-sized
    assert fold([1000, 500], 2, 4.0) == 2
    # a [base, small-tier] pair out of factor is a STABLE no-op (no re-fold)
    assert fold([1000, 50], 2, 4.0) == 0
    # fewer than min_fold qualifying files -> nothing to fold
    assert fold([1000], 2, 4.0) == 0
    assert fold([], 2, 4.0) == 0


def test_compact_tiered_folds_deltas_not_base(spark, tmp_path):
    """Size-tiered compaction rewrites only the delta tier: content is
    preserved, the settled base file's path survives in the manifest
    untouched, and compaction bytes ~ delta bytes (the r2 scale-killer)."""
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    spark.conf.set("maestro.compact.maxDeltas", "0")  # manual control
    try:
        t = LakeTable.create(spark, str(tmp_path / "tier_lake"), n_buckets=2)
        # big base: 2000 rows, then fold it settled
        base_ev = spark.createDataFrame(
            [(i, "insert", f"c{i % 97}", i // 97, None, f"t{i}", None,
              dt.datetime(2025, 1, 1)) for i in range(2000)],
            S.CHANGE_EVENT_SCHEMA)
        merge_batch(t, base_ev, "q", 0)
        t.compact()  # one settled base file per bucket
        base_files = {b: list(ps) for b, ps in t.snapshot().files.items()}
        # five small delta epochs (~20 rows each)
        for e in range(1, 6):
            ev = spark.createDataFrame(
                [(2000 * e + i, "update", f"c{i}", 0, None, f"u{e}-{i}", None,
                  dt.datetime(2025, 1, 2)) for i in range(20)],
                S.CHANGE_EVENT_SCHEMA)
            merge_batch(t, ev, "q", e)
        before = t.read().orderBy("conv_id", "turn_idx")

        snap = t.compact_tiered()
        assert snap is not None and snap.stats["maintenance"] == "compact-tiered"
        after_files = t.snapshot().files
        for b, ps in base_files.items():
            # the settled base file was NOT rewritten — same path, position 0
            assert after_files[b][0] == ps[0]
            # the five deltas folded into one tier file
            assert len(after_files[b]) == 2
        after = t.read().orderBy("conv_id", "turn_idx")
        assert symmetric_diff_empty(before, after)
        # fold bytes == exactly the delta files' bytes; the base contributed 0
        pre = t.snapshot(snap.parent_id).files
        delta_bytes = sum(
            file_bytes(t, p) for b, ps in pre.items() for p in ps[1:]
        )
        assert snap.stats["fold_bytes"] == delta_bytes
        # repeated call with nothing foldable below the factor is a no-op
        assert t.compact_tiered() is None
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")


def test_compact_tiered_never_resurrects_tombstoned_rows(spark, tmp_path):
    """A tombstone living in the delta tier must survive the fold (no GC in
    tiered mode): the key's older live version in the unread base file must
    stay dead."""
    import datetime as dt

    import pyspark.sql.functions as F

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    spark.conf.set("maestro.compact.maxDeltas", "0")
    try:
        t = LakeTable.create(spark, str(tmp_path / "ts_lake"), n_buckets=2)
        merge_batch(t, spark.createDataFrame(
            [(1, "insert", "A", 0, None, "a0", None, dt.datetime(2025, 1, 1)),
             (2, "insert", "B", 0, None, "b0", None, dt.datetime(2025, 1, 1))],
            S.CHANGE_EVENT_SCHEMA), "q", 0)
        t.compact()  # settle the base (A and B live)
        for e, (lsn, op, cid, txt) in enumerate(
            [(3, "delete", "A", None), (4, "update", "B", "b1"),
             (5, "insert", "C", "c0")], start=1,
        ):
            merge_batch(t, spark.createDataFrame(
                [(lsn, op, cid, 0, None, txt, None, dt.datetime(2025, 1, 2))],
                S.CHANGE_EVENT_SCHEMA), "q", e)
        snap = t.compact_tiered()
        assert snap is not None
        got = {r["conv_id"]: r["text"] for r in t.read().collect()}
        assert got == {"B": "b1", "C": "c0"}  # A stays dead
        # the tombstone row itself is still present in the folded tier
        resolved = t.read_resolved()
        assert resolved.filter(
            (F.col("conv_id") == "A") & F.col("_deleted")).count() == 1
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")


def test_auto_trigger_uses_tiered_policy(spark, tmp_path):
    """The merge auto-trigger folds via compact_tiered by default; file
    counts stay bounded and replayed content matches a compaction-free
    replay exactly."""
    log = generate(GenConfig(seed=77, n_convs=40, segment_rows=150))
    write_log(log, str(tmp_path / "log2"), segment_rows=150)
    spark.conf.set("maestro.compact.maxDeltas", "3")
    try:
        t = LakeTable.create(spark, str(tmp_path / "auto_lake"), n_buckets=4)
        replay(spark, str(tmp_path / "log2"), t, query_id="a")
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")
    kinds = {t.snapshot(s).stats.get("maintenance") for s in t.snapshot_ids()}
    assert "compact-tiered" in kinds
    ref = LakeTable.create(spark, str(tmp_path / "ref_lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log2"), ref, query_id="r")
    assert symmetric_diff_empty(
        t.read().orderBy("conv_id", "turn_idx"),
        ref.read().orderBy("conv_id", "turn_idx"),
    )
    assert max(len(ps) for ps in t.snapshot().files.values()) <= 6


def test_fold_suffix_properties():
    """Property-based invariants of the tier selector: the fold is always a
    contiguous suffix of length 0 or >=min_fold; every included file is
    within factor x the largest NEWER included file (except the newest);
    equal-size file runs >= min_fold always make progress."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    fold = LakeTable._fold_suffix

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=10**12), max_size=30),
           st.floats(min_value=1.0, max_value=16.0))
    def check(sizes, factor):
        k = fold(sizes, 2, factor)
        assert k == 0 or 2 <= k <= len(sizes)
        if k:
            suffix = sizes[len(sizes) - k:]
            biggest = 0
            for b in reversed(suffix):  # newest -> oldest, as selected
                assert biggest == 0 or b <= factor * biggest
                biggest = max(biggest, b)
        # progress guarantee on an equal-size tier
        if len(sizes) >= 2 and len(set(sizes)) == 1:
            assert k == len(sizes)

    check()


def test_compact_tiered_across_schema_evolution(spark, tmp_path):
    """A fold set spanning a schema evolution (older files lack the evolved
    columns) must resolve and rewrite correctly: the mor_scan fold
    null-fills the absent column via conform_arrow_table."""
    import datetime as dt

    import pyspark.sql.functions as F

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    spark.conf.set("maestro.compact.maxDeltas", "0")
    try:
        t = LakeTable.create(spark, str(tmp_path / "evo"), n_buckets=2)
        merge_batch(t, spark.createDataFrame(
            [(1, "insert", "A", 0, None, "a0", None,
              dt.datetime(2025, 1, 1))], S.CHANGE_EVENT_SCHEMA), "q", 0)
        merge_batch(t, spark.createDataFrame(
            [(2, "insert", "A", 1, None, "a1", None,
              dt.datetime(2025, 1, 1), None, {"m": "v1"})],
            S.CHANGE_EVENT_SCHEMA_V2), "q", 1)

        def comparable(df):  # set-ops reject MapType: json the map
            return df.withColumn("metadata", F.to_json("metadata"))

        before = comparable(t.read()).orderBy("conv_id", "turn_idx")
        snap = t.compact_tiered()  # folds the pre- and post-evolution files
        assert snap is not None
        after = comparable(t.read()).orderBy("conv_id", "turn_idx")
        assert symmetric_diff_empty(before, after)
        rows = {r["turn_idx"]: r for r in t.read().collect()}
        assert rows[0]["metadata"] is None  # evolved col null-filled
        assert rows[1]["metadata"] == {"m": "v1"}
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")


def test_clustered_compaction_keeps_ts_pruning(spark, tmp_path):
    from pyspark.sql import functions as F
    """Iceberg sort-compaction parity (round 4): compact(cluster_by=["ts"],
    target_file_rows=...) splits each bucket's rewrite into ts-clustered
    files, so a narrow time-range read still prunes AFTER the fold — where
    the default single-file-per-bucket compaction makes every bucket file a
    candidate. Content, range-read results, and point lookups stay exact."""
    from maestro_spark.gen import GenConfig, generate, write_log
    from maestro_spark.replay import replay

    log = generate(GenConfig(seed=91, n_convs=60, segment_rows=300))
    write_log(log, str(tmp_path / "log"), segment_rows=300)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    spark.conf.set("maestro.compact.maxDeltas", "100")  # no auto-folds
    try:
        replay(spark, str(tmp_path / "log"), t, query_id="cc")
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")

    before = t.read().orderBy("conv_id", "turn_idx").collect()
    rows = len(before)
    ts_sorted = sorted(r["ts"] for r in before)
    lo, hi = ts_sorted[0], ts_sorted[rows // 10]  # ~narrowest decile

    # default compaction: one file per bucket -> a narrow range read has no
    # file-level structure left to prune
    t.compact()
    cand, _, total = t.plan_ts_scan(lo, hi)
    assert sum(len(v) for v in cand.values()) == total

    # clustered compaction: bounded ts-ordered files per bucket
    t.compact(cluster_by=["ts"], target_file_rows=max(100, rows // 4 // 4))
    snap = t.snapshot()
    n_files = sum(len(ps) for ps in snap.files.values())
    assert n_files > snap.n_buckets  # buckets actually split
    assert snap.stats.get("cluster_by") == ["ts"]
    cand, _, total = t.plan_ts_scan(lo, hi)
    kept = sum(len(v) for v in cand.values())
    assert kept < total, f"no pruning: {kept}/{total}"

    # exactness: content unchanged, range read equals the full filter,
    # lookups still exact on the clustered layout
    after = t.read().orderBy("conv_id", "turn_idx").collect()
    assert after == before
    got = sorted(map(tuple, t.read_where_ts(lo, hi).collect()))
    want = sorted(map(tuple, t.read().filter(
        (F.col("ts") >= lo) & (F.col("ts") <= hi)).collect()))
    assert got == want and got
    some_key = before[0]["conv_id"]
    want_rows = sorted(
        (r["turn_idx"], r["text"]) for r in before if r["conv_id"] == some_key
    )
    got_rows = sorted(
        (r["turn_idx"], r["text"]) for r in t.lookup(some_key).collect()
    )
    assert got_rows == want_rows


def test_optimize_one_call_maintenance(spark, tmp_path, capsys, monkeypatch):
    """optimize(): tiered fold + bloom backfill + expiry + vacuum in one
    idempotent call; the clustered mode swaps in the sort-compaction. Reads
    before == after, lookups bloom-served, CLI twin emits the summary."""
    from pyspark.sql import functions as F

    from maestro_spark import filestats as FS
    from maestro_spark.lake import optimize

    log = generate(GenConfig(seed=95, n_convs=50, segment_rows=250))
    write_log(log, str(tmp_path / "log"), segment_rows=250)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    spark.conf.set("maestro.compact.maxDeltas", "100")
    try:
        replay(spark, str(tmp_path / "log"), t, query_id="op")
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")
    before = t.read().orderBy("conv_id", "turn_idx").collect()

    out = optimize(t, expire_keep_last=2)
    assert out["compact"]["mode"] == "tiered"
    assert out["blooms_built"] > 0
    assert out["snapshots_expired"] >= 1
    assert t.read().orderBy("conv_id", "turn_idx").collect() == before
    # every live file now carries a bloom (the serving-prep contract)
    for ps in t.snapshot().files.values():
        for rel in ps:
            assert FS.BLOOM_FIELD in (t.file_stats.get(rel) or {}), rel
    # idempotent re-run: nothing to fold, nothing new to bloom
    out2 = optimize(t, expire_keep_last=2)
    assert out2["blooms_built"] == 0 and out2["compact"]["noop"]

    # clustered mode drives the sort-compaction path
    out3 = optimize(t, expire_keep_last=2, cluster_by=["ts"],
                    target_file_rows=200)
    assert out3["compact"]["mode"] == "clustered"
    assert t.snapshot().stats.get("cluster_by") == ["ts"]
    assert t.read().orderBy("conv_id", "turn_idx").collect() == before

    # CLI twin (the CLI stops its session on exit; ours must survive)
    from maestro_spark.__main__ import main as cli
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rc = cli(["optimize", "--table", t.root, "--keep-last", "2"])
    assert rc in (0, None)
    assert '"compact"' in capsys.readouterr().out


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering (M38): with two INDEPENDENT dimensions (ts varies
    per conversation, turn_idx within), a lexicographic (ts, turn_idx) sort
    leaves every file spanning the full turn_idx range — only ts prunes.
    Morton-interleaved clustering gives every file tight bounds on BOTH
    columns, so range reads on either dimension skip files; content and
    range-read results stay exact."""
    import datetime as dt

    from pyspark.sql import functions as F

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    base = dt.datetime(2025, 3, 1)
    rows = [
        (c * 64 + i + 1, "insert", f"c{c:03d}", i, "user", f"t{c}-{i}", None,
         base + dt.timedelta(minutes=c))
        for c in range(64)
        for i in range(64)
    ]
    t = LakeTable.create(spark, str(tmp_path / "zlake"), n_buckets=4)
    merge_batch(t, spark.createDataFrame(rows, S.CHANGE_EVENT_SCHEMA), "z", 0)
    before = t.read().orderBy("conv_id", "turn_idx").collect()
    ts_lo, ts_hi = base, base + dt.timedelta(minutes=15)  # first ts quartile

    # lexicographic two-column clustering: ts prunes, turn_idx cannot
    t.compact(cluster_by=["ts", "turn_idx"], target_file_rows=256)
    cand, _, total = t.plan_col_scan("turn_idx", 0, 15)
    assert sum(len(v) for v in cand.values()) == total  # no turn_idx pruning
    assert total > t.snapshot().n_buckets  # buckets did split into files

    # z-order clustering: BOTH dimensions prune
    t.compact(cluster_by=["ts", "turn_idx"], target_file_rows=256, zorder=True)
    assert t.snapshot().stats.get("zorder") is True
    cand, _, total = t.plan_col_scan("turn_idx", 0, 15)
    kept_turn = sum(len(v) for v in cand.values())
    assert kept_turn < total, f"turn_idx not pruned: {kept_turn}/{total}"
    cand, _, total = t.plan_ts_scan(ts_lo, ts_hi)
    kept_ts = sum(len(v) for v in cand.values())
    assert kept_ts < total, f"ts not pruned: {kept_ts}/{total}"

    # exactness on the z-ordered layout
    assert t.read().orderBy("conv_id", "turn_idx").collect() == before
    got = sorted(map(tuple, t.read_where("turn_idx", 0, 15).collect()))
    want = sorted(map(tuple, t.read().filter(F.col("turn_idx") <= 15).collect()))
    assert got == want and got
    got = sorted(map(tuple, t.read_where_ts(ts_lo, ts_hi).collect()))
    want = sorted(map(tuple, t.read().filter(
        (F.col("ts") >= ts_lo) & (F.col("ts") <= ts_hi)).collect()))
    assert got == want and got


def test_zorder_key_validation(spark):
    import pytest

    from maestro_spark.ops import zorder_key

    df = spark.createDataFrame([("a", 1, 2)], "s string, x int, y int")
    with pytest.raises(ValueError, match="2-4 columns"):
        zorder_key(df, ["x"])
    with pytest.raises(ValueError, match="string"):
        zorder_key(df, ["s", "x"])
    with pytest.raises(ValueError, match="signed long"):
        zorder_key(df, ["x", "y"], bits=32)
    # constant column contributes nothing but the key still works
    row = df.withColumn("z", zorder_key(df, ["x", "y"],
                                        bounds={"x": (1, 1), "y": (0, 3)},
                                        bits=2)).head()
    # y=2 -> level bits (0,1); bit i of col j=1 lands at i*2+1 -> 1<<3
    assert row["z"] == 8


def test_snapshot_tags_survive_expiry_and_compose(spark, tmp_path, capsys,
                                                  monkeypatch):
    """Named snapshot refs (M39, Iceberg tag parity): a tag pins an id past
    expire_snapshots + vacuum, ref() composes with every snapshot_id-taking
    API (read/clone/changes), drop_tag releases it, and the CLI twin
    pins/lists/drops."""
    import datetime as dt

    import pytest

    from maestro_spark import schema as S
    from maestro_spark.merge import merge_batch

    TS = dt.datetime(2025, 1, 1)
    t = LakeTable.create(spark, str(tmp_path / "taglake"), n_buckets=2)
    spark.conf.set("maestro.compact.maxDeltas", "100")  # keep the chain long
    try:
        for e in range(8):
            merge_batch(t, spark.createDataFrame(
                [(e + 1, "upsert", "A", 0, "user", f"v{e}", None, TS)],
                S.CHANGE_EVENT_SCHEMA), "tagq", e)
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")

    early = t.snapshot_ids()[2]
    want = t.read(early).orderBy("conv_id", "turn_idx").collect()
    assert t.tag("train-v1", early) == early
    with pytest.raises(ValueError, match="exists"):
        t.tag("train-v1")
    with pytest.raises(ValueError, match="invalid tag"):
        t.tag("../escape")

    # ref composes with the incremental feed while history is retained
    # (changes() spanning expired intermediates refuses, like Iceberg)
    feed = t.changes(t.ref("train-v1"), t.snapshot().snapshot_id).collect()
    assert [r["text"] for r in feed] == ["v7"]  # winner since the tag

    # survives expiry + vacuum while untagged peers at the same age are gone
    t.expire_snapshots(keep_last=2)
    t.vacuum(manifest_grace_seconds=0)
    assert early in t.snapshot_ids()
    assert early + 1 not in t.snapshot_ids()  # untagged sibling expired
    assert t.read(t.ref("train-v1")).orderBy(
        "conv_id", "turn_idx").collect() == want

    # ref composes: clone the tagged (expiry-surviving) snapshot
    c = t.clone(str(tmp_path / "tagclone"), snapshot_id=t.ref("train-v1"))
    assert c.read().orderBy("conv_id", "turn_idx").collect() == want

    # replace moves the pin; drop releases it for the next expiry
    t.tag("train-v1", replace=True)
    assert t.ref("train-v1") == t.snapshot().snapshot_id
    t.tag("back", early)
    assert t.drop_tag("back") and not t.drop_tag("back")
    t.expire_snapshots(keep_last=1)
    assert early not in t.snapshot_ids()
    with pytest.raises(KeyError):
        t.ref("nope")

    # CLI twin
    from maestro_spark.__main__ import main as cli
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    rc = cli(["tag", "--table", t.root, "--name", "rel"])
    assert rc in (0, None)
    out = capsys.readouterr().out
    assert '"rel"' in out and '"train-v1"' in out
    rc = cli(["tag", "--table", t.root, "--drop", "rel"])
    assert rc in (0, None) and '"dropped": true' in capsys.readouterr().out


def test_vacuum_dry_run_and_view_by_tag(spark, tmp_path):
    """vacuum(dry_run=True) reports without deleting; create_view(tag=...)
    pins a SQL view to a named ref (and refuses combined pins)."""
    import pytest

    log = generate(GenConfig(seed=77, n_convs=20, segment_rows=200))
    write_log(log, str(tmp_path / "log"), segment_rows=200)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), t, query_id="v")
    t.tag("rel", t.snapshot_ids()[1])
    n_tagged = t.read(t.ref("rel")).count()
    t.compact()
    t.expire_snapshots(keep_last=1)

    would = t.vacuum(dry_run=True)
    assert would > 0
    assert _n_data_files(t) >= would  # nothing deleted yet
    files_before = _n_data_files(t)
    assert t.vacuum() == would
    assert _n_data_files(t) == files_before - would

    t.create_view("rel_view", tag="rel")
    assert spark.sql("SELECT count(*) c FROM rel_view").head()["c"] == n_tagged
    with pytest.raises(ValueError, match="at most one"):
        t.create_view("x", snapshot_id=1, tag="rel")


def test_optimize_refreshes_maintained_structures_before_expiry(spark, tmp_path):
    """optimize(refresh=[...]) folds maintained views/indexes FIRST, so
    their delta refresh still sees the feed horizon that the same call's
    expiry+vacuum then trims."""
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.index_maint import MaintainedTextIndex
    from maestro_spark.lake import optimize
    from maestro_spark.merge import merge_batch

    TS = dt.datetime(2025, 1, 1)
    t = LakeTable.create(spark, str(tmp_path / "olake"), n_buckets=2)
    idx = MaintainedTextIndex(spark, t, str(tmp_path / "oidx"), n_buckets=4)
    spark.conf.set("maestro.compact.maxDeltas", "100")
    try:
        for e in range(6):
            merge_batch(t, spark.createDataFrame(
                [(e + 1, "insert", f"c{e}", 0, None, f"alpha beta{e}", None, TS)],
                S.CHANGE_EVENT_SCHEMA), "oq", e)
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")

    out = optimize(t, expire_keep_last=1, refresh=[idx])
    assert out["refreshed"] == [{"MaintainedTextIndex": True}]
    # the index is current over everything, though the feed horizon is gone
    assert {r["conv_id"] for r in idx.search("alpha").collect()} == \
        {f"c{e}" for e in range(6)}
    # optimize's own compact/expiry commits advanced the chain past the
    # index cursor; folding them is a no-op for content and leaves the
    # probe exact
    idx.refresh()
    assert {r["conv_id"] for r in idx.search("alpha").collect()} == \
        {f"c{e}" for e in range(6)}


def test_describe_reports_everything_metadata_only(spark, tmp_path, capsys,
                                                   monkeypatch):
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.lake import describe
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, str(tmp_path / "dlake"), n_buckets=2)
    merge_batch(t, spark.createDataFrame(
        [(1, "insert", "A", 0, "user", "a0", None, dt.datetime(2025, 1, 1))],
        S.CHANGE_EVENT_SCHEMA), "q", 0)
    t.tag("v1")
    t.add_constraint("turn_nonneg", "turn_idx >= 0")
    d = describe(t)
    assert d["rows_incl_tombstones"] == 1 and d["files"] >= 1
    assert d["tags"] == {"v1": t.snapshot().snapshot_id}
    assert d["constraints"] == {"turn_nonneg": "turn_idx >= 0"}
    assert "text:string" in d["schema"] and d["key"] == ["conv_id", "turn_idx"]
    assert d["materialized_views"] == [] and d["indexes"] == []

    # declared views/indexes show up with their persisted declarations —
    # still metadata-only (declarations read straight from disk)
    from maestro_spark import index_maint, ivm
    mv = ivm.declare(spark, t, str(tmp_path / "dmv"), key_cols=["conv_id"],
                     agg_exprs=["count(*) AS n"])
    mv.refresh()
    idx = index_maint.declare_index(spark, t, str(tmp_path / "didx"), "text")
    idx.refresh()
    d = describe(t)
    assert [v["agg_exprs"] for v in d["materialized_views"]] == [["count(*) AS n"]]
    assert [i["kind"] for i in d["indexes"]] == ["text"]

    from maestro_spark.__main__ import main as cli
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    assert cli(["describe", "--table", t.root]) in (0, None)
    assert '"turn_nonneg"' in capsys.readouterr().out


def test_zorder_key_default_bits_fit_four_columns(spark):
    """r4 ADVICE: the default bits must fit 4 columns in a signed long
    (compact()/the CLI never pass bits), and a payload column named with a
    '__' prefix must survive a clustered rewrite."""
    from maestro_spark.ops import zorder_key

    df = spark.createDataFrame([(1, 2, 3, 4)], "a int, b int, c int, d int")
    assert df.withColumn("z", zorder_key(df, ["a", "b", "c", "d"])).head() is not None


def test_dunder_payload_column_survives_clustered_compaction(spark, tmp_path):
    """r4 ADVICE: write_bucket_files drops only ordering HELPERS (e.g. __z),
    never a schema column that happens to be named with a '__' prefix."""
    import datetime as dt

    from pyspark.sql import types as T

    from maestro_spark import schema as S
    from maestro_spark.lake import LakeTable
    from maestro_spark.merge import merge_batch

    payload = T.StructType([
        *S.TRANSCRIPT_FIELDS,
        T.StructField("__note", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "lk"), payload, n_buckets=2)
    ev = T.StructType([
        T.StructField("op_lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        *payload.fields,
    ])
    merge_batch(t, spark.createDataFrame(
        [(1, "insert", "A", 0, "user", "a0", None,
          dt.datetime(2025, 1, 1), "KEEPME")], ev), "q", 0)
    t.compact(cluster_by=["__note"])
    assert t.read().head()["__note"] == "KEEPME"
