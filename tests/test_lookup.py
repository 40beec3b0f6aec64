"""Point-lookup serving path: the driver-side key→bucket twin must agree
with Spark's layout hash bit-for-bit (else a lookup silently reads the
wrong bucket), the lookup must equal a full-table read + filter under
merge-on-read (updates, tombstones, re-deliveries), and the scan must
provably touch only the key's own bucket."""

from __future__ import annotations

import datetime as dt
import random
import string

import pyspark.sql.functions as F
import pytest

from maestro_spark import schema as S
from maestro_spark.gen import GenConfig, generate, write_log
from maestro_spark.keyhash import bucket_of, xxh64_signed
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch
from maestro_spark.replay import replay

TS = dt.datetime(2025, 1, 1, 12)


def test_python_xxh64_matches_spark(spark):
    """Property parity over every length class of the algorithm (empty,
    <4, <8, <32, >=32 bytes; multi-byte UTF-8) plus random fuzz."""
    rng = random.Random(1234)
    vals = ["", "a", "abc", "conv_000042", "x" * 31, "y" * 32, "z" * 33,
            "w" * 100, "日本語のキー", "émoji🙂mixé"]
    vals += ["".join(rng.choices(string.printable, k=rng.randint(0, 80)))
             for _ in range(150)]
    vals += ["".join(chr(rng.randint(1, 0xFFF)) for _ in range(rng.randint(0, 40)))
             for _ in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h"),
        F.pmod(F.xxhash64("s"), F.lit(64)).cast("int").alias("b"),
    ).collect()
    for r in rows:
        assert xxh64_signed(r["s"].encode("utf-8")) == r["h"], r["s"]
        assert bucket_of(r["s"], 64) == r["b"], r["s"]


def _events(spark, rows):
    """rows: (op_lsn, op, conv_id, turn_idx, text)."""
    return spark.createDataFrame(
        [(lsn, op, cid, ti, None, txt, None, TS) for (lsn, op, cid, ti, txt) in rows],
        S.CHANGE_EVENT_SCHEMA,
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    merge_batch(t, _events(spark, [
        (1, "insert", "A", 0, "a0"),
        (2, "insert", "A", 1, "a1"),
        (3, "insert", "B", 0, "b0"),
        (4, "insert", "C", 0, "c0"),
    ]), "q", 0)
    merge_batch(t, _events(spark, [
        (5, "update", "A", 1, "a1v2"),
        (6, "delete", "B", 0, None),
        (7, "insert", "D", 0, "d0"),
    ]), "q", 1)
    return t


def test_lookup_equals_filtered_read(table):
    for cid in ["A", "B", "C", "D", "nope"]:
        got = table.lookup(cid).orderBy("turn_idx").toPandas()
        want = (
            table.read().filter(F.col("conv_id") == cid).orderBy("turn_idx").toPandas()
        )
        assert got.equals(want), cid
    # B was tombstoned: the lookup must see the delete, not the insert
    assert table.lookup("B").count() == 0
    # single-turn variant
    one = table.lookup("A", turn_idx=1).toPandas()
    assert list(one["text"]) == ["a1v2"]


def test_lookup_scans_one_bucket_only(table, monkeypatch):
    """Every file the lookup plan reads — the parquet scan's inputFiles and
    the file groups handed to mor_scan (a mapInArrow scan lists none) —
    lives under the key's own pk_bucket dir: the other n_buckets-1 of the
    table are never opened."""
    from maestro_spark import mor_scan

    groups: list[list[str]] = []
    real = mor_scan.scan

    def spy(spark, schema, gs, *a, **kw):
        groups.extend(gs)
        return real(spark, schema, gs, *a, **kw)

    monkeypatch.setattr(mor_scan, "scan", spy)
    b = bucket_of("A", 4)
    df = table.lookup("A")
    files = df.inputFiles() + [f for g in groups for f in g]
    assert files, "lookup plan lists no input files"
    assert all(f"pk_bucket={b}/" in f for f in files)
    total = sum(len(ps) for ps in table.snapshot().files.values())
    assert len(files) < total  # genuinely pruned, not a full-table scan


def test_lookup_on_replayed_log(spark, tmp_path):
    """End-to-end on a generated log (updates, deletes, re-deliveries,
    multi-epoch deltas): every conversation's lookup equals the filtered
    full read; keys are spread over all buckets so the hash twin is
    exercised against real layout decisions."""
    log = generate(GenConfig(seed=11, n_convs=40, segment_rows=400))
    write_log(log, str(tmp_path / "log"), segment_rows=400)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8)
    replay(spark, str(tmp_path / "log"), t, query_id="lk")
    full = t.read().toPandas()
    rng = random.Random(5)
    for cid in rng.sample(sorted(set(full["conv_id"])), 6) + ["conv_999999"]:
        got = t.lookup(cid).orderBy("turn_idx").toPandas().reset_index(drop=True)
        want = (
            full[full["conv_id"] == cid]
            .sort_values("turn_idx")
            .reset_index(drop=True)
        )
        assert got.equals(want), cid


def test_read_columns_prunes_and_matches(spark, tmp_path):
    """read(columns=...) equals read().select(...) exactly, and the pruned
    plan's scan schema is narrow (mor_scan gets no projection
    pushdown from Spark, so the manual pruning is the only thing standing
    between a 2-column query and a full-width decode at 100 TB); the JVM
    exchange resolve over the same narrowed schema agrees."""
    import contextlib
    import io

    log = generate(GenConfig(seed=9, n_convs=30, segment_rows=300))
    write_log(log, str(tmp_path / "log"), segment_rows=300)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    replay(spark, str(tmp_path / "log"), t, query_id="lk")

    narrow = t.read(columns=["conv_id", "turn_idx"])
    wide = t.read().select("conv_id", "turn_idx")
    a = narrow.orderBy("conv_id", "turn_idx").toPandas()
    b = wide.orderBy("conv_id", "turn_idx").toPandas()
    assert a.equals(b) and len(a) > 0

    def scan_width(df):
        """Widest Output [N] or Input [N] in the formatted plan — the scan
        nodes (and, for MapInArrow, which prints no Output, the node reading
        it) are the widest nodes in these plans, so this is the decoded
        column count."""
        import re

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        widths = [int(m.group(1)) for m in re.finditer(r"(?:Output|Input) \[(\d+)\]", plan)]
        assert widths, plan[:1000]
        return max(widths), plan

    w_narrow, plan_n = scan_width(narrow)
    w_wide, _ = scan_width(wide)
    assert w_narrow <= 4, plan_n[:2000]   # keys + _lsn + _deleted
    assert w_wide >= 8                    # full schema without pruning
    # the pinned-column resolve keeps the same winners (tombstones
    # included) as the wide read
    c = (
        t.read_resolved(columns=["conv_id", "turn_idx"])
        .filter(~F.col(S.DELETED_COL))
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert c.equals(b)
    # evolved/unknown column name is rejected loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        t.read(columns=["nope"])


def test_key_filter_pushdown_into_mor_scan(spark, tmp_path, monkeypatch):
    """read().filter(conv_id == X) equals the unpruned read's filter
    exactly. Spark pushes no filter into mor_scan, so that read resolves
    every multi-file bucket; the point read is lookup, which hands
    mor_scan only the key's own bucket and equals the same filter."""
    log = generate(GenConfig(seed=13, n_convs=30, segment_rows=250))
    write_log(log, str(tmp_path / "log"), segment_rows=250)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8)
    replay(spark, str(tmp_path / "log"), t, query_id="lk")
    full = t.read().toPandas()
    cid = sorted(set(full["conv_id"]))[3]
    got = (
        t.read()
        .filter(F.col("conv_id") == cid)
        .orderBy("turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        full[full["conv_id"] == cid].sort_values("turn_idx").reset_index(drop=True)
    )
    assert got.equals(want) and len(got) > 0
    # the lookup of the same key: one bucket's files reach mor_scan
    from maestro_spark import mor_scan

    groups: list[list[str]] = []
    real = mor_scan.scan

    def spy(spark, schema, gs, *a, **kw):
        groups.extend(gs)
        return real(spark, schema, gs, *a, **kw)

    monkeypatch.setattr(mor_scan, "scan", spy)
    b = bucket_of(cid, t.snapshot().n_buckets)
    looked = t.lookup(cid).orderBy("turn_idx").toPandas().reset_index(drop=True)
    assert looked.equals(want)
    assert groups and all(f"pk_bucket={b}/" in f for g in groups for f in g)


def test_lookup_hands_its_key_to_mor_scan(table, monkeypatch):
    """mor_scan sees no pushed filter, so lookup passes its key (and turn)
    equality itself; the resolver prunes row groups and rows with it."""
    from maestro_spark import mor_scan

    seen: list = []
    real = mor_scan.scan

    def spy(spark, schema, gs, sizes, key_filters=None):
        seen.append(key_filters)
        return real(spark, schema, gs, sizes, key_filters)

    monkeypatch.setattr(mor_scan, "scan", spy)
    # A's bucket holds both epochs' files, so its lookup goes through mor_scan
    assert len(table.snapshot().files[str(bucket_of("A", 4))]) == 2
    assert [r["text"] for r in table.lookup("A").orderBy("turn_idx").collect()] == [
        "a0", "a1v2"]
    assert [r["text"] for r in table.lookup("A", turn_idx=1).collect()] == ["a1v2"]
    assert seen == [[("conv_id", "A")], [("conv_id", "A"), ("turn_idx", 1)]]


# --------------------------------------------------------------- key blooms
def _same_bucket_keys(n_buckets: int, want: int) -> list[str]:
    """First ``want`` keys of the form k-<i> landing in bucket 0."""
    out, i = [], 0
    while len(out) < want:
        if bucket_of(f"k-{i}", n_buckets) == 0:
            out.append(f"k-{i}")
        i += 1
    return out


def test_key_bloom_prunes_delta_files_exactly(spark, tmp_path):
    """Three keys forced into ONE bucket; epoch 2 updates only the first.
    The untouched keys' lookups must bloom-prune the epoch-2 delta file
    (cand < total) while every lookup stays byte-equal to the unpruned
    full read — blooms are an IO plan change, never a semantics change."""
    k1, k2, k3 = _same_bucket_keys(4, 3)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    merge_batch(t, _events(spark, [
        (1, "insert", k1, 0, "one"),
        (2, "insert", k2, 0, "two"),
        (3, "insert", k3, 0, "three"),
    ]), "q", 0)
    merge_batch(t, _events(spark, [(9, "update", k1, 0, "one-v2")]), "q", 1)
    assert t.build_key_blooms() == 2

    _, cand1, total1 = t.plan_lookup(k1)
    assert total1 == 2 and len(cand1) == 2  # k1 is in both files
    for k in (k2, k3):
        _, cand, total = t.plan_lookup(k)
        assert total == 2
        assert len(cand) == 1, f"{k}: epoch-2 delta not pruned"
        assert cand[0][0] == 0  # original commit seq preserved
    # equality pruned vs the unpruned full read, incl. a missing key
    for k in (k1, k2, k3, "absent-key"):
        pruned = sorted(map(tuple, t.lookup(k).collect()))
        plain = sorted(map(tuple, t.read().filter(F.col("conv_id") == k).collect()))
        assert pruned == plain, k
    assert [r.text for r in t.lookup(k1).collect()] == ["one-v2"]


def test_key_bloom_no_false_negatives_and_parity(spark, tmp_path):
    """Over a replayed generated log: (a) every stored bloom admits every
    conv_id physically present in its file (no-false-negative invariant —
    the one that guards correctness), and (b) the executor-built bitset is
    byte-identical to the driver-side filestats.build_bloom twin."""
    import os

    import pyarrow.parquet as pq

    from maestro_spark import filestats as FS

    log = generate(GenConfig(seed=21, n_convs=40, segment_rows=400))
    write_log(log, str(tmp_path / "log"), segment_rows=400)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8)
    replay(spark, str(tmp_path / "log"), t, query_id="lk")
    # ingest writes no blooms; the serving-prep call indexes every live
    # file once and is then a no-op
    assert t.build_key_blooms() > 4
    assert t.build_key_blooms() == 0
    snap = t.snapshot()
    checked = 0
    for ps in snap.files.values():
        for rel in ps:
            st = t.file_stats.get(rel)
            assert st is not None and FS.BLOOM_FIELD in st, rel
            vals = set(
                pq.read_table(os.path.join(t.root, rel), columns=["conv_id"])
                .column(0)
                .to_pylist()
            )
            for v in vals:
                assert FS.bloom_maybe_contains(st, v), (rel, v)
            assert FS.build_bloom(vals) == st[FS.BLOOM_FIELD], rel
            checked += 1
    assert checked > 4


def test_lookup_degrades_without_blooms_then_backfills(spark, tmp_path):
    """The writer builds no blooms: plan_lookup keeps every file
    (evidence-based pruning only) and lookup stays exact. A backfill then
    indexes the table and pruning kicks in — with results unchanged."""
    kA, kB, _ = _same_bucket_keys(4, 3)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=4)
    merge_batch(t, _events(spark, [
        (1, "insert", kA, 0, "a0"), (2, "insert", kB, 0, "b0"),
    ]), "q", 0)
    merge_batch(t, _events(spark, [(3, "update", kA, 0, "a0v2")]), "q", 1)
    _, cand, total = t.plan_lookup(kB)
    assert total == 2 and len(cand) == total  # nothing pruned blind
    assert t.build_key_blooms() == 2
    _, cand, total = t.plan_lookup(kB)
    assert total == 2 and len(cand) == 1  # epoch-2 delta now pruned
    assert [r.text for r in t.lookup(kA).collect()] == ["a0v2"]
    assert [r.text for r in t.lookup(kB).collect()] == ["b0"]


def test_bloom_backfill_is_chunked_and_collects_only_bitsets(spark, tmp_path, monkeypatch):
    """r3 verdict #1: the backfill must never collect key/hash PAIRS to the
    driver (a whole-table first call at 10^10 events would be GBs of heap) —
    bitsets are assembled executor-side and the file list is chunked.
    Asserted by (a) poisoning the driver-side pair assembler: the backfill
    must succeed without it; (b) running with 2 files per chunk over >4
    files: one stats shard lands per chunk, and pruning/parity still hold."""
    import os

    from maestro_spark import filestats as FS
    from maestro_spark import lake

    log = generate(GenConfig(seed=33, n_convs=30, segment_rows=200))
    write_log(log, str(tmp_path / "log"), segment_rows=200)
    t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=8)
    replay(spark, str(tmp_path / "log"), t, query_id="bb")
    n_files = sum(len(ps) for ps in t.snapshot().files.values())
    assert n_files > 4

    shards_before = len(
        [f for f in os.listdir(os.path.join(t.root, "_snapshots"))
         if f.startswith(FS.SHARD_PREFIX)]
    )
    orig = FS.bloom_from_pairs
    FS.bloom_from_pairs = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("driver-side pair assembly in the backfill path")
    )
    monkeypatch.setattr(lake, "BLOOM_BACKFILL_BATCH_FILES", 2)
    try:
        assert t.build_key_blooms() == n_files
    finally:
        FS.bloom_from_pairs = orig

    shards_after = len(
        [f for f in os.listdir(os.path.join(t.root, "_snapshots"))
         if f.startswith(FS.SHARD_PREFIX)]
    )
    # one merge_extra shard per chunk of <=2 files
    assert shards_after - shards_before >= (n_files + 1) // 2
    # blooms landed complete and correct (spot parity on one file)
    import pyarrow.parquet as pq

    rel = next(p for ps in t.snapshot().files.values() for p in ps)
    st = t.file_stats.get(rel)
    assert st and FS.BLOOM_FIELD in st
    vals = set(
        pq.read_table(os.path.join(t.root, rel), columns=["conv_id"])
        .column(0).to_pylist()
    )
    assert FS.build_bloom(vals) == st[FS.BLOOM_FIELD]
