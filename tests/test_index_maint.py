"""Change-feed-maintained LSH index (r2 verdict #5): after N incremental
epochs the maintained index answers probes identically to a FRESH rebuild
over the base's current state — updates re-bucket, deletes disappear, and
the probe stays partition-pruned."""

from __future__ import annotations

import datetime as dt
import io

import pytest
from pyspark.sql import types as T

from maestro_spark import schema as S
from maestro_spark.index_maint import MaintainedLshIndex
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch

TS = dt.datetime(2025, 1, 1, 12)

PAYLOAD = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
])

EVENT = T.StructType([
    T.StructField("op_lsn", T.LongType(), False),
    T.StructField("op", T.StringType(), False),
    *PAYLOAD.fields,
])


def _vec(seed: int, dim: int = 8) -> list[float]:
    # deterministic pseudo-vector, no RNG (replay-equality rules)
    return [((seed * 31 + i * 17) % 97) / 97.0 - 0.5 for i in range(dim)]


def _events(spark, rows):
    """rows: (lsn, op, conv_id, vec_or_None)."""
    return spark.createDataFrame(
        [(lsn, op, cid, 0, v) for (lsn, op, cid, v) in rows], EVENT
    )


@pytest.fixture()
def base(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "vec_lake"), n_buckets=4,
                         payload_schema=PAYLOAD)
    merge_batch(t, _events(spark, [
        (i + 1, "insert", f"c{i}", _vec(i)) for i in range(40)
    ]), "q", 0)
    return t


def _probe_rows(idx, q, k=5):
    return [(r["conv_id"], round(r["score"], 9)) for r in idx.topk(q, k).collect()]


def test_maintained_equals_fresh_rebuild_across_epochs(spark, tmp_path, base):
    idx = MaintainedLshIndex(spark, base, str(tmp_path / "idx"))
    idx.refresh()  # bootstrap (rebuild path)

    # epoch 1: inserts + an update that MOVES a vector (likely re-buckets)
    merge_batch(base, _events(spark, [
        (100, "insert", "c90", _vec(90)),
        (101, "update", "c3", _vec(300)),
    ]), "q", 1)
    # epoch 2: a delete and another update
    merge_batch(base, _events(spark, [
        (102, "delete", "c7", None),
        (103, "update", "c11", _vec(1100)),
    ]), "q", 2)
    r1 = idx.refresh()
    assert r1 is not None and r1["to"] == base.snapshot().snapshot_id
    assert idx.refresh() is None  # current -> no-op

    fresh = MaintainedLshIndex(spark, base, str(tmp_path / "fresh"))
    fresh.rebuild()
    for qseed in (0, 3, 7, 11, 90):
        q = _vec(qseed)
        assert _probe_rows(idx, q) == _probe_rows(fresh, q), qseed

    # the deleted key can never surface, the updated key scores by its NEW
    # vector (its own old vector as query must no longer rank it first)
    got = {r["conv_id"] for r in idx.topk(_vec(7), 40).collect()}
    assert "c7" not in got
    top_new = idx.topk(_vec(300), 1).head()
    assert top_new["conv_id"] == "c3" and top_new["score"] > 0.99


def test_maintained_probe_is_partition_pruned(spark, tmp_path, base):
    import contextlib

    idx = MaintainedLshIndex(spark, base, str(tmp_path / "idx2"))
    idx.refresh()
    plan = idx.topk(_vec(5), 3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan.explain(True)
    s = buf.getvalue()
    assert "PartitionFilters" in s and "_bucket" in s


def test_refresh_is_crash_idempotent(spark, tmp_path, base):
    """A crash after the data appends but before the range marker re-applies
    the same range; (key, lsn)-idempotent rows collapse in the probe."""
    idx = MaintainedLshIndex(spark, base, str(tmp_path / "idx3"))
    idx.refresh()
    merge_batch(base, _events(spark, [(200, "update", "c5", _vec(500))]), "q", 1)

    real = idx._mark
    idx._mark = lambda frm, to: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError, match="crash"):
        idx.refresh()
    idx._mark = real
    idx.refresh()  # resume: re-applies the same range, then marks

    fresh = MaintainedLshIndex(spark, base, str(tmp_path / "fresh3"))
    fresh.rebuild()
    for qseed in (5, 500, 9):
        assert _probe_rows(idx, _vec(qseed)) == _probe_rows(fresh, _vec(qseed))


def test_update_append_paths_for_static_indexes(spark, tmp_path):
    """similarity.update_lsh_index / update_ivf_index: build-on-half +
    delta-append equals a fresh rebuild over the union (LSH exactly; IVF
    with pinned centroids), with partition layouts intact."""
    from maestro_spark.functions import similarity as sim

    rows = [(i, _vec(i, 16)) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    half1, half2 = df.filter("vec_id < 30"), df.filter("vec_id >= 30")

    lsh_m = str(tmp_path / "lsh_m")
    sim.build_lsh_index(half1, lsh_m, n_bits=10, prefix_bits=6)
    sim.update_lsh_index(half2, lsh_m)
    lsh_f = str(tmp_path / "lsh_f")
    sim.build_lsh_index(df, lsh_f, n_bits=10, prefix_bits=6)
    q = _vec(7, 16)
    got = [(r["vec_id"], round(r["score"], 9)) for r in
           sim.ann_lsh_topk_indexed(spark, lsh_m, q, k=5, multiprobe_hamming=2).collect()]
    want = [(r["vec_id"], round(r["score"], 9)) for r in
            sim.ann_lsh_topk_indexed(spark, lsh_f, q, k=5, multiprobe_hamming=2).collect()]
    assert got == want and got

    ivf_m = str(tmp_path / "ivf_m")
    meta = sim.build_ivf_index(half1, ivf_m, k=4, iters=3)
    sim.update_ivf_index(half2, ivf_m)
    ivf_f = str(tmp_path / "ivf_f")
    sim.build_ivf_index(df, ivf_f, k=4, centroids=meta["centroids"])
    got = [(r["vec_id"], round(r["score"], 9)) for r in
           sim.ann_ivf_topk_indexed(spark, ivf_m, q, k=5, nprobe=4).collect()]
    want = [(r["vec_id"], round(r["score"], 9)) for r in
            sim.ann_ivf_topk_indexed(spark, ivf_f, q, k=5, nprobe=4).collect()]
    assert got == want and got


def test_maintained_simhash_equals_on_the_fly(spark, tmp_path):
    """The feed-maintained TEXT near-dup index mines the same pairs as the
    on-the-fly simhash_near_pairs over the base's CURRENT live rows, across
    insert / update / delete epochs."""
    import pyspark.sql.functions as F

    from maestro_spark.functions.dedup_text import simhash_near_pairs
    from maestro_spark.index_maint import MaintainedSimhashIndex

    TXT = {
        0: "the quick brown fox jumps over the lazy dog in the yard",
        1: "the quick brown fox jumps over the lazy dog in the barn",
        2: "completely different content about spark shuffle exchanges",
        3: "the quick brown fox jumps over the lazy dog in the yard",
        4: "unrelated text concerning parquet footers and zone maps",
    }
    base = LakeTable.create(spark, str(tmp_path / "txt_lake"), n_buckets=4)
    merge_batch(base, spark.createDataFrame(
        [(i + 1, "insert", f"d{i}", 0, None, TXT[i], None,
          __import__("datetime").datetime(2025, 1, 1)) for i in TXT],
        S.CHANGE_EVENT_SCHEMA), "q", 0)

    idx = MaintainedSimhashIndex(spark, base, str(tmp_path / "sh_idx"))
    idx.refresh()  # bootstrap

    # epoch 1: update a doc's text (re-bands), delete another, insert a dup
    merge_batch(base, spark.createDataFrame(
        [(10, "update", "d2", 0, None, TXT[0], None,
          __import__("datetime").datetime(2025, 1, 2)),
         (11, "delete", "d3", 0, None, None, None,
          __import__("datetime").datetime(2025, 1, 2)),
         (12, "insert", "d9", 0, None, TXT[1], None,
          __import__("datetime").datetime(2025, 1, 2))],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    r = idx.refresh()
    assert r is not None and idx.refresh() is None

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in idx.near_pairs(max_hamming=3).collect()
    }
    fly_df = base.read().withColumn(
        "_id", F.concat_ws(" ", "conv_id", F.col("turn_idx").cast("string"))
    )
    want = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(
            fly_df, max_hamming=3, id_col="_id").collect()
    }
    assert got == want and want  # non-empty: the planted dups must pair
    assert not any("d3" in a or "d3" in b for a, b in got)  # deleted gone


# ------------------------------------------------- feed-maintained IVF
def test_maintained_ivf_equals_pinned_rebuild_and_brute_force(spark, tmp_path, base):
    """r3 verdict #4: across insert/update/delete epochs the maintained IVF
    index (pinned centroids between rebuilds, LSN-dominance tombstones)
    probes identically to a fresh rebuild over base current state with the
    SAME pinned centroids; with nprobe=k it equals exact brute force over
    the live vectors — the centroid-independent oracle."""
    from maestro_spark.functions.similarity import cosine
    from maestro_spark.index_maint import MaintainedIvfIndex
    import pyspark.sql.functions as F

    idx = MaintainedIvfIndex(spark, base, str(tmp_path / "ivf"), k=4, iters=3)
    idx.refresh()  # bootstrap (rebuild path, fits centroids)
    cents = idx._meta()["centroids"]

    merge_batch(base, _events(spark, [
        (100, "insert", "c90", _vec(90)),
        (101, "update", "c3", _vec(300)),   # moves c3, likely re-lists
    ]), "q", 1)
    merge_batch(base, _events(spark, [
        (102, "delete", "c7", None),
        (103, "update", "c11", _vec(1100)),
    ]), "q", 2)
    r = idx.refresh()
    assert r is not None and r["to"] == base.snapshot().snapshot_id
    assert idx.refresh() is None  # current -> no-op

    fresh = MaintainedIvfIndex(spark, base, str(tmp_path / "ivf_fresh"), k=4)
    fresh.rebuild(centroids=cents)  # pinned: the equality oracle
    for qseed in (0, 3, 7, 11, 90):
        q = _vec(qseed)
        for nprobe in (1, 2, 4):
            assert _probe_rows_np(idx, q, nprobe) == _probe_rows_np(
                fresh, q, nprobe
            ), (qseed, nprobe)

    # nprobe = k degenerates to exact brute force over live state
    q = _vec(3)
    qcol = F.array(*[F.lit(float(v)) for v in q])
    live = base.read_resolved(columns=["embedding"]).filter(
        ~F.col(S.DELETED_COL) & F.col("embedding").isNotNull()
    )
    brute = [
        (r["conv_id"], round(r["score"], 9))
        for r in live.select(
            "conv_id", cosine(F.col("embedding"), qcol).alias("score")
        ).orderBy(F.col("score").desc(), "conv_id", "turn_idx").limit(5).collect()
    ]
    assert _probe_rows_np(idx, q, nprobe=4) == brute

    # deleted key never surfaces; updated key ranks by its NEW vector
    got = {r["conv_id"] for r in idx.topk(_vec(7), 40, nprobe=4).collect()}
    assert "c7" not in got
    top_new = idx.topk(_vec(300), 1, nprobe=4).head()
    assert top_new["conv_id"] == "c3" and top_new["score"] > 0.99


def _probe_rows_np(idx, q, nprobe, k=5):
    return [
        (r["conv_id"], round(r["score"], 9))
        for r in idx.topk(q, k, nprobe=nprobe).collect()
    ]


def test_maintained_ivf_probe_is_partition_pruned_and_crash_idempotent(
    spark, tmp_path, base
):
    import contextlib
    import io as _io

    from maestro_spark.index_maint import MaintainedIvfIndex

    idx = MaintainedIvfIndex(spark, base, str(tmp_path / "ivf_p"), k=4, iters=3)
    idx.refresh()
    cents = idx._meta()["centroids"]

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.topk(_vec(5), 3, nprobe=2).explain(True)
    s = buf.getvalue()
    assert "PartitionFilters" in s and "_list" in s

    # crash after appends, before the marker: the range re-applies; the
    # (key, lsn)-idempotent duplicates collapse in the probe's max-LSN dedupe
    merge_batch(base, _events(spark, [(200, "update", "c5", _vec(500))]), "q", 1)
    real = idx._mark
    idx._mark = lambda frm, to: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError, match="crash"):
        idx.refresh()
    idx._mark = real
    idx.refresh()  # resume

    fresh = MaintainedIvfIndex(spark, base, str(tmp_path / "ivf_pf"), k=4)
    fresh.rebuild(centroids=cents)
    for qseed in (5, 500, 9):
        assert _probe_rows_np(idx, _vec(qseed), 4) == _probe_rows_np(
            fresh, _vec(qseed), 4
        )


def test_stream_ingest_maintains_index_continuously(spark, tmp_path):
    """Composability: maintained indexes share the IVM view's refresh()
    contract, so stream_ingest(maintain_views=[...]) keeps an ANN index
    fresh as epochs stream in — after the drain the index probes equal a
    fresh rebuild over the final table state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maestro_spark.index_maint import MaintainedIvfIndex
    from maestro_spark.stream import stream_ingest

    # a tiny event log with an embedding payload column, two segments
    log = tmp_path / "vlog"
    log.mkdir()
    def seg(path, rows):
        t = pa.table({
            "op_lsn": pa.array([r[0] for r in rows], pa.int64()),
            "op": pa.array([r[1] for r in rows]),
            "conv_id": pa.array([r[2] for r in rows]),
            "turn_idx": pa.array([0] * len(rows), pa.int32()),
            "embedding": pa.array([r[3] for r in rows], pa.list_(pa.float32())),
        })
        pq.write_table(t, path)
    seg(str(log / "segment-00000.parquet"),
        [(i + 1, "insert", f"c{i}", _vec(i)) for i in range(30)])
    seg(str(log / "segment-00001.parquet"),
        [(100, "update", "c3", _vec(300)), (101, "delete", "c7", None),
         (102, "insert", "c90", _vec(90))])

    root = str(tmp_path / "vstream_lake")
    base = LakeTable.create(spark, root, n_buckets=4, payload_schema=PAYLOAD)
    idx = MaintainedIvfIndex(spark, base, str(tmp_path / "sidx"), k=4, iters=3)
    stream_ingest(
        spark, str(log), root, query_id="vi", watermark=None,
        max_segments_per_batch=1, maintain_views=[idx],
    )
    assert idx.refresh() is None  # already current: maintained per epoch

    fresh = MaintainedIvfIndex(spark, base, str(tmp_path / "sidx_f"), k=4)
    fresh.rebuild(centroids=idx._meta()["centroids"])
    for qseed in (3, 7, 90, 5):
        assert _probe_rows_np(idx, _vec(qseed), 4) == _probe_rows_np(
            fresh, _vec(qseed), 4
        )
    got = {r["conv_id"] for r in idx.topk(_vec(7), 40, nprobe=4).collect()}
    assert "c7" not in got


def test_maintained_text_index_search_equals_rebuild(spark, tmp_path):
    """Inverted term index (M40): search() equals a fresh-rebuild probe AND
    the tokenizer ground truth over base's CURRENT live rows across
    insert/update/delete epochs; exactly one term-bucket partition is
    scanned; crash-idempotent re-apply collapses in the probe."""
    import contextlib
    import datetime as dt
    import io

    import pyspark.sql.functions as F

    from maestro_spark.index_maint import MaintainedTextIndex

    TS = dt.datetime(2025, 1, 1)
    TXT = {
        "d0": "spark shuffle exchange spark spark",
        "d1": "parquet footers and zone maps",
        "d2": "spark catalyst optimizer",
        "d3": "unrelated prose about gardens",
    }
    base = LakeTable.create(spark, str(tmp_path / "ti_lake"), n_buckets=4)
    merge_batch(base, spark.createDataFrame(
        [(i + 1, "insert", k, 0, None, v, None, TS)
         for i, (k, v) in enumerate(sorted(TXT.items()))],
        S.CHANGE_EVENT_SCHEMA), "q", 0)

    idx = MaintainedTextIndex(spark, base, str(tmp_path / "ti_idx"),
                              n_buckets=8)
    idx.refresh()  # bootstrap = rebuild

    # epoch 1: update drops 'spark' from d2, delete d1, insert d9 with it
    merge_batch(base, spark.createDataFrame(
        [(10, "update", "d2", 0, None, "tungsten codegen only", None, TS),
         (11, "delete", "d1", 0, None, None, None, TS),
         (12, "insert", "d9", 0, None, "spark spark streaming", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    r = idx.refresh()
    assert r is not None and idx.refresh() is None  # cursor is current

    def ground_truth(term):
        toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                        lambda x: x != F.lit(""))
        g = (base.read().withColumn("term", F.explode(toks))
             .filter(F.col("term") == term)
             .groupBy("conv_id", "turn_idx").count())
        return {(r["conv_id"], r["turn_idx"]): r["count"] for r in g.collect()}

    for term in ("spark", "parquet", "codegen", "absent"):
        got = {(r["conv_id"], r["turn_idx"]): r["tf"]
               for r in idx.search(term).collect()}
        assert got == ground_truth(term), term
    assert {r["conv_id"] for r in idx.search("spark").collect()} == {"d0", "d9"}
    top = idx.search("spark", k=1).head()
    assert (top["conv_id"], top["tf"]) == ("d0", 3)  # tf ranking

    # probe ≡ fresh rebuild over current state
    idx2 = MaintainedTextIndex(spark, base, str(tmp_path / "ti_idx2"),
                               n_buckets=8)
    idx2.rebuild()
    assert sorted(map(tuple, idx.search("spark").collect())) == \
        sorted(map(tuple, idx2.search("spark").collect()))

    # exactly one term-bucket partition is scanned
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.search("spark").explain(True)
    s = buf.getvalue()
    assert "PartitionFilters" in s and "_tb" in s

    # crash-idempotence: re-apply the last range (marker removed), then
    # refresh again — duplicates collapse in the probe's max-LSN dedupe
    import os as _os
    marks = [f for f in _os.listdir(idx.dir) if f.startswith("_applied-")]
    _os.unlink(_os.path.join(idx.dir, sorted(marks)[-1]))
    assert idx.refresh() is not None
    got = {(r["conv_id"], r["turn_idx"]): r["tf"]
           for r in idx.search("spark").collect()}
    assert got == ground_truth("spark")

    # validation: multi-token probes and unbuilt indexes are refused clearly
    import pytest
    with pytest.raises(ValueError, match="one token"):
        idx.search("two words")
    unbuilt = MaintainedTextIndex(spark, base, str(tmp_path / "ti_none"))
    with pytest.raises(ValueError, match="not built"):
        unbuilt.search("spark")


def test_text_index_search_all_and_semantics(spark, tmp_path):
    """AND search: keys containing EVERY query token, summed-tf ranked,
    exact under updates/deletes (stale rows can neither satisfy nor break
    the AND); equals the tokenizer ground truth."""
    import datetime as dt

    import pyspark.sql.functions as F
    import pytest

    from maestro_spark.index_maint import MaintainedTextIndex

    TS = dt.datetime(2025, 1, 1)
    base = LakeTable.create(spark, str(tmp_path / "ta_lake"), n_buckets=2)
    merge_batch(base, spark.createDataFrame(
        [(1, "insert", "d0", 0, None, "spark shuffle spark", None, TS),
         (2, "insert", "d1", 0, None, "spark only here", None, TS),
         (3, "insert", "d2", 0, None, "shuffle only here", None, TS),
         (4, "insert", "d3", 0, None, "spark and shuffle together", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 0)
    idx = MaintainedTextIndex(spark, base, str(tmp_path / "ta_idx"), n_buckets=8)
    idx.refresh()

    got = {(r["conv_id"], r["tf"]) for r in idx.search_all("spark shuffle").collect()}
    assert got == {("d0", 3), ("d3", 2)}  # both terms required, tf summed
    # an update that REMOVES one term must drop the key from the AND
    merge_batch(base, spark.createDataFrame(
        [(9, "update", "d3", 0, None, "spark alone now", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    idx.refresh()
    assert [r["conv_id"] for r in idx.search_all("spark shuffle").collect()] == ["d0"]
    # ground truth cross-check for a single-token degenerate query
    assert {r["conv_id"] for r in idx.search_all("spark").collect()} == \
        {r["conv_id"] for r in idx.search("spark").collect()}
    with pytest.raises(ValueError, match="at least one"):
        idx.search_all("...")


def test_text_index_bm25_matches_python_oracle_across_epochs(spark, tmp_path):
    """BM25 ranking (r5): scores equal a pure-Python BM25 over base's
    CURRENT live rows (same tokenizer, Robertson idf, k1=1.2 b=0.75) across
    insert/update/delete epochs; OR and AND modes; probe ≡ fresh rebuild."""
    import datetime as dt
    import math
    import re as _re

    import pyspark.sql.functions as F

    from maestro_spark.index_maint import MaintainedTextIndex

    TS = dt.datetime(2025, 1, 1)
    base = LakeTable.create(spark, str(tmp_path / "bm_lake"), n_buckets=4)
    merge_batch(base, spark.createDataFrame(
        [(1, "insert", "d0", 0, None, "spark shuffle exchange spark spark", None, TS),
         (2, "insert", "d1", 0, None, "parquet zone maps and spark", None, TS),
         (3, "insert", "d2", 0, None, "catalyst optimizer spark shuffle", None, TS),
         (4, "insert", "d3", 0, None, "gardens and prose", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 0)
    idx = MaintainedTextIndex(spark, base, str(tmp_path / "bm_idx"), n_buckets=8)
    idx.refresh()
    merge_batch(base, spark.createDataFrame(
        [(10, "update", "d3", 0, None, "spark spark spark shuffle", None, TS),
         (11, "delete", "d1", 0, None, None, None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    idx.refresh()

    def py_bm25(query, mode, k1=1.2, b=0.75):
        docs = {(r["conv_id"], r["turn_idx"]):
                [t for t in _re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
                for r in base.read().collect() if r["text"] is not None}
        toks = sorted({t for t in _re.split(r"[^a-z0-9]+", query.lower()) if t})
        n = len(docs)
        avgdl = sum(map(len, docs.values())) / n
        out = {}
        for key, words in docs.items():
            hit_terms = [t for t in toks if t in words]
            if not hit_terms or (mode == "and" and len(hit_terms) < len(toks)):
                continue
            s = 0.0
            for t in hit_terms:
                df = sum(1 for w in docs.values() if t in w)
                idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                tf = words.count(t)
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(words) / avgdl))
            out[key] = round(s, 6)
        return out

    for query, mode in (("spark shuffle", "or"), ("spark shuffle", "and"),
                        ("parquet", "or"), ("absent words", "or")):
        got = {(r["conv_id"], r["turn_idx"]): r["score"]
               for r in idx.search_bm25(query, mode=mode).collect()}
        exp = py_bm25(query, mode)
        assert set(got) == set(exp), (query, mode, got, exp)
        for key in exp:
            assert abs(got[key] - exp[key]) < 1e-5, (query, mode, key)

    # probe ≡ fresh rebuild
    idx2 = MaintainedTextIndex(spark, base, str(tmp_path / "bm_idx2"), n_buckets=8)
    idx2.rebuild()
    assert sorted(map(tuple, idx.search_bm25("spark shuffle").collect())) == \
        sorted(map(tuple, idx2.search_bm25("spark shuffle").collect()))
    # top-1 under OR: d3 (spark x3 + shuffle, short doc)
    assert idx.search_bm25("spark shuffle", k=1).head()["conv_id"] == "d3"
    import pytest
    with pytest.raises(ValueError, match="mode"):
        idx.search_bm25("spark", mode="xor")


def test_text_index_phrase_search_exact(spark, tmp_path):
    """Phrase search: adjacency + order under the index tokenizer, exact
    vs a Python regex over live text; index candidates prune the base
    read; updates/deletes respected; a v1 (pre-BM25) index upgrades."""
    import datetime as dt
    import json as _json
    import os as _os

    import pyspark.sql.functions as F

    from maestro_spark.index_maint import _TXT_META, MaintainedTextIndex

    TS = dt.datetime(2025, 1, 1)
    base = LakeTable.create(spark, str(tmp_path / "ph_lake"), n_buckets=4)
    merge_batch(base, spark.createDataFrame(
        [(1, "insert", "d0", 0, None, "the zone maps prune files", None, TS),
         (2, "insert", "d1", 0, None, "maps zone the — zone maps, zone maps!", None, TS),
         (3, "insert", "d2", 0, None, "zone of maps", None, TS),
         (4, "insert", "d3", 0, None, "ZONE  MAPS (case and runs)", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 0)
    idx = MaintainedTextIndex(spark, base, str(tmp_path / "ph_idx"), n_buckets=8)
    idx.refresh()

    got = {(r["conv_id"], r["turn_idx"]): r["n_occurrences"]
           for r in idx.search_phrase("zone maps").collect()}
    assert got == {("d0", 0): 1, ("d1", 0): 2, ("d3", 0): 1}, got

    # delete a hit, update another to break the phrase -> both vanish
    merge_batch(base, spark.createDataFrame(
        [(10, "delete", "d1", 0, None, None, None, TS),
         (11, "update", "d3", 0, None, "zone then maps", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    idx.refresh()
    got = {(r["conv_id"], r["turn_idx"]): r["n_occurrences"]
           for r in idx.search_phrase("zone maps").collect()}
    assert got == {("d0", 0): 1}, got
    assert idx.search_phrase("absent phrase").count() == 0

    # a v1 meta (pre-BM25 layout) upgrades via rebuild on next refresh
    meta = _os.path.join(idx.dir, _TXT_META)
    m = _json.load(open(meta)); m.pop("v"); _json.dump(m, open(meta, "w"))
    merge_batch(base, spark.createDataFrame(
        [(12, "insert", "d9", 0, None, "zone maps again", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 2)
    r = idx.refresh()
    assert r and r.get("rebuild")
    assert ("d9", 0) in {(x["conv_id"], x["turn_idx"])
                         for x in idx.search_phrase("zone maps").collect()}


def test_maintained_value_index_lookup_equals_scan(spark, tmp_path):
    """Exact-value secondary index (M54): lookup() equals a full-scan
    equality filter over base's CURRENT live rows across
    insert/update/delete epochs; values are opaque (never tokenized or
    lowercased, NULLs unindexed); the probe scans ONE partition; ranked
    modes refuse; the SQL surface (CREATE INDEX USING value + SEARCH)
    routes with MODE term as the default."""
    import contextlib
    import datetime as dt
    import io

    import pyspark.sql.functions as F

    from maestro_spark.index_maint import MaintainedValueIndex

    TS = dt.datetime(2025, 1, 1)
    base = LakeTable.create(spark, str(tmp_path / "vi_lake"), n_buckets=4)
    merge_batch(base, spark.createDataFrame(
        [(1, "insert", "d0", 0, "user", "t0", "Web Search", TS),
         (2, "insert", "d1", 0, "user", "t1", "calculator", TS),
         (3, "insert", "d2", 0, "user", "t2", None, TS),
         (4, "insert", "d3", 0, "user", "t3", "Web Search", TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 0)

    idx = MaintainedValueIndex(spark, base, str(tmp_path / "vi_idx"),
                               value_col="tool", n_buckets=8)
    idx.refresh()

    # epoch 1: update moves d3 off the value, delete d1, insert d9 onto it
    merge_batch(base, spark.createDataFrame(
        [(10, "update", "d3", 0, "user", "t3", "compiler", TS),
         (11, "delete", "d1", 0, None, None, None, TS),
         (12, "insert", "d9", 0, "user", "t9", "Web Search", TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    assert idx.refresh() is not None and idx.refresh() is None

    def ground_truth(value):
        g = base.read().filter(F.col("tool") == value)
        return {(r["conv_id"], r["turn_idx"]) for r in g.collect()}

    for v in ("Web Search", "calculator", "compiler", "absent"):
        got = {(r["conv_id"], r["turn_idx"]) for r in idx.lookup(v).collect()}
        assert got == ground_truth(v), v
    assert {r["conv_id"] for r in idx.lookup("Web Search").collect()} == {
        "d0", "d9"}
    # values are OPAQUE: no lowercasing, no tokenization
    assert idx.lookup("web search").count() == 0
    # NULL is not indexed and a None probe matches nothing
    assert idx.lookup("None").count() == 0

    # exactly one value-bucket partition is scanned
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.lookup("Web Search").explain(True)
    s = buf.getvalue()
    assert "PartitionFilters" in s and "_tb" in s

    # lookup_rows: full rows via a bucket-pruned, key-semi-joined base
    # read — equals the full-scan filter, pruned columns honored
    rows = {(r["conv_id"], r["text"])
            for r in idx.lookup_rows("Web Search", columns=["text"]).collect()}
    assert rows == {("d0", "t0"), ("d9", "t9")}
    assert idx.lookup_rows("absent").count() == 0

    # ranked/linguistic retrieval refuses with the reason
    with pytest.raises(ValueError, match="exact lookups"):
        idx.search_bm25("Web Search")
    with pytest.raises(ValueError, match="exact lookups"):
        idx.search_phrase("Web Search")

    # SQL surface: CREATE INDEX … USING value, SEARCH defaults to MODE term
    base.sql("CREATE INDEX tools ON t USING value (tool)", name="t")
    got = base.sql("SEARCH tools FOR 'Web Search'", name="t")
    assert {r["conv_id"] for r in got.collect()} == {"d0", "d9"}
    with pytest.raises(ValueError, match="exact lookups"):
        base.sql("SEARCH tools FOR 'Web Search' MODE bm25", name="t")

    # COMPOSITE value index: one term per (role, tool) tuple, nulls in any
    # component unindexed, one-partition probes, arity-checked lookups
    merge_batch(base, spark.createDataFrame(
        [(20, "update", "d0", 0, "assistant", "t0", "Web Search", TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 2)
    comp = MaintainedValueIndex(spark, base, str(tmp_path / "vi_comp"),
                                value_col=["role", "tool"], n_buckets=8)
    comp.refresh()

    def truth2(role, tool):
        g = base.read().filter((F.col("role") == role) & (F.col("tool") == tool))
        return {(r["conv_id"], r["turn_idx"]) for r in g.collect()}

    for role, tool in (("user", "Web Search"), ("assistant", "Web Search"),
                       ("user", "compiler"), ("x", "y")):
        got2 = {(r["conv_id"], r["turn_idx"])
                for r in comp.lookup(role, tool).collect()}
        assert got2 == truth2(role, tool), (role, tool)
    assert comp.lookup(("user", "Web Search")).count() == 1  # tuple form
    assert comp.lookup("user", None).count() == 0            # SQL NULL equality
    with pytest.raises(ValueError, match="2 value"):
        comp.lookup("user")
    # d2 (tool NULL) is not indexed under any tuple
    assert comp.lookup("user", "None").count() == 0

    # SQL: composite CREATE routes; a quoted value LIST probes the tuple
    base.sql("CREATE INDEX rt ON t USING value (role, tool)", name="t")
    from maestro_spark.index_maint import load_index
    rt = load_index(spark, base.root.rstrip("/") + "__idx_rt", base=base)
    assert rt.value_cols == ["role", "tool"]
    assert {r["conv_id"] for r in rt.lookup("user", "Web Search").collect()} \
        == {r["conv_id"] for r in comp.lookup("user", "Web Search").collect()}
    got3 = base.sql("SEARCH rt FOR 'user', 'Web Search'", name="t")
    assert {r["conv_id"] for r in got3.collect()} == \
        {r["conv_id"] for r in comp.lookup("user", "Web Search").collect()}
    with pytest.raises(ValueError, match="2 value"):
        base.sql("SEARCH rt FOR 'user'", name="t")  # arity-checked
    with pytest.raises(ValueError, match="MODE term only"):
        base.sql("SEARCH rt FOR 'user', 'x' MODE bm25", name="t")
    with pytest.raises(ValueError, match="1 value"):
        base.sql("SEARCH tools FOR 'a', 'b' MODE term", name="t")  # 1-col idx
    base.sql("CREATE INDEX ti ON t USING text (text)", name="t")
    with pytest.raises(ValueError, match="takes one"):
        base.sql("SEARCH ti FOR 'a', 'b'", name="t")  # text: no tuples
    with pytest.raises(ValueError, match="exactly one column"):
        base.sql("CREATE INDEX bad ON t USING text (role, tool)", name="t")


def test_cli_search_subcommand(spark, tmp_path, capsys, monkeypatch):
    """CLI `search`: builds/refreshes a maintained text index next to the
    table and serves all four probe modes; a follow-up --no-refresh probe
    after new commits sees the stale index (proving the flag skips the
    refresh), and a plain re-run picks the new doc up."""
    import json as _json

    from maestro_spark.__main__ import main

    TS = dt.datetime(2025, 1, 1)
    base = LakeTable.create(spark, str(tmp_path / "cli_lake"), n_buckets=4)
    merge_batch(base, spark.createDataFrame(
        [(1, "insert", "d0", 0, None, "zone maps prune files", None, TS),
         (2, "insert", "d1", 0, None, "zone maps and blooms", None, TS),
         (3, "insert", "d2", 0, None, "unrelated prose", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 0)

    # the CLI stops its session on exit; the test session must survive
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    def run(*argv):
        assert main(list(argv)) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    out = run("search", base.root, "zone maps", "--mode", "phrase")
    assert out["hits"] == 2 and out["index"].endswith("_text_idx")
    assert run("search", base.root, "blooms", "--mode", "term")["hits"] == 1
    assert run("search", base.root, "zone blooms", "--mode", "and")["hits"] == 1
    assert run("search", base.root, "zone maps", "--mode", "bm25")["hits"] == 2

    merge_batch(base, spark.createDataFrame(
        [(4, "insert", "d9", 0, None, "zone maps zone maps", None, TS)],
        S.CHANGE_EVENT_SCHEMA), "q", 1)
    stale = run("search", base.root, "zone maps", "--mode", "phrase",
                "--no-refresh")
    assert stale["hits"] == 2  # refresh skipped: new doc invisible
    fresh = run("search", base.root, "zone maps", "--mode", "phrase")
    assert fresh["hits"] == 3


# ------------------------------------------ one contract, every index kind
CONTRACT_PAYLOAD = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
])
CONTRACT_EVENT = T.StructType([
    T.StructField("op_lsn", T.LongType(), False),
    T.StructField("op", T.StringType(), False),
    *CONTRACT_PAYLOAD.fields,
])
# small layouts, and probes that visit every partition, so each probe
# returns every live key the index knows
CONTRACT_PARAMS = {
    "text": {"n_buckets": 4},
    "value": {"n_buckets": 4},
    "simhash": {},
    "lsh": {"n_bits": 4, "prefix_bits": 2},
    "ivf": {"k": 3, "iters": 2},
}


def _contract_events(spark, rows):
    """rows: (lsn, op, conv_id, seed_or_None) — text, tool and vector
    all derive from the seed."""
    return spark.createDataFrame(
        [(lsn, op, cid, 0,
          None if s is None else f"alpha w{s % 3}",
          None if s is None else f"t{s % 3}",
          None if s is None else _vec(s))
         for (lsn, op, cid, s) in rows],
        CONTRACT_EVENT,
    )


def _contract_probe(kind, idx) -> list[tuple]:
    if kind == "text":
        rows = idx.search_bm25("alpha w1").collect()
    elif kind == "value":
        rows = [(v, *r) for v in ("t0", "t1", "t2")
                for r in idx.lookup(v).orderBy(*S.KEY_COLS).collect()]
    elif kind == "simhash":
        rows = sorted(idx.near_pairs(max_hamming=3).collect())
    elif kind == "lsh":
        rows = idx.topk(_vec(1), 100, multiprobe_hamming=4).collect()
    else:
        rows = idx.topk(_vec(1), 100, nprobe=3).collect()
    return [tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in rows]


def _mentions(rows, conv_id) -> bool:
    return any(conv_id in " ".join(map(str, r)).split() for r in rows)


@pytest.fixture()
def overwrite_crash(monkeypatch):
    """``arm("before" | "after")`` crashes every Spark overwrite write
    before it runs or after it finished; ``arm(None)`` disarms. It patches
    the writer, so it hits every kind's rebuild."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_mode, real_parquet = DataFrameWriter.mode, DataFrameWriter.parquet

    def arm(when):
        def mode(self, save_mode):
            if save_mode == "overwrite":  # parquet() re-calls mode(None)
                if when == "before":
                    raise RuntimeError("crash")
                self._crash = True
            return real_mode(self, save_mode)

        def parquet(self, *a, **kw):
            real_parquet(self, *a, **kw)
            if getattr(self, "_crash", False):
                raise RuntimeError("crash")

        monkeypatch.setattr(DataFrameWriter, "mode", mode if when else real_mode)
        monkeypatch.setattr(DataFrameWriter, "parquet",
                            parquet if when else real_parquet)

    return arm


@pytest.mark.parametrize("kind", sorted(CONTRACT_PARAMS))
def test_every_index_kind_keeps_the_refresh_contract(
    spark, tmp_path, kind, overwrite_crash
):
    """Every kind in INDEX_KINDS: a refresh over an empty table, bootstrap,
    an update epoch and a delete epoch, then a probe equal to a fresh
    rebuild; a crash before the range marker resumes to the same answer;
    a crash inside rebuild() — before or after its overwrite — never lets
    the deleted key surface again."""
    from maestro_spark.index_maint import INDEX_KINDS

    cls, params = INDEX_KINDS[kind], CONTRACT_PARAMS[kind]
    base = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=2,
                            payload_schema=CONTRACT_PAYLOAD)
    idx = cls(spark, base, str(tmp_path / "idx"), **params)
    idx.refresh()  # an empty table: nothing to fit yet, or an empty index
    merge_batch(base, _contract_events(spark, [
        (i + 1, "insert", f"c{i}", i) for i in range(12)
    ]), "q", 0)
    n_fresh = iter(range(100))

    def assert_equals_fresh():
        fresh = cls(spark, base, str(tmp_path / f"fresh{next(n_fresh)}"),
                    **params)
        fresh.rebuild()
        got = _contract_probe(kind, idx)
        assert got and got == _contract_probe(kind, fresh)
        return got

    assert idx.refresh()["to"] == base.snapshot().snapshot_id  # bootstrap
    merge_batch(base, _contract_events(spark, [
        (100, "update", "c3", 301), (101, "insert", "c20", 20),
    ]), "q", 1)
    assert "rebuild" not in idx.refresh()
    merge_batch(base, _contract_events(spark, [
        (102, "delete", "c7", None),
    ]), "q", 2)
    assert "rebuild" not in idx.refresh()
    assert idx.refresh() is None
    assert not _mentions(assert_equals_fresh(), "c7")

    # crash after the appends, before the range marker: the resume
    # re-applies the same range, and the duplicates collapse
    merge_batch(base, _contract_events(spark, [
        (103, "update", "c5", 502),
    ]), "q", 3)
    idx._mark = lambda frm, to: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError, match="crash"):
        idx.refresh()
    del idx._mark
    assert idx.refresh()["to"] == base.snapshot().snapshot_id
    assert_equals_fresh()

    # crash inside rebuild(): the next refresh still answers like a fresh
    # rebuild, and the deleted key stays dominated
    for when in ("before", "after"):
        overwrite_crash(when)
        with pytest.raises(RuntimeError, match="crash"):
            idx.rebuild()
        overwrite_crash(None)
        idx.refresh()
        assert not _mentions(assert_equals_fresh(), "c7"), when


def test_export_and_index_cursors_share_the_range_marker_reader(
    spark, tmp_path, base, monkeypatch
):
    """export_changes, reset_export_cursor and an index all derive their
    cursor through ``lake._range_cursor`` and publish through
    ``lake._mark_range``; markers already on disk load unchanged."""
    import json as _json
    import os as _os

    from maestro_spark import lake as L

    reads, marks = [], []
    real_read, real_mark = L._range_cursor, L._mark_range
    monkeypatch.setattr(L, "_range_cursor", lambda root, prefix: (
        reads.append(prefix) or real_read(root, prefix)))
    monkeypatch.setattr(L, "_mark_range", lambda root, prefix, *a, **kw: (
        marks.append(prefix) or real_mark(root, prefix, *a, **kw)))

    dest = str(tmp_path / "export")
    tip = base.snapshot().snapshot_id
    assert base.export_changes(dest)["to"] == tip
    idx = MaintainedLshIndex(spark, base, str(tmp_path / "cur_idx"))
    idx.refresh()
    assert idx.applied_through() == tip
    assert {"_exported", "_applied"} <= set(reads)
    assert {"_exported", "_applied"} <= set(marks)

    merge_batch(base, _events(spark, [(300, "update", "c1", _vec(301))]), "q", 1)
    reads.clear()
    r = base.reset_export_cursor(dest)
    assert r == {"from": tip, "to": tip + 1, "rebaseline": True}
    assert reads and set(reads) == {"_exported"}
    name = f"_exported-{tip:013d}-{tip + 1:013d}.json"
    assert _json.load(open(_os.path.join(dest, name))) == {
        "from": tip, "to": tip + 1, "path": None, "rebaseline": True}
    assert sorted(f for f in _os.listdir(idx.dir) if f.startswith("_applied-")
                  ) == [f"_applied-{0:013d}-{tip:013d}.json"]

    # a marker written by hand in the on-disk layout moves both cursors
    for root, prefix in ((dest, "_exported"), (idx.dir, "_applied")):
        with open(_os.path.join(root, f"{prefix}-{tip + 1:013d}-{99:013d}.json"),
                  "w") as fh:
            _json.dump({"from": tip + 1, "to": 99}, fh)
    assert idx.applied_through() == 99
    assert base.export_changes(dest)["to"] == 99  # cursor past the tip: no-op


# Spark jobs of one rebuild and one refresh per kind, on the table below.
# Each resolves its input once (rebuild: the live rows; refresh: the change
# feed) into a local checkpoint that every later job reads, so a k-means
# pass or a second write no longer re-resolves the base.
JOBS_PER_CALL = {
    "ivf": {"rebuild": 10, "refresh": 4},
    "lsh": {"rebuild": 4, "refresh": 4},
    "simhash": {"rebuild": 4, "refresh": 5},
    "text": {"rebuild": 5, "refresh": 6},
    "value": {"rebuild": 5, "refresh": 6},
}


@pytest.mark.parametrize("kind", sorted(CONTRACT_PARAMS))
def test_refresh_and_rebuild_run_a_pinned_number_of_jobs(spark, tmp_path, kind):
    from maestro_spark.index_maint import INDEX_KINDS

    sc = spark.sparkContext
    base = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=2,
                            payload_schema=CONTRACT_PAYLOAD)
    merge_batch(base, _contract_events(spark, [
        (i + 1, "insert", f"c{i}", i) for i in range(12)
    ]), "q", 0)
    merge_batch(base, _contract_events(spark, [
        (100, "update", "c3", 301), (101, "insert", "c20", 20),
    ]), "q", 1)
    idx = INDEX_KINDS[kind](spark, base, str(tmp_path / "idx"),
                            **CONTRACT_PARAMS[kind])

    def jobs(call) -> int:
        group = f"index-{kind}-{call.__name__}"
        sc.setJobGroup(group, group)
        try:
            assert call() is not None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    got = {"rebuild": jobs(idx.rebuild)}
    merge_batch(base, _contract_events(spark, [
        (102, "delete", "c7", None), (103, "update", "c5", 502),
    ]), "q", 2)
    got["refresh"] = jobs(idx.refresh)
    assert got == JOBS_PER_CALL[kind]
