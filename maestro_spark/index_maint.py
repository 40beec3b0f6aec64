"""Change-feed-maintained ANN index over a LakeTable (r2 verdict #5).

``MaintainedLshIndex`` keeps a persisted LSH signature index (the
``_bucket=<p>/`` parquet layout of ``similarity.build_lsh_index``) in sync
with a transcript LakeTable that carries a vector payload column, driven by
:meth:`LakeTable.changes` — the same delta-not-rebuild discipline the IVM
view uses, pointed at an index instead of an aggregate:

- **refresh = O(delta)**: each refresh appends signature rows ONLY for the
  keys the feed names (signatures are a pure function of vector +
  hyperplanes, so the bucket layout — and probe partition pruning — is
  untouched), never re-hashing the corpus;
- **updates/deletes via LSN dominance, not in-place edits**: an updated
  vector's new signature may land in a DIFFERENT bucket than its stale row,
  and the feed's delete events carry no vector to locate the old bucket —
  so every feed event also lands one row in a small ``_tombstones/`` side
  table ``(key, lsn)``, and probes drop any candidate row an
  equal-or-newer tombstone dominates (``tomb.lsn > row._lsn``). This is
  the lake's own max-LSN rule transplanted to the index;
- **probe = pruned scan + dominance filter + exact re-rank**: candidate
  buckets via Catalyst partition pruning (dir-level), per-key max-LSN
  dedupe AMONG candidates (bounded by the probe, not the corpus), a
  broadcast anti-join against the tombstone side table, cosine re-rank.
  Results equal a probe of a FRESH rebuild over the base's current state —
  asserted by tests;
- **cursor + idempotence**: the applied-through cursor derives from
  append-only ``_applied-<from>-<to>.json`` markers (the export_changes
  pattern — monotone by construction). A crash between the data appends
  and the marker re-applies the same range on the next refresh; that is
  harmless because index rows are (key, lsn)-idempotent — duplicates
  collapse in the probe's max-LSN dedupe — and is reclaimed by the next
  :meth:`rebuild`.

Periodic :meth:`rebuild` (full, from base current state) is the
compaction of this structure: it folds away dominated rows, duplicate
re-applies, and tombstones; between rebuilds every refresh is delta-sized.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from maestro_spark import schema as S
from maestro_spark.dedup import dedup_max_lsn
from maestro_spark.functions.similarity import (
    _projection_vector,
    _query_signature,
    cosine,
    lsh_signature,
    probe_buckets,
)
from maestro_spark.lake import LakeTable

_META = "_maint_lsh_meta.json"
_TOMBS = "_tombstones"
_SH_META = "_maint_simhash_meta.json"


def _append_tombstones(index_dir: str, feed: DataFrame) -> None:
    """One ``(key, t_lsn)`` row per change-feed event into the index's
    ``_tombstones/`` side table: EVERY event dominates older index rows of
    its key (an update's new row survives its own tombstone, see
    :func:`_anti_tombstones`)."""
    (
        feed.select(*S.KEY_COLS, F.col("lsn").alias("t_lsn"))
        .write.mode("append")
        .parquet(os.path.join(index_dir, _TOMBS))
    )


def _anti_tombstones(spark: SparkSession, index_dir: str, df: DataFrame) -> DataFrame:
    """Drop rows whose key was deleted/updated past the row's LSN — the
    shared LSN-dominance discipline of every probe: a broadcast anti-join
    against the index's ``_tombstones/`` side table (max ``t_lsn`` per key,
    strict ``>`` so an update's new row survives its own tombstone)."""
    tdir = os.path.join(index_dir, _TOMBS)
    if not os.path.isdir(tdir):
        return df
    tombs = (
        spark.read.parquet(tdir)
        .groupBy(*S.KEY_COLS)
        .agg(F.max("t_lsn").alias("t_lsn"))
        .withColumnRenamed("conv_id", "_t_conv")
        .withColumnRenamed("turn_idx", "_t_turn")
    )
    return df.join(
        F.broadcast(tombs),
        on=(
            (F.col("conv_id") == F.col("_t_conv"))
            & (F.col("turn_idx") == F.col("_t_turn"))
            & (F.col("t_lsn") > F.col(S.LSN_COL))
        ),
        how="left_anti",
    )


class MaintainedLshIndex:
    """Feed-maintained LSH index over ``base``'s ``vec_col`` payload."""

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        index_dir: str,
        vec_col: str = "embedding",
        n_bits: int = 12,
        prefix_bits: int = 8,
        seed: int = 42,
    ):
        self.spark = spark
        self.base = base
        self.dir = index_dir
        self.vec_col = vec_col
        self.n_bits = n_bits
        self.prefix_bits = prefix_bits
        self.seed = seed
        os.makedirs(index_dir, exist_ok=True)

    # ------------------------------------------------------------- plumbing
    def _meta_path(self) -> str:
        return os.path.join(self.dir, _META)

    def _meta(self) -> dict | None:
        p = self._meta_path()
        return json.load(open(p)) if os.path.exists(p) else None

    def _planes(self, dim: int) -> list[list[float]]:
        return [_projection_vector(self.seed + i, dim) for i in range(self.n_bits)]

    def applied_through(self) -> int:
        """Highest base snapshot folded in — max ``to`` over the append-only
        range markers (monotone; same derivation as export_changes)."""
        best = 0
        for f in os.listdir(self.dir):
            m = re.fullmatch(r"_applied-(\d{13})-(\d{13})\.json", f)
            if m:
                best = max(best, int(m.group(2)))
        return best

    def _mark(self, frm: int, to: int) -> None:
        p = os.path.join(self.dir, f"_applied-{frm:013d}-{to:013d}.json")
        try:
            from maestro_spark.lake import _atomic_write_json

            _atomic_write_json(p, {"from": frm, "to": to}, exclusive=True)
        except FileExistsError:
            pass  # racer applied the identical range

    def _sig_append(self, rows: DataFrame, dim: int, mode: str) -> None:
        """rows: (conv_id, turn_idx, <vec_col>, _lsn) → signature rows into
        their bucket dirs (hive partitioning preserved)."""
        sig = lsh_signature(F.col(self.vec_col), self._planes(dim))
        (
            rows.withColumn("_sig", sig)
            .withColumn(
                "_bucket",
                F.shiftrightunsigned(F.col("_sig"), self.n_bits - self.prefix_bits),
            )
            .repartition("_bucket")
            .write.partitionBy("_bucket")
            .mode(mode)
            .parquet(self.dir)
        )

    # -------------------------------------------------------------- refresh
    def refresh(self) -> dict | None:
        """Fold base changes ``(applied_through, tip]`` in. Returns the
        range applied, or None when already current. Falls back to
        :meth:`rebuild` when the feed horizon is gone or the range spans a
        rollback (same degradation contract as the IVM view)."""
        frm = self.applied_through()
        to = self.base.snapshot().snapshot_id
        if to <= frm:
            return None
        if self._meta() is None:
            return self.rebuild()
        try:
            feed = self.base.changes(frm, to)
        except (FileNotFoundError, ValueError):
            return self.rebuild()
        dim = self._meta()["dim"]
        ups = feed.filter(
            (F.col("op") == "upsert") & F.col(self.vec_col).isNotNull()
        ).select(
            *S.KEY_COLS, self.vec_col, F.col("lsn").alias(S.LSN_COL)
        )
        self._sig_append(ups, dim, mode="append")
        _append_tombstones(self.dir, feed)
        self._mark(frm, to)
        return {"from": frm, "to": to}

    def rebuild(self) -> dict:
        """Full rebuild from base current state — the structure's compaction
        (folds dominated rows, duplicate re-applies, and tombstones)."""
        import shutil

        to = self.base.snapshot().snapshot_id
        live = self.base.read_resolved(columns=[self.vec_col]).filter(
            ~F.col(S.DELETED_COL) & F.col(self.vec_col).isNotNull()
        ).select(*S.KEY_COLS, self.vec_col, S.LSN_COL)
        dim = len(
            self.base.read(columns=[self.vec_col])
            .filter(F.col(self.vec_col).isNotNull())
            .head()[self.vec_col]
        )
        shutil.rmtree(os.path.join(self.dir, _TOMBS), ignore_errors=True)
        self._sig_append(live, dim, mode="overwrite")
        json.dump(
            {"dim": dim, "n_bits": self.n_bits, "prefix_bits": self.prefix_bits,
             "seed": self.seed, "vec_col": self.vec_col},
            open(self._meta_path(), "w"),
        )
        self._mark(self.applied_through(), to)
        return {"from": 0, "to": to, "rebuild": True}

    # ---------------------------------------------------------------- probe
    def topk(self, query_vec: list[float], k: int = 10,
             multiprobe_hamming: int = 1) -> DataFrame:
        """Partition-pruned candidate scan → per-key max-LSN dedupe →
        tombstone dominance filter → exact cosine re-rank. Equals a probe
        of a fresh rebuild over base's current state."""
        meta = self._meta()
        planes = self._planes(meta["dim"])
        qsig = _query_signature(query_vec, planes)
        buckets = probe_buckets(qsig, self.n_bits, self.prefix_bits,
                                multiprobe_hamming)
        cand = (
            self.spark.read.parquet(self.dir)
            .filter(F.col("_bucket").isin(buckets))  # -> PartitionFilters
            .filter(
                F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig)))
                <= multiprobe_hamming
            )
        )
        latest = _anti_tombstones(
            self.spark, self.dir, dedup_max_lsn(cand, S.KEY_COLS, S.LSN_COL)
        )
        qcol = F.array(*[F.lit(float(v)) for v in query_vec])
        return (
            latest.select(
                *S.KEY_COLS, cosine(F.col(self.vec_col), qcol).alias("score")
            )
            .orderBy(F.col("score").desc(), *S.KEY_COLS)
            .limit(k)
        )


class MaintainedSimhashIndex:
    """Feed-maintained TEXT near-dup index over ``base``'s ``text_col`` --
    the dedup twin of :class:`MaintainedLshIndex`: banded 64-bit simhash
    rows ``(conv_id, turn_idx, simhash, band, block, _lsn)`` partitioned by
    band (the layout of ``dedup_text.build_simhash_index``), kept in sync
    O(delta) off :meth:`LakeTable.changes` with the same marker-chain
    cursor, LSN-dominance tombstones, and rebuild-as-compaction story.

    :meth:`near_pairs` mines candidate pairs from the stored table --
    equal to ``simhash_near_pairs`` over the base's CURRENT live rows
    (asserted by tests): per-key max-LSN dedupe and the tombstone
    anti-join run on the (8-byte-signature) index rows, never re-tokenizing
    the corpus.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        index_dir: str,
        text_col: str = "text",
        bands: int = 4,
    ):
        assert 64 % bands == 0, "bands must divide 64"
        self.spark = spark
        self.base = base
        self.dir = index_dir
        self.text_col = text_col
        self.bands = bands
        os.makedirs(index_dir, exist_ok=True)

    # ------------------------------------------------------------- plumbing
    applied_through = MaintainedLshIndex.applied_through
    _mark = MaintainedLshIndex._mark

    def _banded_rows(self, rows: DataFrame) -> DataFrame:
        """(conv_id, turn_idx, text, _lsn) -> banded signature rows."""
        from maestro_spark.functions.dedup_text import _banded, simhash

        keyed = rows.withColumn("_key", F.struct(*S.KEY_COLS, S.LSN_COL))
        sig = simhash(keyed, self.text_col, "_key")
        return _banded(sig, self.bands).select(
            F.col("id.conv_id").alias("conv_id"),
            F.col("id.turn_idx").alias("turn_idx"),
            F.col(f"id.{S.LSN_COL}").alias(S.LSN_COL),
            "simhash", "band", "block",
        )

    def _append(self, banded: DataFrame, mode: str) -> None:
        (
            banded.repartition("band")
            .sortWithinPartitions("band", "block")
            .write.partitionBy("band")
            .mode(mode)
            .parquet(self.dir)
        )

    # -------------------------------------------------------------- refresh
    def refresh(self) -> dict | None:
        frm = self.applied_through()
        to = self.base.snapshot().snapshot_id
        if to <= frm:
            return None
        if not os.path.exists(os.path.join(self.dir, _SH_META)):
            return self.rebuild()
        try:
            feed = self.base.changes(frm, to)
        except (FileNotFoundError, ValueError):
            return self.rebuild()
        ups = feed.filter(
            (F.col("op") == "upsert") & F.col(self.text_col).isNotNull()
        ).select(*S.KEY_COLS, self.text_col, F.col("lsn").alias(S.LSN_COL))
        self._append(self._banded_rows(ups), mode="append")
        _append_tombstones(self.dir, feed)
        self._mark(frm, to)
        return {"from": frm, "to": to}

    def rebuild(self) -> dict:
        import shutil

        to = self.base.snapshot().snapshot_id
        live = self.base.read_resolved(columns=[self.text_col]).filter(
            ~F.col(S.DELETED_COL) & F.col(self.text_col).isNotNull()
        ).select(*S.KEY_COLS, self.text_col, S.LSN_COL)
        shutil.rmtree(os.path.join(self.dir, _TOMBS), ignore_errors=True)
        self._append(self._banded_rows(live), mode="overwrite")
        json.dump({"bands": self.bands, "text_col": self.text_col},
                  open(os.path.join(self.dir, _SH_META), "w"))
        self._mark(self.applied_through(), to)
        return {"from": 0, "to": to, "rebuild": True}

    # ----------------------------------------------------------------- mine
    def _live_banded(self) -> DataFrame:
        """Stored banded rows resolved to current state: per-(key, band)
        max-LSN winner minus tombstone-dominated rows. Index rows are tiny
        (key + 3 longs), so this groupBy moves signatures, not text."""
        banded = self.spark.read.parquet(self.dir).select(
            *S.KEY_COLS, "band", "simhash", "block", S.LSN_COL
        )
        return _anti_tombstones(
            self.spark, self.dir,
            dedup_max_lsn(banded, [*S.KEY_COLS, "band"], S.LSN_COL),
        )

    def near_pairs(self, max_hamming: int = 3) -> DataFrame:
        """Near-dup key pairs by banded blocking over the maintained index --
        full recall for hamming < bands (pigeonhole), identical to the
        on-the-fly ``simhash_near_pairs`` over base current state."""
        from maestro_spark.functions.dedup_text import hamming64

        live = self._live_banded().withColumn(
            "_id", F.concat_ws(" ", "conv_id", F.col("turn_idx").cast("string"))
        )
        a, b = live.alias("a"), live.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.block") == F.col("b.block"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
            )
            # refine-before-dedup (same ordering as simhash_near_pairs):
            # only surviving near-dups reach the distinct() exchange
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )


_IVF_META = "_maint_ivf_meta.json"


class MaintainedIvfIndex:
    """Feed-maintained IVF (k-means coarse-quantized) ANN index over
    ``base``'s ``vec_col`` payload — ``similarity.update_ivf_index`` given
    the full :class:`MaintainedLshIndex` treatment (r3 verdict #4):

    - **refresh = O(delta)**: upserted vectors are assigned to the nearest
      EXISTING centroid (pinned in the index meta between rebuilds — the
      standard IVF maintenance story) and appended into their ``_list=<c>``
      dir; the hive layout, hence probe partition pruning, is untouched;
    - **updates/deletes via LSN dominance**: an updated vector's new row may
      land in a DIFFERENT list than its stale row, and a delete carries no
      vector to locate the old list — every feed event therefore also lands
      one ``(key, lsn)`` row in ``_tombstones/``, and probes drop any
      candidate an equal-or-newer tombstone dominates (strict ``>`` so an
      update's own new row survives);
    - **probe**: driver-side list ranking from the meta's k×dim centroids
      (no data IO), partition-pruned scan of the ``nprobe`` nearest lists,
      per-key max-LSN dedupe AMONG candidates, broadcast tombstone
      anti-join, exact cosine re-rank. With pinned centroids the result
      equals a probe of a fresh rebuild over base current state (pytest);
      ``nprobe >= k`` degenerates to exact brute force over live vectors;
    - **cursor + idempotence + rebuild-as-compaction**: identical marker
      chain / crash-replay / tombstone-folding contract as the LSH twin.
      :meth:`rebuild` RE-FITS centroids by default (the drift answer);
      pass ``centroids=`` to pin them (the equality oracle).
    """

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        index_dir: str,
        vec_col: str = "embedding",
        k: int = 16,
        iters: int = 5,
        seed: int = 42,
    ):
        self.spark = spark
        self.base = base
        self.dir = index_dir
        self.vec_col = vec_col
        self.k = k
        self.iters = iters
        self.seed = seed
        os.makedirs(index_dir, exist_ok=True)

    # ------------------------------------------------------------- plumbing
    applied_through = MaintainedLshIndex.applied_through
    _mark = MaintainedLshIndex._mark

    def _meta(self) -> dict | None:
        p = os.path.join(self.dir, _IVF_META)
        return json.load(open(p)) if os.path.exists(p) else None

    def _append(self, rows: DataFrame, cents: list[list[float]], mode: str) -> None:
        from maestro_spark.functions.similarity import _assign_expr

        (
            rows.withColumn("_list", _assign_expr(cents, self.vec_col))
            .repartition("_list")
            .write.partitionBy("_list")
            .mode(mode)
            .parquet(self.dir)
        )

    def _live(self) -> DataFrame:
        return (
            self.base.read_resolved(columns=[self.vec_col])
            .filter(~F.col(S.DELETED_COL) & F.col(self.vec_col).isNotNull())
            .select(*S.KEY_COLS, self.vec_col, S.LSN_COL)
        )

    # -------------------------------------------------------------- refresh
    def refresh(self) -> dict | None:
        """Fold base changes ``(applied_through, tip]`` in (O(delta));
        bootstrap / horizon-expired / rollback ranges degrade to
        :meth:`rebuild`, same as the LSH twin and the IVM view."""
        frm = self.applied_through()
        to = self.base.snapshot().snapshot_id
        if to <= frm:
            return None
        meta = self._meta()
        if meta is None:
            return self.rebuild()
        try:
            feed = self.base.changes(frm, to)
        except (FileNotFoundError, ValueError):
            return self.rebuild()
        ups = feed.filter(
            (F.col("op") == "upsert") & F.col(self.vec_col).isNotNull()
        ).select(*S.KEY_COLS, self.vec_col, F.col("lsn").alias(S.LSN_COL))
        self._append(ups, meta["centroids"], mode="append")
        _append_tombstones(self.dir, feed)
        self._mark(frm, to)
        return {"from": frm, "to": to}

    def rebuild(self, centroids: list[list[float]] | None = None) -> dict:
        """Full rebuild from base current state — folds dominated rows,
        duplicate re-applies, and tombstones. Re-fits centroids unless a
        pinned set is passed."""
        import shutil

        from maestro_spark.functions.similarity import kmeans_fit

        to = self.base.snapshot().snapshot_id
        live = self._live()
        dim = len(live.select(self.vec_col).head()[0])
        if centroids is None:
            fitted = live.withColumn(
                "_kid", F.concat_ws(" ", "conv_id", F.col("turn_idx").cast("string"))
            )
            centroids = kmeans_fit(
                fitted, k=self.k, iters=self.iters, seed=self.seed,
                vec_col=self.vec_col, id_col="_kid",
            )
        shutil.rmtree(os.path.join(self.dir, _TOMBS), ignore_errors=True)
        self._append(live, centroids, mode="overwrite")
        json.dump(
            {"centroids": centroids, "dim": dim, "vec_col": self.vec_col,
             "k": len(centroids), "seed": self.seed},
            open(os.path.join(self.dir, _IVF_META), "w"),
        )
        self._mark(self.applied_through(), to)
        return {"from": 0, "to": to, "rebuild": True}

    # ---------------------------------------------------------------- probe
    def topk(self, query_vec: list[float], k: int = 10, nprobe: int = 2) -> DataFrame:
        """Driver-side list ranking → partition-pruned candidate scan →
        per-key max-LSN dedupe → tombstone dominance filter → exact cosine
        re-rank."""
        meta = self._meta()
        ranked = sorted(
            range(len(meta["centroids"])),
            key=lambda c: sum(
                (q - x) * (q - x) for q, x in zip(query_vec, meta["centroids"][c])
            ),
        )
        lists = ranked[: max(1, nprobe)]
        cand = self.spark.read.parquet(self.dir).filter(
            F.col("_list").isin(lists)  # -> PartitionFilters, dir-pruned
        )
        latest = _anti_tombstones(
            self.spark, self.dir, dedup_max_lsn(cand, S.KEY_COLS, S.LSN_COL)
        )
        qcol = F.array(*[F.lit(float(v)) for v in query_vec])
        return (
            latest.select(
                *S.KEY_COLS, cosine(F.col(self.vec_col), qcol).alias("score")
            )
            .orderBy(F.col("score").desc(), *S.KEY_COLS)
            .limit(k)
        )


_TXT_META = "_maint_text_meta.json"
_DOCLEN = "_doclen"  # per-doc token-count side table (BM25 corpus stats)


class MaintainedTextIndex:
    """Feed-maintained inverted TERM index over ``base``'s ``text_col`` —
    serving-path term search at table scale (M40).

    Layout: rows ``(conv_id, turn_idx, term, tf, _lsn)`` hive-partitioned
    by ``_tb = pmod(xxhash64(term), n_buckets)``, so a probe reads exactly
    ONE term-bucket directory (Catalyst partition pruning; the bucket is
    picked on the driver by the pure-Python XXH64 twin ``keyhash.bucket_of``
    — the same trick as the table's point-lookup path). Maintenance is the
    module's standard contract: O(delta) refresh off
    :meth:`LakeTable.changes`, LSN-dominance tombstones (an updated doc's
    dropped terms are dominated away, its kept terms' new rows survive the
    strict ``>``), append-only range markers for the cursor, rebuild as
    compaction. Probes equal a probe of a FRESH rebuild over base's
    current state — asserted by tests.

    Tokenization is deterministic and engine-portable: lowercase,
    ``[^a-z0-9]+`` splits, empties dropped; ``tf`` = occurrences per
    (key, term) for relevance ordering.

    Retrieval surface (r5): :meth:`search` (single term, tf-ranked),
    :meth:`search_all` (AND, summed tf), :meth:`search_bm25` (OR/AND with
    Robertson-idf BM25 — df derived from the probe's own pruned candidate
    scan, doc length riding the term rows, corpus stats from the O(delta)
    ``_doclen`` side table), :meth:`search_phrase` (adjacency + order,
    exact via candidate-bounded base post-filter).
    """

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        index_dir: str,
        text_col: str = "text",
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.base = base
        self.dir = index_dir
        self.text_col = text_col
        self.n_buckets = n_buckets
        os.makedirs(index_dir, exist_ok=True)

    # ------------------------------------------------------------- plumbing
    applied_through = MaintainedLshIndex.applied_through
    _mark = MaintainedLshIndex._mark

    def _toks_expr(self) -> Column:
        """Token-array Column over ``text_col`` — THE tokenizer, shared by
        the term and doclen writers (subclasses override this and
        :meth:`_tokens` together to change what a 'term' is)."""
        return F.filter(
            F.split(F.lower(F.col(self.text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        )

    def _source_cols(self) -> list[str]:
        """Base columns the tokenizer reads (scan-pruning set)."""
        return [self.text_col]

    def _source_filter(self) -> Column:
        """Rows worth indexing (a NULL text yields no terms anyway — the
        filter just avoids shipping those rows into the explode)."""
        return F.col(self.text_col).isNotNull()

    def _term_rows(self, rows: DataFrame) -> DataFrame:
        """(keys, text, _lsn) → (keys, _lsn, term, tf, dl, _tb) — explode +
        one hash agg, pure codegen. ``dl`` (doc length in tokens) rides
        every term row so BM25's length normalization needs NO join at
        probe time."""
        toks = self._toks_expr()
        return (
            rows.withColumn("_toks", toks)
            .withColumn("dl", F.size("_toks").cast("int"))
            .withColumn("term", F.explode("_toks"))
            .groupBy(*S.KEY_COLS, S.LSN_COL, "dl", "term")
            .agg(F.count("*").cast("int").alias("tf"))
            .withColumn(
                "_tb",
                F.pmod(F.xxhash64("term"), F.lit(self.n_buckets)).cast("int"),
            )
        )

    def _doclen_rows(self, rows: DataFrame) -> DataFrame:
        """(keys, text, _lsn) → one (keys, dl, _lsn) row per doc version —
        the corpus-stats side table (N docs, avg doc length for BM25),
        maintained O(delta) under the same LSN/tombstone discipline."""
        return rows.select(
            *S.KEY_COLS,
            F.size(self._toks_expr()).cast("int").alias("dl"),
            S.LSN_COL,
        )

    def _append(self, terms: DataFrame, mode: str) -> None:
        (
            terms.repartition("_tb")
            .sortWithinPartitions("_tb", "term")
            .write.partitionBy("_tb")
            .mode(mode)
            .parquet(self.dir)
        )

    # -------------------------------------------------------------- refresh
    def refresh(self) -> dict | None:
        meta_path = os.path.join(self.dir, _TXT_META)
        if not os.path.exists(meta_path):
            return self.rebuild()
        if json.load(open(meta_path)).get("v") != 2:
            return self.rebuild()  # pre-BM25 layout (no dl/_doclen): upgrade
        frm = self.applied_through()
        to = self.base.snapshot().snapshot_id
        if to <= frm:
            return None
        try:
            feed = self.base.changes(frm, to)
        except (FileNotFoundError, ValueError):
            return self.rebuild()
        ups = feed.filter(
            (F.col("op") == "upsert") & self._source_filter()
        ).select(
            *S.KEY_COLS, *self._source_cols(), F.col("lsn").alias(S.LSN_COL)
        ).localCheckpoint(eager=True)  # feeds BOTH writes below: scan once
        self._append(self._term_rows(ups), mode="append")
        self._doclen_rows(ups).write.mode("append").parquet(
            os.path.join(self.dir, _DOCLEN)
        )
        _append_tombstones(self.dir, feed)
        self._mark(frm, to)
        return {"from": frm, "to": to}

    def rebuild(self) -> dict:
        import shutil

        to = self.base.snapshot().snapshot_id
        live = self.base.read_resolved(columns=self._source_cols()).filter(
            ~F.col(S.DELETED_COL) & self._source_filter()
        ).select(
            *S.KEY_COLS, *self._source_cols(), S.LSN_COL
        ).localCheckpoint(eager=True)
        shutil.rmtree(os.path.join(self.dir, _TOMBS), ignore_errors=True)
        self._append(self._term_rows(live), mode="overwrite")
        self._doclen_rows(live).write.mode("overwrite").parquet(
            os.path.join(self.dir, _DOCLEN)
        )
        json.dump(
            {"text_col": self.text_col, "n_buckets": self.n_buckets, "v": 2},
            open(os.path.join(self.dir, _TXT_META), "w"),
        )
        self._mark(self.applied_through(), to)
        return {"from": 0, "to": to, "rebuild": True}

    # ---------------------------------------------------------------- probe
    def _tokens(self, text: str) -> list[str]:
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    def _candidates(self, toks: list[str]) -> DataFrame:
        """Live (key, term, tf, dl) rows for the query tokens: one pruned
        scan over the tokens' bucket partitions (≤ n_tokens of n_buckets
        directories), per-(key, term) max-LSN dedupe, tombstone dominance
        — applied BEFORE any completeness/ranking logic so a stale index
        row can neither satisfy nor break a query."""
        from maestro_spark.keyhash import bucket_of

        if not os.path.exists(os.path.join(self.dir, _TXT_META)):
            raise ValueError("text index not built yet — call refresh()")
        buckets = sorted({bucket_of(t, self.n_buckets) for t in toks})
        cand = (
            self.spark.read.parquet(self.dir)
            .filter(F.col("_tb").isin(buckets))
            .filter(F.col("term").isin(toks))
        )
        latest = dedup_max_lsn(
            cand.select(*S.KEY_COLS, "term", "tf", "dl", S.LSN_COL),
            [*S.KEY_COLS, "term"], S.LSN_COL,
        )
        return _anti_tombstones(self.spark, self.dir, latest)

    def search(self, term: str, k: int | None = None) -> DataFrame:
        """Keys of live rows containing ``term``, ordered by tf desc then
        key — ONE partition directory scanned. ``term`` must be a single
        token of the index's tokenizer."""
        toks = self._tokens(term)
        if len(toks) != 1:
            raise ValueError(f"search wants one token, got {toks!r}")
        out = (
            self._candidates(toks)
            .select(*S.KEY_COLS, "tf")
            .orderBy(F.col("tf").desc(), *S.KEY_COLS)
        )
        return out.limit(k) if k else out

    def search_all(self, query: str, k: int | None = None) -> DataFrame:
        """AND search: live rows containing EVERY token of ``query``,
        ranked by summed tf. One pruned scan + one hash agg enforcing
        per-key distinct-term completeness."""
        toks = sorted(set(self._tokens(query)))
        if not toks:
            raise ValueError("search_all wants at least one token")
        out = (
            self._candidates(toks)
            .groupBy(*S.KEY_COLS)
            .agg(
                F.countDistinct("term").alias("_nt"),
                F.sum("tf").cast("long").alias("tf"),
            )
            .filter(F.col("_nt") == len(toks))
            .select(*S.KEY_COLS, "tf")
            .orderBy(F.col("tf").desc(), *S.KEY_COLS)
        )
        return out.limit(k) if k else out

    # ------------------------------------------------------------ BM25 rank
    def corpus_stats(self) -> tuple[int, float]:
        """(N live docs, average doc length) from the ``_doclen`` side
        table — one map-side-combined aggregate over one compact row per
        doc version (NOT the term index), the same LSN/tombstone
        discipline as every probe."""
        ddir = os.path.join(self.dir, _DOCLEN)
        if not os.path.isdir(ddir):
            raise ValueError("text index not built yet — call refresh()")
        latest = dedup_max_lsn(
            self.spark.read.parquet(ddir).select(*S.KEY_COLS, "dl", S.LSN_COL),
            S.KEY_COLS, S.LSN_COL,
        )
        row = (
            _anti_tombstones(self.spark, self.dir, latest)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg(F.col("dl").cast("double")).alias("avgdl"),
            )
            .head()
        )
        return int(row["n"] or 0), float(row["avgdl"] or 0.0)

    def search_bm25(
        self,
        query: str,
        k: int | None = None,
        mode: str = "or",
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """BM25-ranked search (Robertson/Sparck-Jones idf, the
        always-positive ``ln(1 + (N-df+0.5)/(df+0.5))`` form): live rows
        matching ANY (``mode='or'``) or ALL (``mode='and'``) query tokens,
        scored ``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``.

        Everything is derived from ONE pruned candidate scan: per-term
        document frequencies are counted over the candidates themselves
        (small — one row per matching (doc, term) — and by construction
        exactly consistent with the index the query reads), ``dl`` rides
        the term rows, and the corpus stats come from the O(docs)
        ``_doclen`` aggregate. No side lookups, no full-index scan.
        Returns (keys, score) with score rounded to 6 decimals for
        engine-portable deterministic ordering (ties broken by key)."""
        if mode not in ("or", "and"):
            raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
        toks = sorted(set(self._tokens(query)))
        if not toks:
            raise ValueError("search_bm25 wants at least one token")
        n_docs, avgdl = self.corpus_stats()
        cand = self._candidates(toks)
        # df per query term, counted over the live candidates (exact, and
        # tiny: ≤ |matching docs| × |tokens| rows feed the count)
        df_tbl = cand.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("_df")
        )
        scored = cand.join(F.broadcast(df_tbl), "term")
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("_df") + F.lit(0.5))
            / (F.col("_df") + F.lit(0.5))
        )
        denom = F.col("tf") + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.lit(max(avgdl, 1e-9))
        )
        contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
        out = (
            scored.groupBy(*S.KEY_COLS)
            .agg(
                F.countDistinct("term").alias("_nt"),
                F.round(F.sum(contrib), 6).alias("score"),
            )
        )
        if mode == "and":
            out = out.filter(F.col("_nt") == len(toks))
        out = out.select(*S.KEY_COLS, "score").orderBy(
            F.col("score").desc(), *S.KEY_COLS
        )
        return out.limit(k) if k else out

    def search_phrase(self, phrase: str, k: int | None = None) -> DataFrame:
        """PHRASE search: live rows where the query tokens appear adjacent
        and in order (under the index tokenizer — any non-alnum run counts
        as one separator). Two-stage: the AND index probe yields the
        (small) candidate set, then one bucket-pruned base read
        post-filters candidates against the actual text with a single
        regex — exact, and the base scan is bounded by the candidates'
        key-buckets, never the table. Returns (keys, n_occurrences)."""
        toks = self._tokens(phrase)
        if not toks:
            raise ValueError("search_phrase wants at least one token")
        cand = (
            self._candidates(sorted(set(toks)))
            .groupBy(*S.KEY_COLS)
            .agg(F.countDistinct("term").alias("_nt"))
            .filter(F.col("_nt") == len(set(toks)))
            .select(*S.KEY_COLS)
            .localCheckpoint(eager=True)  # bucket list + semi-join reuse it
        )
        n_buckets = self.base.snapshot().n_buckets
        from maestro_spark.lake import bucket_expr

        buckets = sorted(
            r["b"]
            for r in cand.select(
                bucket_expr("conv_id", n_buckets).alias("b")
            ).distinct().collect()
        )
        if not buckets:
            return self.spark.createDataFrame(
                [], "conv_id string, turn_idx int, n_occurrences long"
            )
        # token-sequence regex over the normalized text: adjacency = one
        # non-alnum run; (?<![a-z0-9]) / (?![a-z0-9]) guard partial-token
        # matches without consuming separators (so back-to-back phrase
        # instances both count)
        pat = (
            "(?<![a-z0-9])"
            + "[^a-z0-9]+".join(re.escape(t) for t in toks)
            + "(?![a-z0-9])"
        )
        rows = (
            self.base.read(buckets=buckets, columns=[*S.KEY_COLS, self.text_col])
            .join(F.broadcast(cand), S.KEY_COLS, "left_semi")
            .withColumn(
                "n_occurrences",
                F.regexp_count(F.lower(F.col(self.text_col)), F.lit(pat)).cast("long"),
            )
            .filter(F.col("n_occurrences") > 0)
            .select(*S.KEY_COLS, "n_occurrences")
            .orderBy(F.col("n_occurrences").desc(), *S.KEY_COLS)
        )
        return rows.limit(k) if k else rows


class MaintainedValueIndex(MaintainedTextIndex):
    """Exact-VALUE secondary index (M54): equality-serving point lookups on
    a non-key column, the engine's answer to Delta's bloom-filter index for
    high-cardinality equality predicates that zone maps (M25, min/max
    ranges) cannot prune.

    Each live row contributes exactly ONE term — the column's value cast
    to string, never tokenized — into the text index's hive-partitioned
    layout, so :meth:`lookup` reads ONE ``_tb`` partition directory
    (driver-side XXH64 twin picks it) and returns the owning keys under
    the shared LSN-dominance discipline. NULL values are not indexed (SQL
    equality never matches NULL — the inherited refresh/rebuild already
    skip null ``text_col`` rows). Maintenance, cursor, tombstones, crash
    idempotence, declaration persistence, and the optimize() fold are all
    inherited unchanged.

    Typed columns index their Spark ``CAST(… AS STRING)`` form; probes
    match that exact string (``lookup("42")`` for an int column) —
    engine-portable, no per-type probe codecs.

    COMPOSITE keys: ``value_col`` may be a LIST of columns — each live row
    with every component non-null contributes one term, the components
    concatenated with a non-printing separator (``\\x1f`` — values must not
    contain it, the same rule ivm's multi-key encoding documents), so
    ``lookup("user", "search")`` is still a one-partition probe. A row
    with ANY null component is not indexed (SQL equality never matches
    NULL, so no all-values probe could match it).

    Ranked/linguistic retrieval is refused: BM25 and phrase modes are
    meaningless over opaque values (every doc has dl=1 and tf=1)."""

    DEFAULT_SEARCH_MODE = "term"
    _SEP = "\x1f"

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        index_dir: str,
        value_col: str | list[str] = "tool",
        n_buckets: int = 64,
    ):
        cols = [value_col] if isinstance(value_col, str) else list(value_col)
        if not cols:
            raise ValueError("value index needs at least one column")
        super().__init__(spark, base, index_dir, text_col=cols[0],
                         n_buckets=n_buckets)
        self.value_cols = cols

    def _source_cols(self) -> list[str]:
        return list(self.value_cols)

    def _source_filter(self) -> Column:
        out = F.col(self.value_cols[0]).isNotNull()
        for c in self.value_cols[1:]:
            out = out & F.col(c).isNotNull()
        return out

    def _toks_expr(self) -> Column:
        # ONE term per row: the exact value tuple, cast to string, case
        # preserved — equality is equality, not text matching
        return F.array(
            F.concat_ws(
                self._SEP, *[F.col(c).cast("string") for c in self.value_cols]
            )
        )

    def _tokens(self, text: str) -> list[str]:
        return [text]  # the probe value is opaque — never split or lowered

    def lookup(self, *values, k: int | None = None) -> DataFrame:
        """Keys of live rows whose column(s) equal ``values`` (exact
        string form, one value per indexed column) — one partition
        directory scanned. A None component matches nothing (SQL
        equality)."""
        if len(values) == 1 and isinstance(values[0], (list, tuple)):
            values = tuple(values[0])
        if len(values) != len(self.value_cols):
            raise ValueError(
                f"lookup wants {len(self.value_cols)} value(s) for columns "
                f"{self.value_cols}, got {len(values)}"
            )
        if any(v is None for v in values):
            return self.spark.createDataFrame(
                [], "conv_id string, turn_idx int"
            )
        return (
            self.search(self._SEP.join(str(v) for v in values), k=k)
            .select(*S.KEY_COLS)
        )

    def lookup_rows(
        self, value, columns: list[str] | None = None, k: int | None = None
    ) -> DataFrame:
        """Full live rows whose column equals ``value``: the index probe
        yields the (small) key set, then ONE bucket-pruned base read
        semi-joins it — the base scan is bounded by the matches'
        key-buckets, never the table (the search_phrase serving shape).
        ``columns`` prunes the base scan (keys always included)."""
        keys = self.lookup(value, k=k).localCheckpoint(eager=True)
        from maestro_spark.lake import bucket_expr

        n_buckets = self.base.snapshot().n_buckets
        buckets = sorted(
            r["b"]
            for r in keys.select(
                bucket_expr("conv_id", n_buckets).alias("b")
            ).distinct().collect()
        )
        if not buckets:
            return self.base.read(columns=columns).limit(0)
        cols = (
            list(dict.fromkeys([*S.KEY_COLS, *columns])) if columns else None
        )
        return self.base.read(buckets=buckets, columns=cols).join(
            F.broadcast(keys), S.KEY_COLS, "left_semi"
        )

    def search_bm25(self, *a, **kw):
        raise ValueError(
            "value index serves exact lookups — use lookup()/search "
            "(MODE term); BM25 over opaque values is meaningless"
        )

    def search_phrase(self, *a, **kw):
        raise ValueError(
            "value index serves exact lookups — use lookup()/search "
            "(MODE term); values are never tokenized, so phrases cannot "
            "match"
        )


# -------------------------------------------------- persisted index registry
# Same contract as maestro_spark.ivm's persisted views: the index
# declaration (kind + constructor params + base root) is written to
# ``<index_dir>/_index.json`` so any later process can reconstruct and
# refresh it by path alone, and the BASE table carries a race-free marker
# registry (``<base.root>/_idx_registry/``, one idempotent distinct file
# per index) so ``lake.optimize`` folds every declared index BEFORE
# snapshot expiry trims the change-feed horizon its O(delta) refresh reads
# from. Missing the fold stays CORRECT (refresh degrades to the documented
# rebuild fallback) — the registry is a cost guarantee.
_IDX_REG_DIR = "_idx_registry"


def _decl_path(index_dir: str) -> str:
    """The declaration lives BESIDE the index directory
    (``<index_dir>._index.json``), not inside it: every index class's
    rebuild-as-compaction rewrites its directory with Spark overwrite
    mode, which clears foreign files — a declaration stored inside would
    vanish on the first refresh."""
    import os as _os

    return _os.path.abspath(index_dir).rstrip(_os.sep) + "._index.json"

INDEX_KINDS = {
    "text": MaintainedTextIndex,
    "value": MaintainedValueIndex,
    "simhash": MaintainedSimhashIndex,
    "lsh": MaintainedLshIndex,
    "ivf": MaintainedIvfIndex,
}
# which constructor kwarg the indexed COLUMN binds to, per kind
INDEX_COLUMN_PARAM = {
    "text": "text_col",
    "value": "value_col",
    "simhash": "text_col",
    "lsh": "vec_col",
    "ivf": "vec_col",
}


def _idx_registry_path(base: LakeTable, root: str) -> str:
    import hashlib

    h = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:16]
    return os.path.join(base.root, _IDX_REG_DIR, f"{h}.json")


def declare_index(
    spark: SparkSession,
    base: LakeTable,
    index_dir: str,
    kind: str,
    **params,
):
    """Declare a PERSISTED maintained index over ``base``. ``kind`` is one
    of ``text`` / ``simhash`` / ``lsh`` / ``ivf``; ``params`` go to the
    class constructor verbatim (validated against its signature so a typo
    refuses with the accepted names). Re-declaring an existing root
    verifies the stored declaration matches and refuses on any difference
    (same rule as ivm.declare — two declarations over one root would
    corrupt the cursor markers)."""
    import inspect

    from maestro_spark.lake import _atomic_write_json

    if kind not in INDEX_KINDS:
        raise ValueError(
            f"unknown index kind {kind!r} — accepted: {sorted(INDEX_KINDS)}"
        )
    cls = INDEX_KINDS[kind]
    allowed = [
        p for p in inspect.signature(cls.__init__).parameters
        if p not in ("self", "spark", "base", "index_dir")
    ]
    bad = sorted(set(params) - set(allowed))
    if bad:
        raise ValueError(
            f"{kind} index does not accept {bad} — accepted: {allowed}"
        )
    decl = {
        "base_root": os.path.abspath(base.root),
        "kind": kind,
        "params": dict(params),
    }
    path = _decl_path(index_dir)
    if os.path.exists(path):
        prev = json.load(open(path))
        if prev != decl:
            diff = sorted(k for k in decl if prev.get(k) != decl[k])
            raise ValueError(
                f"index at {index_dir!r} already holds a DIFFERENT "
                f"declaration (differs in {diff}) — refusing; drop the "
                "index directory or declare a new root"
            )
    idx = cls(spark, base, index_dir, **params)
    if not os.path.exists(path):
        _atomic_write_json(path, decl, exclusive=False)
    p = _idx_registry_path(base, index_dir)
    if not os.path.exists(p):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        _atomic_write_json(
            p, {"root": os.path.abspath(index_dir)}, exclusive=False
        )
    return idx


def load_index(spark: SparkSession, root: str, base: LakeTable | None = None):
    """Reconstruct a :func:`declare_index`-persisted index from its own
    root. ``base`` defaults to opening the declared base root; pass it to
    assert ownership (refuses another table's index)."""
    path = _decl_path(root)
    if not os.path.exists(path):
        raise ValueError(f"{root!r} holds no declared index")
    decl = json.load(open(path))
    if base is None:
        base = LakeTable(spark, decl["base_root"])
    elif os.path.abspath(base.root) != decl["base_root"]:
        raise ValueError(
            f"index at {root!r} is declared over {decl['base_root']!r}, "
            f"not {os.path.abspath(base.root)!r}"
        )
    return declare_index(spark, base, root, decl["kind"], **decl["params"])


def undeclare_index(
    spark: SparkSession, root: str, base: LakeTable | None = None
) -> str:
    """Remove a declared index: verify ownership, delete the index
    directory, drop its registry marker. Returns the removed root."""
    import shutil

    idx = load_index(spark, root, base=base)
    shutil.rmtree(root)
    os.unlink(_decl_path(root))
    try:
        os.unlink(_idx_registry_path(idx.base, root))
    except FileNotFoundError:
        pass
    return os.path.abspath(root)


def registered_indexes(spark: SparkSession, base: LakeTable) -> list:
    """Reconstruct every persisted index registered over ``base``; stale
    markers (index removed out-of-band) and foreign markers (registry dir
    copied wholesale into another table root) are pruned, never raised —
    table maintenance must not wedge on a vanished index."""
    reg = os.path.join(base.root, _IDX_REG_DIR)
    if not os.path.isdir(reg):
        return []
    out = []
    for f in sorted(os.listdir(reg)):
        p = os.path.join(reg, f)
        if not f.endswith(".json"):
            continue
        root = json.load(open(p))["root"]
        decl_path = _decl_path(root)
        if not os.path.exists(decl_path):
            os.unlink(p)
            continue
        if json.load(open(decl_path))["base_root"] != os.path.abspath(base.root):
            os.unlink(p)
            continue
        out.append(load_index(spark, root, base=base))
    return out


def list_declared(base: LakeTable) -> list[dict]:
    """Metadata-only listing of the indexes registered over ``base``
    (persisted declarations read straight from disk — no Spark analysis,
    no pruning side effects; serving `describe`)."""
    reg = os.path.join(base.root, _IDX_REG_DIR)
    if not os.path.isdir(reg):
        return []
    out = []
    for f in sorted(os.listdir(reg)):
        if not f.endswith(".json"):
            continue
        root = json.load(open(os.path.join(reg, f)))["root"]
        p = _decl_path(root)
        if os.path.exists(p):
            out.append({"root": root, **json.load(open(p))})
    return out
