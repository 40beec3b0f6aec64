"""Change-feed-maintained indexes over a LakeTable: LSH and IVF ANN,
simhash near-dup, an inverted term index, and an exact-value index.

Every kind keeps ONE maintenance contract, written once in
:class:`_MaintainedIndex` — the delta-not-rebuild discipline the IVM view
uses, pointed at an index instead of an aggregate:

- **refresh = O(delta)**: each refresh appends index rows ONLY for the
  keys :meth:`LakeTable.changes` names (an index row is a pure function of
  the key's source columns and the meta, so the hive layout — and probe
  partition pruning — is untouched), never re-indexing the corpus;
- **updates/deletes via LSN dominance, not in-place edits**: an updated
  row's new index rows may land in a DIFFERENT partition than its stale
  ones, and the feed's delete events carry no payload to locate them —
  so every feed event also lands one row in a small ``_tombstones/`` side
  table ``(key, lsn)``, and probes drop any candidate row an
  equal-or-newer tombstone dominates (``tomb.lsn > row._lsn``). This is
  the lake's own max-LSN rule transplanted to the index;
- **probe = pruned scan + dominance filter**: candidate partitions via
  Catalyst partition pruning (dir-level), per-key max-LSN dedupe AMONG
  candidates (bounded by the probe, not the corpus), a broadcast
  anti-join against the tombstone side table. Results equal a probe of a
  FRESH rebuild over the base's current state — asserted by tests;
- **cursor + idempotence**: the applied-through cursor derives from
  append-only ``_applied-<from>-<to>.json`` range markers
  (``lake._range_cursor``, shared with export_changes — monotone by
  construction). A crash between the data appends and the marker
  re-applies the same range on the next refresh; that is harmless
  because index rows are (key, lsn)-idempotent — duplicates collapse in
  the probe's max-LSN dedupe — and is reclaimed by the next rebuild;
- **rebuild = compaction**: a full rebuild from base current state folds
  away dominated rows, duplicate re-applies and tombstones. Its Spark
  overwrite clears the whole index directory (rows, ``_tombstones/``,
  markers, meta) in one step, so a crash before it leaves the index as it
  was, and a crash after it leaves no meta, which makes the next refresh
  rebuild. Bootstrap, an expired feed horizon, a range spanning a
  rollback and a meta of an older layout all degrade to a rebuild.

A kind supplies hooks only: its meta file name (``_META``), its source
columns (:meth:`_source_cols`), :meth:`_fit` (the meta a rebuild writes —
LSH's dimension, IVF's centroids) and :meth:`_write` (index rows for a
refresh's upserts or a rebuild's live rows).

Declared indexes persist through :mod:`maestro_spark.registry`, the same
registry as the persisted IVM views (see :data:`_INDEXES`).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from maestro_spark import lake
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
from maestro_spark.registry import Registry

_TOMBS = "_tombstones"


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


class _MaintainedIndex:
    """The one refresh/rebuild contract of the module docstring; each kind
    overrides the hooks below."""

    _META: str  # meta file name inside the index directory
    _LAYOUT: int | None = None  # the meta "v" of the kind's current layout

    def __init__(self, spark: SparkSession, base: LakeTable, index_dir: str):
        self.spark = spark
        self.base = base
        self.dir = index_dir
        os.makedirs(index_dir, exist_ok=True)

    # ---------------------------------------------------------------- hooks
    def _source_cols(self) -> list[str]:
        """Base columns the index rows derive from (scan-pruning set)."""
        raise NotImplementedError

    def _fit(self, live: DataFrame) -> dict | None:
        """The meta a rebuild over ``live`` writes; None while there is
        nothing live to fit it on (the index stays unbuilt)."""
        raise NotImplementedError

    def _write(self, rows: DataFrame, meta: dict, mode: str) -> None:
        """rows: (keys, *source cols, _lsn) → the kind's index rows,
        written with ``mode``: ``append`` (refresh) or ``overwrite``
        (rebuild)."""
        raise NotImplementedError

    def _source_filter(self) -> Column:
        """Rows worth indexing: every source column non-null."""
        cols = self._source_cols()
        out = F.col(cols[0]).isNotNull()
        for c in cols[1:]:
            out = out & F.col(c).isNotNull()
        return out

    # ------------------------------------------------------------- plumbing
    def _meta(self) -> dict | None:
        p = os.path.join(self.dir, self._META)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def applied_through(self) -> int:
        """Highest base snapshot folded in — max ``to`` over the append-only
        ``_applied-`` range markers (monotone)."""
        return lake._range_cursor(self.dir, "_applied")

    def _mark(self, frm: int, to: int) -> None:
        lake._mark_range(self.dir, "_applied", frm, to)

    # ---------------------------------------------------------- maintenance
    def refresh(self) -> dict | None:
        """Fold base changes ``(applied_through, tip]`` in (O(delta)).
        Returns the range applied, or None when already current. A missing
        or older-layout meta, an expired feed horizon and a range spanning
        a rollback degrade to :meth:`rebuild` (same contract as the IVM
        view)."""
        meta = self._meta()
        if meta is None or meta.get("v") != self._LAYOUT:
            return self.rebuild()
        frm = self.applied_through()
        to = self.base.snapshot().snapshot_id
        if to <= frm:
            return None
        try:
            feed = self.base.changes(frm, to)
        except (FileNotFoundError, ValueError):
            return self.rebuild()
        # resolved once: the upsert write and the tombstones both read it
        feed = feed.localCheckpoint(eager=True)
        ups = feed.filter(
            (F.col("op") == "upsert") & self._source_filter()
        ).select(
            *S.KEY_COLS, *self._source_cols(), F.col("lsn").alias(S.LSN_COL)
        )
        self._write(ups, meta, mode="append")
        _append_tombstones(self.dir, feed)
        self._mark(frm, to)
        return {"from": frm, "to": to}

    def rebuild(self) -> dict | None:
        """Full rebuild from base current state — the structure's compaction
        (folds dominated rows, duplicate re-applies, and tombstones). The
        overwrite itself clears the old rows, ``_tombstones/``, markers and
        meta; None when there is nothing live to fit the meta on."""
        to = self.base.snapshot().snapshot_id
        cols = self._source_cols()
        # resolved once: every _fit pass (IVF's k-means) and _write read it
        live = self.base.read_resolved(snapshot_id=to, columns=cols).filter(
            ~F.col(S.DELETED_COL) & self._source_filter()
        ).select(*S.KEY_COLS, *cols, S.LSN_COL).localCheckpoint(eager=True)
        meta = self._fit(live)
        if meta is None:
            return None
        self._write(live, meta, mode="overwrite")
        lake._atomic_write_json(
            os.path.join(self.dir, self._META), meta, exclusive=False
        )
        self._mark(self.applied_through(), to)
        return {"from": 0, "to": to, "rebuild": True}


class MaintainedLshIndex(_MaintainedIndex):
    """Feed-maintained LSH index over ``base``'s ``vec_col`` payload: the
    ``_bucket=<p>/`` parquet layout of ``similarity.build_lsh_index``
    (signatures are a pure function of vector + hyperplanes, the
    hyperplanes a function of ``seed`` and the dimension in the meta)."""

    _META = "_maint_lsh_meta.json"

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
        super().__init__(spark, base, index_dir)
        self.vec_col = vec_col
        self.n_bits = n_bits
        self.prefix_bits = prefix_bits
        self.seed = seed

    def _planes(self, dim: int) -> list[list[float]]:
        return [_projection_vector(self.seed + i, dim) for i in range(self.n_bits)]

    def _source_cols(self) -> list[str]:
        return [self.vec_col]

    def _fit(self, live: DataFrame) -> dict | None:
        first = live.select(self.vec_col).head()
        if first is None:
            return None
        return {"dim": len(first[0]), "n_bits": self.n_bits,
                "prefix_bits": self.prefix_bits, "seed": self.seed,
                "vec_col": self.vec_col}

    def _write(self, rows: DataFrame, meta: dict, mode: str) -> None:
        """Signature rows into their bucket dirs (hive partitioning
        preserved)."""
        sig = lsh_signature(F.col(self.vec_col), self._planes(meta["dim"]))
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


class MaintainedSimhashIndex(_MaintainedIndex):
    """Feed-maintained TEXT near-dup index over ``base``'s ``text_col`` --
    the dedup twin of :class:`MaintainedLshIndex`: banded 64-bit simhash
    rows ``(conv_id, turn_idx, simhash, band, block, _lsn)`` partitioned by
    band (the layout of ``dedup_text.build_simhash_index``), kept in sync
    O(delta) off :meth:`LakeTable.changes` under the module's contract.

    :meth:`near_pairs` mines candidate pairs from the stored table --
    equal to ``simhash_near_pairs`` over the base's CURRENT live rows
    (asserted by tests): per-key max-LSN dedupe and the tombstone
    anti-join run on the (8-byte-signature) index rows, never re-tokenizing
    the corpus.
    """

    _META = "_maint_simhash_meta.json"

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        index_dir: str,
        text_col: str = "text",
        bands: int = 4,
    ):
        assert 64 % bands == 0, "bands must divide 64"
        super().__init__(spark, base, index_dir)
        self.text_col = text_col
        self.bands = bands

    def _source_cols(self) -> list[str]:
        return [self.text_col]

    def _fit(self, live: DataFrame) -> dict:
        return {"bands": self.bands, "text_col": self.text_col}

    def _write(self, rows: DataFrame, meta: dict, mode: str) -> None:
        """(conv_id, turn_idx, text, _lsn) -> banded signature rows, one
        ``band=`` dir per band."""
        from maestro_spark.functions.dedup_text import _banded, simhash

        keyed = rows.withColumn("_key", F.struct(*S.KEY_COLS, S.LSN_COL))
        sig = simhash(keyed, self.text_col, "_key")
        (
            _banded(sig, self.bands).select(
                F.col("id.conv_id").alias("conv_id"),
                F.col("id.turn_idx").alias("turn_idx"),
                F.col(f"id.{S.LSN_COL}").alias(S.LSN_COL),
                "simhash", "band", "block",
            )
            .repartition("band")
            .sortWithinPartitions("band", "block")
            .write.partitionBy("band")
            .mode(mode)
            .parquet(self.dir)
        )

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


class MaintainedIvfIndex(_MaintainedIndex):
    """Feed-maintained IVF (k-means coarse-quantized) ANN index over
    ``base``'s ``vec_col`` payload — ``similarity.update_ivf_index`` under
    the module's contract (r3 verdict #4):

    - **refresh**: upserted vectors are assigned to the nearest EXISTING
      centroid (pinned in the index meta between rebuilds — the standard
      IVF maintenance story) and appended into their ``_list=<c>`` dir;
    - **probe**: driver-side list ranking from the meta's k×dim centroids
      (no data IO), partition-pruned scan of the ``nprobe`` nearest lists,
      per-key max-LSN dedupe AMONG candidates, broadcast tombstone
      anti-join, exact cosine re-rank. With pinned centroids the result
      equals a probe of a fresh rebuild over base current state (pytest);
      ``nprobe >= k`` degenerates to exact brute force over live vectors;
    - :meth:`rebuild` RE-FITS centroids by default (the drift answer);
      pass ``centroids=`` to pin them (the equality oracle).
    """

    _META = "_maint_ivf_meta.json"
    _pinned: list[list[float]] | None = None

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
        super().__init__(spark, base, index_dir)
        self.vec_col = vec_col
        self.k = k
        self.iters = iters
        self.seed = seed

    def _source_cols(self) -> list[str]:
        return [self.vec_col]

    def _fit(self, live: DataFrame) -> dict | None:
        from maestro_spark.functions.similarity import kmeans_fit

        first = live.select(self.vec_col).head()
        if first is None:
            return None
        centroids = self._pinned
        if centroids is None:
            fitted = live.withColumn(
                "_kid", F.concat_ws(" ", "conv_id", F.col("turn_idx").cast("string"))
            )
            centroids = kmeans_fit(
                fitted, k=self.k, iters=self.iters, seed=self.seed,
                vec_col=self.vec_col, id_col="_kid",
            )
        return {"centroids": centroids, "dim": len(first[0]),
                "vec_col": self.vec_col, "k": len(centroids), "seed": self.seed}

    def _write(self, rows: DataFrame, meta: dict, mode: str) -> None:
        from maestro_spark.functions.similarity import _assign_expr

        (
            rows.withColumn("_list", _assign_expr(meta["centroids"], self.vec_col))
            .repartition("_list")
            .write.partitionBy("_list")
            .mode(mode)
            .parquet(self.dir)
        )

    def rebuild(self, centroids: list[list[float]] | None = None) -> dict | None:
        """:meth:`_MaintainedIndex.rebuild`, with ``centroids`` pinned."""
        self._pinned = centroids
        try:
            return super().rebuild()
        finally:
            self._pinned = None

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


class MaintainedTextIndex(_MaintainedIndex):
    """Feed-maintained inverted TERM index over ``base``'s ``text_col`` —
    serving-path term search at table scale (M40).

    Layout: rows ``(conv_id, turn_idx, term, tf, _lsn)`` hive-partitioned
    by ``_tb = pmod(xxhash64(term), n_buckets)``, so a probe reads exactly
    ONE term-bucket directory (Catalyst partition pruning; the bucket is
    picked on the driver by the pure-Python XXH64 twin ``keyhash.bucket_of``
    — the same trick as the table's point-lookup path). Maintenance is the
    module's contract (an updated doc's dropped terms are dominated away,
    its kept terms' new rows survive the strict ``>``); a meta without
    ``"v": 2`` is the pre-BM25 layout (no ``dl``/``_doclen``), which the
    next refresh upgrades by a rebuild. Probes equal a probe of a FRESH
    rebuild over base's current state — asserted by tests.

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

    _META = _TXT_META
    _LAYOUT = 2

    def __init__(
        self,
        spark: SparkSession,
        base: LakeTable,
        index_dir: str,
        text_col: str = "text",
        n_buckets: int = 64,
    ):
        super().__init__(spark, base, index_dir)
        self.text_col = text_col
        self.n_buckets = n_buckets

    def _toks_expr(self) -> Column:
        """Token-array Column over ``text_col`` — THE tokenizer, shared by
        the term and doclen writers (subclasses override this and
        :meth:`_tokens` together to change what a 'term' is)."""
        return F.filter(
            F.split(F.lower(F.col(self.text_col)), "[^a-z0-9]+"),
            lambda x: x != F.lit(""),
        )

    def _source_cols(self) -> list[str]:
        return [self.text_col]

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

    def _fit(self, live: DataFrame) -> dict:
        return {"text_col": self.text_col, "n_buckets": self.n_buckets,
                "v": self._LAYOUT}

    def _write(self, rows: DataFrame, meta: dict, mode: str) -> None:
        """Term rows into their ``_tb=`` dirs, doc lengths into
        ``_doclen/``."""
        (
            self._term_rows(rows).repartition("_tb")
            .sortWithinPartitions("_tb", "term")
            .write.partitionBy("_tb")
            .mode(mode)
            .parquet(self.dir)
        )
        self._doclen_rows(rows).write.mode(mode).parquet(
            os.path.join(self.dir, _DOCLEN)
        )

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


def declare_index(
    spark: SparkSession,
    base: LakeTable,
    index_dir: str,
    kind: str,
    **params,
):
    """Declare a PERSISTED maintained index over ``base``. ``kind`` is one
    of :data:`INDEX_KINDS`; ``params`` go to the class constructor verbatim
    (validated against its signature so a typo refuses with the accepted
    names). Re-declaring an existing root verifies the stored declaration
    matches and refuses on any difference (same rule as ivm.declare — two
    declarations over one root would corrupt the cursor markers)."""
    import inspect

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
    return _INDEXES.declare(
        base, index_dir, decl, lambda: cls(spark, base, index_dir, **params)
    )


# The declaration lives BESIDE the index directory, at
# ``<index_dir>._index.json``: a rebuild's Spark overwrite clears the
# directory, so a declaration stored inside would vanish on the first
# refresh.
_INDEXES = Registry(
    "index",
    "_idx_registry",
    lambda root: os.path.abspath(root).rstrip(os.sep) + "._index.json",
    build=lambda spark, base, root, decl: declare_index(
        spark, base, root, decl["kind"], **decl["params"]
    ),
)
load_index = _INDEXES.load
undeclare_index = _INDEXES.undeclare
registered_indexes = _INDEXES.registered
list_declared = _INDEXES.list_declared
