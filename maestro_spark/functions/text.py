"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

All pure JVM-side expression code (whole-stage codegen) — at 100 TB of
documents these run inside the parquet scan stage with zero Python cost.
Heuristics are deliberately simple + deterministic so a SQL oracle can
replicate them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword markers; LIKE-based so the DuckDB oracle can
# reproduce them byte-for-byte (no regex-engine divergence)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def lang_score(text: Column, lang: str) -> Column:
    """Number of marker stopwords of ``lang`` present (0..3)."""
    s = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    score = F.lit(0)
    for m in LANG_MARKERS[lang]:
        score = score + s.contains(m).cast("int")
    return score


def lang_guess(text: Column) -> Column:
    """Heuristic language-ID: best marker score wins, ties broken by fixed
    language order; no marker at all → 'other' (covers zh here)."""
    scores = [(lang, lang_score(text, lang)) for lang in LANG_MARKERS]
    best = None
    for lang, sc in scores:
        cand = F.struct(sc.alias("s"), F.lit(lang).alias("l"))
        best = cand if best is None else F.when(sc > best["s"], cand).otherwise(best)
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("other"))


def token_count(text: Column) -> Column:
    """Whitespace token count (split on runs of whitespace)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, token count, mean token length,
    punctuation density, uppercase ratio. Exact integer/char arithmetic."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = n_chars - F.length(F.translate(t, ".,;:!?", ""))
    n_upper = n_chars - F.length(
        F.regexp_replace(t, r"[A-Z]", "")
    )
    return df.withColumns(
        {
            "n_chars_m": n_chars.cast("long"),
            "n_tokens": n_tokens,
            "n_punct": n_punct.cast("long"),
            "n_upper": n_upper.cast("long"),
        }
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text. md5 is bit-identical across engines (exact-dedup key)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def shingles(text: Column, n: int = 3, max_chars: int = 200) -> Column:
    """Distinct character n-gram shingles of the first ``max_chars`` chars —
    array column, built with sequence+transform (JVM-side, no explode until
    the caller wants one)."""
    t = F.substring(text, 1, max_chars)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(0)))
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(n))))


def rep_ngram_fraction(df: DataFrame, n: int = 3, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signal: per document, the fraction
    of word n-grams that are duplicates of an earlier occurrence in the
    SAME document (0 = no repetition, →1 = highly repetitive boilerplate).

    Formulation is one explode + one two-level aggregation, all codegen
    with map-side partial agg: per (doc, ngram) counts, then per doc
    ``1 - distinct/total``. No cross-document state, so it scales linearly
    and partitions freely — the standard pre-training corpus filter
    (drop docs above a duplicate-fraction threshold).
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != F.lit("")
    )
    grams = F.filter(
        F.transform(
            toks,
            lambda _, i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
        lambda g, i: i < F.size(toks) - (n - 1),
    )
    per_gram = (
        df.select(F.col(id_col), F.explode(grams).alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("_c").alias("_total"),
            F.count(F.lit(1)).alias("_distinct"),
        )
        .select(
            id_col,
            F.floor(
                (F.col("_total") - F.col("_distinct")) * F.lit(10000)
                / F.col("_total")
            ).cast("long").alias("rep_bp"),  # basis points, floor-div: engine-exact
        )
    )


# GPT-2-family pre-tokenizer pieces, RE2-safe (no lookaheads, no backrefs)
# so the SAME pattern runs in Spark (Java regex) and DuckDB (RE2) — the
# engine-portable deterministic proxy for BPE token counts (pre-tokens are
# what a byte-level BPE merges within; counts track real tokenizers within
# a few percent on natural text and are exactly reproducible everywhere).
PRETOKEN_RE = r"'[a-z]{1,2}| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def subword_count(text: Column) -> Column:
    """BPE-ish token-count estimate: number of GPT-2-style pre-tokenizer
    pieces (contraction suffixes, space-prefixed letter/digit runs,
    punctuation runs, residual whitespace). Pure codegen
    (``regexp_count``), zero Python, linear scan — the budget/packing
    arithmetic a training pipeline runs over every document."""
    return F.coalesce(
        F.regexp_count(text, F.lit(PRETOKEN_RE)), F.lit(0)
    ).cast("long")
