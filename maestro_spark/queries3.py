"""Driver-contract query corpus, part 3 — reshaping / sampling / subquery
operators beyond the SURVEY §2 inventory.

These are the table-reshaping and dataset-curation shapes a training-data
pipeline needs on top of the core engine: pivot/unpivot, deterministic
hash sampling (whole-table and stratified), distribution ranks
(percent_rank/cume_dist), scalar subqueries, bitwise arithmetic, term
frequency top-k, and the SQL front door (correlated EXISTS through
``spark.sql``). All follow queries.py's numeric-determinism rules: every
oracle output CAST to the exact Spark result type, float ordering
tie-broken by a unique key, sampling keyed on md5 of a canonical string
(identical bytes in both engines) — never on engine-specific RNG.

Scale notes (the 100 TB lens):
- the hash samples are pure scan-stage filters/projections — no shuffle,
  fully pushed into the parquet scan stage, and the stratified variant is
  one rank-window per stratum (a single hash-partitioned exchange);
- pivot uses an explicit value list so Spark skips the extra distinct-
  collection job and the agg stays a single map-side-combined hash agg;
- the scalar subquery broadcasts one aggregated row — no driver collect;
- tf-top-k is explode → partial-agg count → per-doc rank window: the
  explode multiplies rows ~n_tokens× but never materializes beyond the
  first partial agg.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from maestro_spark.queries import _DEC, ORACLES, QUERIES, _t, q

# ------------------------------------------------------------------ pivot
@q(
    "q_pivot",
    """SELECT o_orderpriority,
              CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
              CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_filled,
              CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_partial
       FROM orders GROUP BY o_orderpriority""",
)
def q_pivot(spark, sf_dir):
    """Pivot: long→wide over a small known category set. The explicit
    values list lets Spark plan ONE hash aggregate (no prior distinct
    job to discover pivot values) — at 100 TB the pivot is exactly as
    cheap as the groupBy it wraps."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


# ---------------------------------------------------------------- unpivot
@q(
    "q_unpivot",
    """WITH a AS (SELECT l_returnflag,
                         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
                         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
                         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_disc
                  FROM lineitem GROUP BY l_returnflag)
       SELECT l_returnflag, 'sum_qty'   AS measure, sum_qty   AS amount FROM a
       UNION ALL
       SELECT l_returnflag, 'sum_price' AS measure, sum_price AS amount FROM a
       UNION ALL
       SELECT l_returnflag, 'sum_disc'  AS measure, sum_disc  AS amount FROM a""",
)
def q_unpivot(spark, sf_dir):
    """Unpivot/melt: wide→long via Spark's native unpivot (a zero-shuffle
    Expand node — each input row fans out to k measure rows in the same
    task, no exchange). Money math in DECIMAL(18,2) for cross-engine
    exactness, DOUBLE only at the edge."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).cast(_DEC).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast(_DEC).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast(_DEC)).cast(_DEC).cast("double").alias("sum_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "amount"
    )


# ------------------------------------------------- deterministic sampling
@q(
    "q_sample_hash",
    """SELECT event_id, event_type, value FROM events
       WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')""",
)
def q_sample_hash(spark, sf_dir):
    """Deterministic ~2/16 Bernoulli sample keyed on md5(event_id) — the
    reproducible alternative to rand()-based TABLESAMPLE for dataset
    curation: same rows on every engine, every run, any partitioning.
    Pure narrow filter in the scan stage; no shuffle, no state."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    return ev.filter(bucket.isin("0", "1")).select("event_id", "event_type", "value")


@q(
    "q_sample_stratified",
    """SELECT event_id, event_type FROM events
       QUALIFY row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) <= 40""",
)
def q_sample_stratified(spark, sf_dir):
    """Stratified fixed-size sample: exactly n rows per stratum, chosen by
    hash order (deterministic, uniform, engine-portable). One rank window
    per stratum = a single hash-partitioned exchange on the stratum key;
    at scale with many strata this is the balanced-cardinality case
    windows are good at. Skewed strata would use ops.top_k_per_group's
    salted two-phase variant instead."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 40)
        .select("event_id", "event_type")
    )


# ------------------------------------------------------ distribution ranks
@q(
    "q_win_pctrank",
    """SELECT event_id, event_type,
              percent_rank() OVER w AS pr,
              cume_dist() OVER w AS cd
       FROM events
       WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""",
)
def q_win_pctrank(spark, sf_dir):
    """percent_rank + cume_dist per stratum. Deterministic doubles: the
    ordering key is tie-broken by the unique event_id, so both engines
    compute (rank-1)/(n-1) and row_number/n on identical integer inputs —
    the single division yields bit-identical IEEE doubles."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# -------------------------------------------------------- scalar subquery
@q(
    "q_scalar_subquery",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_above
       FROM events
       WHERE CAST(FLOOR(value * 1000) AS BIGINT) >
             (SELECT AVG(CAST(FLOOR(value * 1000) AS BIGINT)) FROM events)
       GROUP BY event_type""",
)
def q_scalar_subquery(spark, sf_dir):
    """Scalar-subquery filter (rows above the global mean). DataFrame
    form: the one-row global aggregate is broadcast-cross-joined — the
    exact plan Catalyst builds for an uncorrelated scalar subquery; no
    driver-side collect of the scalar. Quantized-int mean: SUM(BIGINT) is
    exact in both engines, one final division → identical double."""
    ev = _t(spark, sf_dir, "events")
    qv = F.floor(F.col("value") * 1000).cast("long")
    mean = ev.agg(F.avg(qv).alias("_mean"))
    return (
        ev.withColumn("_qv", qv)
        .join(F.broadcast(mean))
        .filter(F.col("_qv") > F.col("_mean"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


# --------------------------------------------------------------- bitwise
@q(
    "q_fn_bitwise",
    """SELECT event_id,
              event_id & 255 AS b_and,
              event_id | 16 AS b_or,
              xor(event_id, user_id) AS b_xor,
              event_id << 3 AS b_shl,
              ~event_id AS b_not,
              CAST(bit_count(event_id) AS INTEGER) AS b_pop
       FROM events""",
)
def q_fn_bitwise(spark, sf_dir):
    """Bitwise family — AND/OR/XOR/shift/NOT/popcount, all BIGINT-exact
    codegen arithmetic in both engines (Spark bit_count returns INT; the
    oracle casts DuckDB's TINYINT to match)."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    return ev.select(
        "event_id",
        eid.bitwiseAND(F.lit(255)).alias("b_and"),
        eid.bitwiseOR(F.lit(16)).alias("b_or"),
        eid.bitwiseXOR(F.col("user_id")).alias("b_xor"),
        F.shiftleft(eid, 3).alias("b_shl"),
        F.bitwise_not(eid).alias("b_not"),
        F.bit_count(eid).alias("b_pop"),
    )


# -------------------------------------------------- term frequency top-k
@q(
    "q_tf_topterms",
    """WITH toks AS (
           SELECT doc_id, tok
           FROM documents, unnest(string_split(text, ' ')) AS t(tok)
           WHERE tok <> ''
       ),
       tf AS (
           SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, tok
       )
       SELECT doc_id, tok, tf FROM tf
       QUALIFY row_number() OVER (
           PARTITION BY doc_id ORDER BY tf DESC, tok) <= 3""",
)
def q_tf_topterms(spark, sf_dir):
    """Per-document top-3 terms by frequency: tokenize (explode) →
    count (hash agg with map-side partial — the explosion collapses
    back to |doc|×|vocab-per-doc| before any exchange) → per-doc rank
    window. Ties broken by token text so top-k is deterministic. The
    building block for tf-idf / vocabulary curation over a corpus."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), "tok")
    return (
        tf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "tok", "tf")
    )


# -------------------------------------------------- SQL front door: EXISTS
_EXISTS_SQL = """SELECT c_custkey, c_name FROM {customer} c
WHERE EXISTS (SELECT 1 FROM {orders} o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)"""


@q("q_sql_exists", _EXISTS_SQL.format(customer="customer", orders="orders"))
def q_sql_exists(spark, sf_dir):
    """Correlated EXISTS through the engine's SQL front door: the same
    text a user would type runs via ``spark.sql`` over registered views;
    Catalyst rewrites the correlated EXISTS into a left-semi hash join
    (no per-row subquery execution — verify with .explain)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("q3_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q3_orders")
    return spark.sql(_EXISTS_SQL.format(customer="q3_customer", orders="q3_orders"))


# ------------------------------------------- dedup groups (connected comps)
@q(
    "q_dedup_groups",
    """WITH RECURSIVE
         n AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS q
           FROM embeddings),
         m AS (
           SELECT vec_id, q,
                  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
           FROM n),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.n2 AS na2, b.n2 AS nb2,
                  CAST(list_sum(list_transform(generate_series(1, len(a.q)),
                    i -> a.q[i] * b.q[i])) AS BIGINT) AS qdot
           FROM m a JOIN m b ON a.vec_id < b.vec_id),
         pairs AS (
           SELECT id_a, id_b FROM p
           WHERE qdot > 0 AND qdot * qdot * 10000 >= 1600 * na2 * nb2),
         e AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
       SELECT src AS id, LEAST(src, MIN(dst)) AS group_id
       FROM reach GROUP BY src""",
)
def q_dedup_groups(spark, sf_dir):
    """Connected components over embedding-cosine near-dup pairs (the
    cluster-then-keep-one step of a dedup pipeline): min-label propagation
    with pointer jumping on the engine side must equal DuckDB's recursive
    transitive closure over the identical exact-integer pair set. The
    iterative DataFrame loop is the distributed formulation (O(log diameter)
    rounds, two keyed shuffles per round); the oracle's closure is
    oracle-only — quadratic in component size, fine at test scale."""
    from maestro_spark.functions.dedup_text import dedup_groups
    from maestro_spark.functions.similarity import embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(e, threshold_centi=40, scale=100)
    return dedup_groups(pairs.select("id_a", "id_b"))


# --------------------------------------------- curation pipeline (capstone)
@q(
    "q_curate",
    """WITH RECURSIVE
         q AS (
           SELECT doc_id, text FROM documents
           WHERE CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 5),
         d AS (
           SELECT MIN(doc_id) AS doc_id
           FROM q GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))),
         dd AS (SELECT q.doc_id, q.text FROM q JOIN d USING (doc_id)),
         sh0 AS (
           SELECT DISTINCT doc_id AS id,
                  substr(substr(text, 1, 120), CAST(i AS INTEGER), 5) AS sh
           FROM dd, range(1, 117) t(i)
           WHERE i <= length(substr(text, 1, 120)) - 4),
         keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= 256),
         sh AS (SELECT sh0.id, sh0.sh FROM sh0 JOIN keep USING (sh)),
         sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
         inter AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY 1, 2),
         pairs AS (
           SELECT i.id_a, i.id_b FROM inter i
           JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
           WHERE i.inter * 5 >= (sa.n_sh + sb.n_sh - i.inter) * 1),
         e AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         grp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS g
                 FROM reach GROUP BY src)
       SELECT dd.doc_id FROM dd LEFT JOIN grp ON dd.doc_id = grp.id
       WHERE grp.id IS NULL OR grp.g = dd.doc_id""",
)
def q_curate(spark, sf_dir):
    """CAPSTONE: the full training-data curation pipeline — quality gate
    (token count), exact dedup (md5 fingerprint, min-id keep), n-gram
    Jaccard near-dup clustering (df-capped), connected components, canonical
    keep — end to end on the engine, equal to DuckDB restating every stage
    (incl. the component step as a recursive transitive closure). The
    surviving doc_id SET pins the whole pipeline's semantics."""
    from maestro_spark.functions.curate import curate_documents

    return curate_documents(_t(spark, sf_dir, "documents")).select("doc_id")


# ------------------------------------------------------- JSON typed ingest
@q(
    "q_ingest_json",
    """WITH raw AS (
         SELECT * FROM read_csv('/tmp/maestro_json_demo/events.jsonl',
             header=false, delim='', quote='', columns={'line': 'VARCHAR'})),
       typed AS (
         SELECT CASE WHEN json_valid(line)
                     THEN TRY_CAST(json_extract_string(line, '$.event_id') AS BIGINT)
                END AS eid,
                CASE WHEN json_valid(line)
                     THEN TRY_CAST(json_extract_string(line, '$.user_id') AS BIGINT)
                END AS uid,
                CASE WHEN json_valid(line)
                     THEN TRY_CAST(json_extract_string(line, '$.value') AS DOUBLE)
                END AS v
         FROM raw),
       flagged AS (
         SELECT eid, (eid IS NULL OR uid IS NULL OR v IS NULL) AS bad FROM typed)
       SELECT CAST(COUNT(*) FILTER (WHERE NOT bad) AS BIGINT) AS n_good,
              CAST(SUM(eid) FILTER (WHERE NOT bad) AS BIGINT) AS id_checksum,
              CAST(COUNT(*) FILTER (WHERE bad) AS BIGINT) AS n_bad
       FROM flagged""",
)
def q_ingest_json(spark, sf_dir):
    """A4's JSON half: JSON-lines ingest with a declared schema and corrupt
    channel (invalid JSON and type-invalid fields both route to the error
    side). Oracle reads the same file as raw lines and mirrors PERMISSIVE
    as json_valid + per-field TRY_CASTs."""
    from maestro_spark.ingest import json_ingest_demo

    return json_ingest_demo(spark, sf_dir)


# --------------------------------------------- Debezium envelope ingest
@q(
    "q_debezium",
    """WITH raw AS (
         SELECT * FROM read_csv('/tmp/maestro_dbz_demo/envelopes.jsonl',
             header=false, delim='', quote='', columns={'line': 'VARCHAR'})),
       env AS (
         SELECT CASE WHEN json_valid(line)
                     THEN json_extract_string(line, '$.op') END AS code,
                CASE WHEN json_valid(line) THEN line END AS j
         FROM raw),
       mapped AS (
         SELECT CASE WHEN code IN ('c', 'r') THEN 'insert'
                     WHEN code = 'u' THEN 'update'
                     WHEN code = 'd' THEN 'delete'
                     ELSE COALESCE(code, 'corrupt_envelope') END AS op,
                COALESCE(
                  TRY_CAST(json_extract_string(j, '$.source.lsn') AS BIGINT),
                  TRY_CAST(json_extract_string(j, '$.source.ts_ms') AS BIGINT)
                ) AS op_lsn,
                CASE WHEN code = 'd'
                     THEN COALESCE(json_extract_string(j, '$.before.conv_id'),
                                   json_extract_string(j, '$.after.conv_id'))
                     ELSE COALESCE(json_extract_string(j, '$.after.conv_id'),
                                   json_extract_string(j, '$.before.conv_id'))
                END AS conv_id
         FROM env)
       SELECT op, CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(SUM(op_lsn) AS BIGINT) AS lsn_sum,
              CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
       FROM mapped GROUP BY op""",
)
def q_debezium(spark, sf_dir):
    """The real-world binlog front door (A4+, r5): standard Debezium JSON
    envelopes decode to engine change events via one ``from_json`` +
    codegen projection (ingest.from_debezium) — op-code mapping (c/r→
    insert, u→update, d→delete), before/after row-image choice, and the
    source.lsn → source.ts_ms LSN fallback all certified against a DuckDB
    twin parsing the same bytes. Defective envelopes become
    quarantine-shaped rows (op='corrupt_envelope' / verbatim unknown code /
    null op_lsn for a sourceless envelope) that the merge DLQ gates."""
    from maestro_spark.ingest import debezium_ingest_demo

    return debezium_ingest_demo(spark, sf_dir)


# ------------------------------------------------ window value extractors
@q(
    "q_win_firstval",
    """SELECT event_id, event_type,
              first_value(value) OVER w AS first_v,
              last_value(value) OVER w AS last_v,
              nth_value(value, 3) OVER w AS third_v
       FROM events
       WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
)
def q_win_firstval(spark, sf_dir):
    """first/last/nth value extractors over the full partition frame —
    deterministic because the ordering is tie-broken by the unique
    event_id and the frame is the whole partition; the extracted doubles
    are copied, not computed, so they hash identically."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(w).alias("last_v"),
        F.nth_value("value", 3).over(w).alias("third_v"),
    )


# ----------------------------------------------------------- PII redaction
from maestro_spark.functions import dedup_text as dd  # noqa: E402
from maestro_spark.functions import pii  # noqa: E402
from maestro_spark.functions import text as tx  # noqa: E402

_PII_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com ph 415-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.7 ssn 123-45-6789 card 4111 1111 1111 1111'"
)


@q(
    "q_pii_redact",
    f"""SELECT doc_id, {pii.pii_oracle_exprs(_PII_INJECT_SQL)} AS redacted
        FROM documents""",
)
def q_pii_redact(spark, sf_dir):
    """PII redaction (functions/pii.py): deterministic PII is first
    injected from doc_id so every row demonstrably exercises all five
    pattern families, then masked. The whole chain is regexp_replace
    expression code inside the scan stage — at 100 TB redaction costs
    the same as reading the text column (no shuffle, no Python)."""
    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ph 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789 card 4111 1111 1111 1111"),
    )
    return d.select("doc_id", pii.redact_pii(injected).alias("redacted"))


# -------------------------------------------------------- sequence packing
@q(
    "q_seq_pack",
    """WITH t AS (SELECT doc_id, source,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok
         FROM documents),
       c AS (SELECT doc_id, source, n_tok,
              COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
         FROM t)
       SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
              CAST(tok_start // 512 AS BIGINT) AS pack_id,
              CAST(tok_start % 512 AS BIGINT) AS pack_offset,
              CAST(CASE WHEN tok_start % 512 + n_tok > 512 THEN 1 ELSE 0 END
                   AS BIGINT) AS straddles
       FROM c""",
)
def q_seq_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing: order documents deterministically
    within each shard (source), running token offset, pack = offset div
    budget — the exact semantics of GPT-style pretraining packing, where
    shard streams are concatenated and cut every B tokens (``straddles``
    marks docs split across a cut). One window per shard — the running
    sum is a single hash-partitioned exchange on the shard key, each
    shard's scan stays sequential-free; at 100 TB shards are file groups
    and packing parallelizes across them (never a global window)."""
    B = 512
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", tx.token_count(F.col("text")).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("tok_start", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return c.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.expr(f"CAST(tok_start div {B} AS BIGINT)").alias("pack_id"),
        (F.col("tok_start") % B).cast("long").alias("pack_offset"),
        ((F.col("tok_start") % B + F.col("n_tok")) > B).cast("long").alias("straddles"),
    )


# -------------------------------------------- benchmark contamination check
@q(
    "q_contamination",
    """WITH shc AS (
         SELECT DISTINCT doc_id AS id,
                substr(substr(text, 1, 120), CAST(i AS INTEGER), 5) AS sh
         FROM documents, range(1, 117) t(i)
         WHERE doc_id % 50 <> 0 AND i <= length(substr(text, 1, 120)) - 4),
       shb AS (
         SELECT DISTINCT substr(substr(text, 1, 120), CAST(i AS INTEGER), 5) AS sh
         FROM documents, range(1, 117) t(i)
         WHERE doc_id % 50 = 0 AND i <= length(substr(text, 1, 120)) - 4),
       sizes AS (SELECT id, COUNT(*) AS n_sh FROM shc GROUP BY id),
       hits AS (SELECT shc.id, COUNT(*) AS n_hit FROM shc JOIN shb USING (sh)
                GROUP BY shc.id)
       SELECT s.id AS doc_id, CAST(s.n_sh AS BIGINT) AS n_sh,
              CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
              CAST(CASE WHEN COALESCE(h.n_hit, 0) * 10 >= s.n_sh * 3
                   THEN 1 ELSE 0 END AS BIGINT) AS contaminated
       FROM sizes s LEFT JOIN hits h ON h.id = s.id""",
)
def q_contamination(spark, sf_dir):
    """Benchmark decontamination (functions/dedup_text.contamination_scores):
    fraction of each corpus doc's distinct 5-gram shingles found anywhere
    in a (deterministic doc_id%50==0) benchmark set, flagged at 30%. The
    benchmark collapses to a broadcast distinct-shingle set — the overlap
    probe rides the corpus scan stage."""
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return dd.contamination_scores(
        corpus, bench, threshold_num=3, threshold_den=10, n=5, max_chars=120
    )


# ------------------------------------------------ exact substring dedup
@q(
    "q_substring_dup",
    """WITH pos AS (
         SELECT doc_id, text,
                unnest(generate_series(0, length(text) - 40, 1)) AS g
         FROM documents WHERE length(text) >= 40),
       w AS (SELECT doc_id, substr(text, CAST(g AS INTEGER) + 1, 40) AS w
             FROM pos),
       wd AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
       ws AS (SELECT w FROM wd GROUP BY w HAVING count(*) >= 2),
       dup AS (SELECT doc_id, sum(c) AS dupw FROM wd
               WHERE w IN (SELECT w FROM ws) GROUP BY 1)
       SELECT d.doc_id,
              CAST(length(d.text) - 40 + 1 AS BIGINT) AS total_windows,
              CAST(COALESCE(p.dupw, 0) AS BIGINT) AS dup_windows,
              CAST(COALESCE(p.dupw, 0) * 10000 // (length(d.text) - 40 + 1)
                   AS BIGINT) AS dup_ratio_bp
       FROM documents d LEFT JOIN dup p USING (doc_id)
       WHERE length(d.text) >= 40""",
)
def q_substring_dup(spark, sf_dir):
    """Exact substring-duplication detector (Lee et al. substring-dedup
    family, functions/dedup_text.duplicated_window_stats): per document,
    the count of its 40-char windows (stride 1 — exact for every
    duplicated substring >= 40 chars) that appear in >= 2 distinct
    documents. Codegen end to end: sequence-explode + substring in the
    scan stage, map-side-combined (window, doc) aggregate, small cross-doc
    count, semi-join back; mode='hashed' swaps raw window bytes for
    8-byte xxhash64 keys in the exchange at 100 TB (pytest-asserted equal
    here). NOTE the oracle's ws uses count(*) over wd's distinct
    (window, doc) rows == count(DISTINCT doc_id), mirroring the Spark
    plan's second aggregate exactly."""
    d = _t(spark, sf_dir, "documents")
    return dd.duplicated_window_stats(
        d, text_col="text", id_col="doc_id", length=40, stride=1, min_docs=2
    )


@q(
    "q_substring_dedup",
    """WITH pos AS (
         SELECT doc_id, text,
                unnest(generate_series(0, length(text) - 40, 1)) AS g
         FROM documents WHERE length(text) >= 40),
       w AS (SELECT doc_id, CAST(g AS INTEGER) AS p,
                    substr(text, CAST(g AS INTEGER) + 1, 40) AS wnd
             FROM pos),
       flag AS (SELECT wnd FROM (SELECT DISTINCT doc_id, wnd FROM w)
                GROUP BY wnd HAVING count(*) >= 2),
       hits AS (SELECT DISTINCT doc_id, p FROM w
                WHERE wnd IN (SELECT wnd FROM flag)),
       isl AS (SELECT doc_id, p,
                      CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                                IS NOT NULL
                            AND p <= lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 40
                           THEN 0 ELSE 1 END AS brk
               FROM hits),
       grp AS (SELECT doc_id, p,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp_id
               FROM isl),
       spans AS (SELECT doc_id, grp_id, min(p) AS s, max(p) + 40 AS e
                 FROM grp GROUP BY 1, 2),
       segs AS (
         SELECT doc_id,
                coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs,
                s AS ge
         FROM spans
         UNION ALL
         SELECT sp.doc_id, max(sp.e), length(d.text)
         FROM spans sp JOIN documents d USING (doc_id)
         GROUP BY sp.doc_id, length(d.text)),
       clean AS (SELECT segs.doc_id,
                        string_agg(substr(d.text, gs + 1, ge - gs), ''
                                   ORDER BY gs) AS ct
                 FROM segs JOIN documents d USING (doc_id)
                 GROUP BY segs.doc_id),
       stats AS (SELECT doc_id, count(*) AS n_spans, sum(e - s) AS removed
                 FROM spans GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_dup_spans,
              CAST(coalesce(st.removed, 0) AS BIGINT) AS dup_chars_removed,
              CAST(length(coalesce(c.ct, d.text)) AS BIGINT) AS clean_len,
              md5(coalesce(c.ct, d.text)) AS clean_md5
       FROM documents d
       LEFT JOIN stats st USING (doc_id)
       LEFT JOIN clean c USING (doc_id)""",
)
def q_substring_dedup(spark, sf_dir):
    """Exact substring DEDUP — the Lee-et-al transform, not just the
    detector (functions/dedup_text.remove_duplicated_spans): excise from
    every document every maximal span covered by 40-char windows shared by
    >= 2 distinct documents, and emit the cleaned corpus fingerprint
    (span count, chars removed, cleaned length, cleaned-text md5 — the md5
    pins the excision CONTENT, not just the arithmetic). The oracle
    reconstructs the identical spans with gaps-and-islands SQL and
    reassembles the cleaned text with string_agg over the untouched
    segments."""
    d = _t(spark, sf_dir, "documents")
    from maestro_spark.functions import dedup_text as dd3

    out = dd3.remove_duplicated_spans(
        d.select("doc_id", "text"), length=40, min_docs=2
    )
    return out.select(
        "doc_id",
        "n_dup_spans",
        "dup_chars_removed",
        F.length("text").cast("long").alias("clean_len"),
        F.md5("text").alias("clean_md5"),
    )


def _cdc_demo_dir() -> str:
    from maestro_spark.queries2 import _CDC_DEMO_DIR

    return _CDC_DEMO_DIR


@q(
    "q_ivm_role",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_ivm_role(spark, sf_dir):
    """Declarative materialized view (r5: ivm.MaterializedView) — the
    generalized IVM machinery maintaining a USER-DECLARED per-(conv_id,
    role) aggregate (turn count, total chars, last ts), refreshed in TWO
    staged delta refreshes off the change feed (mid-chain then to current,
    exercising the incremental path with the multi-key group encoding and
    vanished-group tombstones), must equal DuckDB's direct aggregate over
    the replayed final state of the same log segments."""
    from maestro_spark.ivm import MaterializedView
    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    view = MaterializedView(
        spark, table, f"{_CDC_DEMO_DIR}/role_view",
        key_cols=["conv_id", "role"],
        aggs=[
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long"))
             .alias("total_chars"),
            F.max("ts").alias("last_ts"),
        ],
        columns=["conv_id", "role", "text", "ts"],
        query_id="ivm-role-stats",
    )
    sids = [s for s in table.snapshot_ids() if s > 0]
    view.refresh(to_snapshot=sids[len(sids) // 2])  # no-op when current
    view.refresh()
    return view.read()


ORACLES["q_ivm_role"] = f"""
    WITH w AS (
      SELECT conv_id, turn_idx,
             arg_max(text, op_lsn) AS text,
             arg_max(role, op_lsn) AS role,
             arg_max(ts, op_lsn) AS ts,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx)
    SELECT conv_id, role,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(length(COALESCE(text, ''))) AS BIGINT) AS total_chars,
           MAX(ts) AS last_ts
    FROM w WHERE op <> 'delete' GROUP BY conv_id, role"""


@q(
    "q_sql_dml",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_sql_dml(spark, sf_dir):
    """SQL write statements (r5: sqldml) driven through the lake's SQL
    front door end-to-end on a scratch clone: an UPDATE, a DELETE, and a
    MERGE INTO (source = a subquery over the table's own pre-statement
    view) — each one fenced, exactly-once, feed-visible — must land the
    same final state DuckDB computes by composing the equivalent
    transformations over the replayed base."""
    import shutil

    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    base = _ensure_cdc_demo_lake(spark)
    root = f"{_CDC_DEMO_DIR}/sqldml_lake"
    shutil.rmtree(root, ignore_errors=True)
    table = base.clone(root)
    table.sql("UPDATE sq SET tool = 'sql-edit' WHERE role = 'assistant'",
              name="sq")
    table.sql("DELETE FROM sq WHERE turn_idx >= 5", name="sq")
    table.sql("""
        MERGE INTO sq USING (
          SELECT conv_id, turn_idx, upper(text) AS text
          FROM sq WHERE turn_idx = 0
        ) AS s
        ON s.conv_id = t.conv_id AND s.turn_idx = t.turn_idx
        WHEN MATCHED THEN UPDATE SET text = s.text
    """, name="sq")
    return table.read().select("conv_id", "turn_idx", "text", "role", "tool")


ORACLES["q_sql_dml"] = f"""
    WITH base AS (
      SELECT conv_id, turn_idx,
             arg_max(text, op_lsn) AS text,
             arg_max(role, op_lsn) AS role,
             arg_max(tool, op_lsn) AS tool,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx)
    SELECT conv_id, turn_idx,
           CASE WHEN turn_idx = 0 THEN upper(text) ELSE text END AS text,
           role,
           CASE WHEN role = 'assistant' THEN 'sql-edit' ELSE tool END AS tool
    FROM base WHERE op <> 'delete' AND turn_idx < 5"""


@q(
    "q_scd2",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_scd2(spark, sf_dir):
    """Type-2 SCD history (r5 cont.: LakeTable.scd2 over the all-changes
    feed): one row per retained version of each key with its [valid_from,
    valid_to) LSN interval and is_current flag. Version granularity is the
    per-epoch batch winner (the merge never persists intra-epoch
    intermediates) — with the demo replay's one-epoch-per-segment mapping,
    DuckDB restates it exactly as a per-(key, filename) arg_max followed
    by DISTINCT (COW re-statement dedup) and a lead() window."""
    from maestro_spark.queries2 import _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    return table.scd2().select(
        "conv_id", "turn_idx", "text", "role", "op",
        "valid_from_lsn", "valid_to_lsn", "is_current",
    )


ORACLES["q_scd2"] = f"""
    WITH pe AS (
      SELECT conv_id, turn_idx, filename,
             -- struct_pack so a delete event's NULL payload survives
             -- (DuckDB's bare arg_max skips NULL values)
             arg_max(struct_pack(text := text, role := role, op := op),
                     op_lsn) AS w,
             MAX(op_lsn) AS lsn
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet',
                        filename=true)
      GROUP BY conv_id, turn_idx, filename),
    versions AS (
      SELECT DISTINCT conv_id, turn_idx,
             struct_extract(w, 'text') AS text,
             struct_extract(w, 'role') AS role,
             CASE WHEN struct_extract(w, 'op') = 'delete'
                  THEN 'delete' ELSE 'upsert' END AS op,
             lsn
      FROM pe)
    SELECT conv_id, turn_idx, text, role, op,
           lsn AS valid_from_lsn,
           LEAD(lsn) OVER w AS valid_to_lsn,
           (LEAD(lsn) OVER w IS NULL AND op <> 'delete') AS is_current
    FROM versions
    WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY lsn)"""


@q(
    "q_sql_txn",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_sql_txn(spark, sf_dir):
    """SQL transaction script (r5 cont.: sqldml.parse_script/execute_script)
    end-to-end on a scratch clone: BEGIN; UPDATE; DELETE; INSERT…SELECT;
    COMMIT — published as ONE atomic adopt, with the INSERT's SELECT
    reading the BRANCH state left by the earlier statements (post-delete
    per-conversation turn counts). Must equal DuckDB composing the same
    three transformations in order over the replayed base."""
    import shutil

    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    base = _ensure_cdc_demo_lake(spark)
    root = f"{_CDC_DEMO_DIR}/sqltxn_lake"
    shutil.rmtree(root, ignore_errors=True)
    table = base.clone(root)
    table.sql("""
        BEGIN;
        UPDATE sx SET tool = 'txn' WHERE role = 'user';
        DELETE FROM sx WHERE turn_idx >= 6;
        INSERT INTO sx (conv_id, turn_idx, role, text)
          SELECT conv_id, 100, 'summary',
                 CONCAT(CAST(COUNT(*) AS STRING), ' turns')
          FROM sx GROUP BY conv_id;
        COMMIT;
    """, name="sx")
    return table.read().select("conv_id", "turn_idx", "text", "role", "tool")


ORACLES["q_sql_txn"] = f"""
    WITH base AS (
      SELECT conv_id, turn_idx,
             arg_max(text, op_lsn) AS text,
             arg_max(role, op_lsn) AS role,
             arg_max(tool, op_lsn) AS tool,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx),
    after_upd AS (
      SELECT conv_id, turn_idx, text, role,
             CASE WHEN role = 'user' THEN 'txn' ELSE tool END AS tool
      FROM base WHERE op <> 'delete'),
    after_del AS (SELECT * FROM after_upd WHERE turn_idx < 6)
    SELECT conv_id, turn_idx, text, role, tool FROM after_del
    UNION ALL
    SELECT conv_id, 100 AS turn_idx,
           CAST(COUNT(*) AS VARCHAR) || ' turns' AS text,
           'summary' AS role, NULL AS tool
    FROM after_del GROUP BY conv_id"""


@q(
    "q_bm25",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_bm25(spark, sf_dir):
    """BM25-ranked OR search on the maintained inverted text index (r5):
    the probe derives per-term document frequencies from its own pruned
    candidate scan, doc lengths ride the term rows, and corpus stats come
    from the O(delta)-maintained _doclen side table — the scores must
    equal DuckDB computing the same Robertson-idf BM25 (k1=1.2, b=0.75)
    from the replayed live state with the same tokenizer, rounded to 6
    decimals on both sides."""
    from maestro_spark.index_maint import MaintainedTextIndex
    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    idx = MaintainedTextIndex(
        spark, table, f"{_CDC_DEMO_DIR}/text_idx", n_buckets=16
    )
    idx.refresh()
    return idx.search_bm25("7 3", mode="or")


ORACLES["q_bm25"] = f"""
    WITH base AS (
      SELECT conv_id, turn_idx,
             arg_max(text, op_lsn) AS text,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx),
    live AS (
      SELECT conv_id, turn_idx, text FROM base
      WHERE op <> 'delete' AND text IS NOT NULL),
    dl AS (
      SELECT conv_id, turn_idx,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS dl
      FROM live),
    corpus AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl
      FROM dl),
    toks AS (
      SELECT conv_id, turn_idx, t.tok
      FROM live, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok IN ('7', '3')),
    tf AS (
      SELECT conv_id, turn_idx, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM toks GROUP BY conv_id, turn_idx, tok),
    df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
    SELECT t.conv_id, t.turn_idx,
           ROUND(SUM(
             ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5))
             * t.tf * 2.2
             / (t.tf + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / c.avgdl))
           ), 6) AS score
    FROM tf t
    JOIN df d USING (tok)
    JOIN dl l ON l.conv_id = t.conv_id AND l.turn_idx = t.turn_idx
    CROSS JOIN corpus c
    GROUP BY t.conv_id, t.turn_idx"""


@q(
    "q_phrase",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_phrase(spark, sf_dir):
    """PHRASE search on the maintained inverted text index (r5): the AND
    index probe yields candidates, then one bucket-pruned base read
    post-filters adjacency+order with a single regex. The oracle counts
    the same phrase by token-array adjacency over the replayed live state
    (RE2 has no lookarounds, so DuckDB cannot run the engine's regex
    verbatim) — equivalent whenever the phrase cannot self-overlap, which
    'turn 7 rev' (distinct tokens) guarantees. Certifies the tokenizer,
    candidate completeness, and the adjacency semantics across engines."""
    from maestro_spark.index_maint import MaintainedTextIndex
    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    idx = MaintainedTextIndex(
        spark, table, f"{_CDC_DEMO_DIR}/text_idx", n_buckets=16
    )
    idx.refresh()
    return idx.search_phrase("turn 7 rev")


ORACLES["q_phrase"] = f"""
    WITH base AS (
      SELECT conv_id, turn_idx,
             arg_max(text, op_lsn) AS text,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx),
    live AS (
      SELECT conv_id, turn_idx, text FROM base
      WHERE op <> 'delete' AND text IS NOT NULL),
    toks AS (
      SELECT conv_id, turn_idx,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS arr
      FROM live),
    pos AS (
      SELECT conv_id, turn_idx, arr,
             unnest(arr) AS tok, generate_subscripts(arr, 1) AS i
      FROM toks)
    SELECT conv_id, turn_idx, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM pos
    WHERE tok = 'turn' AND i + 2 <= len(arr)
      AND arr[i + 1] = '7' AND arr[i + 2] = 'rev'
    GROUP BY conv_id, turn_idx"""


@q(
    "q_sql_mv",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_sql_mv(spark, sf_dir):
    """Materialized-view DDL through the SQL front door (r5: sqldml
    CREATE/REFRESH MATERIALIZED VIEW → ivm.declare/load): the statement
    text declares a per-(conv_id, role) aggregate view, the declaration is
    PERSISTED in the view root, and a follow-up REFRESH statement —
    recompiled from the persisted declaration alone, no query restated —
    folds the base's delta in. The result must equal DuckDB's direct
    aggregate over the replayed final state. Exercises the statement
    grammar, expression-text persistence, literal-stripped scan pruning,
    and the load-by-path refresh end-to-end."""
    import shutil

    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    root = f"{_CDC_DEMO_DIR}/sql_mv"
    shutil.rmtree(root, ignore_errors=True)
    table.sql(
        f"CREATE MATERIALIZED VIEW '{root}' AS "
        "SELECT conv_id, role, count(*) AS n_turns, "
        "sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS n_tool, "
        "max(turn_idx) AS last_turn "
        "FROM t GROUP BY conv_id, role"
    )
    from maestro_spark import ivm

    # CREATE must have carried the cursor to the base's current snapshot;
    # the REFRESH statement then recompiles purely from the persisted
    # declaration (the staged-DELTA refresh path is q_ivm_role's oracle;
    # SQL-DML-driven delta refresh is pinned in tests/test_sqldml.py)
    sids = [s for s in table.snapshot_ids() if s > 0]
    assert ivm.load(spark, root, base=table).applied_through() >= sids[-1]
    return table.sql(f"REFRESH MATERIALIZED VIEW '{root}'")


ORACLES["q_sql_mv"] = f"""
    WITH w AS (
      SELECT conv_id, turn_idx,
             arg_max(role, op_lsn) AS role,
             arg_max(tool, op_lsn) AS tool,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx)
    SELECT conv_id, role,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tool,
           MAX(turn_idx) AS last_turn
    FROM w WHERE op <> 'delete' GROUP BY conv_id, role"""


@q(
    "q_sql_index",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_sql_index(spark, sf_dir):
    """Index DDL through the SQL front door (r5 late: sqldml CREATE INDEX →
    index_maint.declare_index): the statement declares a persisted
    feed-maintained text index on a scratch root, a follow-up REFRESH INDEX
    statement recompiles it by path alone, and a probe through the loaded
    index must equal DuckDB tokenizing the replayed live state with the
    same rules — certifying the statement grammar, the persisted index
    declaration, and the load-by-path refresh end-to-end on top of the
    already-certified index machinery (q_term_search)."""
    from maestro_spark import index_maint as IM
    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    root = f"{_CDC_DEMO_DIR}/sql_idx"
    IM._INDEXES.remove(table, root)
    table.sql(
        f"CREATE INDEX '{root}' ON t USING text (text) WITH (n_buckets = 8)"
    )
    table.sql(f"REFRESH INDEX '{root}'")  # load-by-path, cursor no-op
    return IM.load_index(spark, root, base=table).search("rev")


ORACLES["q_sql_index"] = f"""
    WITH base AS (
      SELECT conv_id, turn_idx,
             arg_max(text, op_lsn) AS text,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx),
    live AS (SELECT conv_id, turn_idx, text FROM base WHERE op <> 'delete'),
    toks AS (
      SELECT conv_id, turn_idx, t.tok
      FROM live, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(tok)
      WHERE t.tok <> '')
    SELECT conv_id, turn_idx, CAST(COUNT(*) AS INTEGER) AS tf
    FROM toks WHERE tok = 'rev' GROUP BY conv_id, turn_idx"""


@q(
    "q_value_index",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_value_index(spark, sf_dir):
    """Exact-value secondary index (M54): CREATE INDEX … USING value over
    the demo lake's ``tool`` column, then a lookup through the persisted,
    load-by-path index must return exactly the keys DuckDB finds by
    filtering the replayed live state — certifying the one-partition
    equality probe, the opaque-value (no tokenize/lowercase) contract, and
    the declaration round-trip end-to-end."""
    from maestro_spark import index_maint as IM
    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    root = f"{_CDC_DEMO_DIR}/val_idx"
    IM._INDEXES.remove(table, root)
    table.sql(
        f"CREATE INDEX '{root}' ON t USING value (tool) WITH (n_buckets = 8)"
    )
    return IM.load_index(spark, root, base=table).lookup("python")


ORACLES["q_value_index"] = f"""
    WITH w AS (
      SELECT conv_id, turn_idx,
             arg_max(tool, op_lsn) AS tool,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx)
    SELECT conv_id, turn_idx
    FROM w WHERE op <> 'delete' AND tool = 'python'"""


@q(
    "q_value_index_comp",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_value_index_comp(spark, sf_dir):
    """COMPOSITE value index (M54 cont.): a (role, tool) index's
    arity-checked lookup must return exactly the keys DuckDB finds with a
    two-column equality filter over the replayed live state — certifying
    the separator-encoded tuple terms, the all-non-null indexing rule,
    and the composite SQL declaration end-to-end."""
    from maestro_spark import index_maint as IM
    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    root = f"{_CDC_DEMO_DIR}/val_idx_comp"
    IM._INDEXES.remove(table, root)
    table.sql(
        f"CREATE INDEX '{root}' ON t USING value (role, tool) "
        "WITH (n_buckets = 8)"
    )
    return IM.load_index(spark, root, base=table).lookup("assistant", "search")


ORACLES["q_value_index_comp"] = f"""
    WITH w AS (
      SELECT conv_id, turn_idx,
             arg_max(role, op_lsn) AS role,
             arg_max(tool, op_lsn) AS tool,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx)
    SELECT conv_id, turn_idx
    FROM w WHERE op <> 'delete' AND role = 'assistant' AND tool = 'search'"""


@q("q_media_decode")  # rows-only: real stdlib PNG/WAV/JPEG/AVI strict decode
def q_media_decode(spark, sf_dir):
    """Strict-mode multimodal decode over REAL (deterministic, stdlib-
    generated) PNG/JPEG, WAV and uncompressed-AVI payloads — the un-stubbed
    codec paths (functions/multimodal.decode_png / decode_wav,
    functions/jpeg.py, functions/video.py) driven through the same
    Arrow-batched mapInPandas plumbing as the fake-codec q_media_features.
    Feature vectors fold to quantized BIGINT checksums (the driver
    canonicalizer cannot hash array cells); pytest keeps the array-typed
    and pixel-exact assertions."""
    from maestro_spark.functions import multimodal as mm

    media = mm.synthetic_real_media(spark, n=16, with_video=True)
    checksum = F.aggregate(
        F.transform("feature", lambda x: F.floor(x * 1000).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc * 31 + v,
    )
    img = mm.extract_image_features(media, strict=True).select(
        "media_id", F.lit("image").alias("kind"), "n_bytes",
        checksum.alias("feature_checksum"),
    )
    aud = mm.extract_audio_features(media, strict=True).select(
        "media_id", F.lit("audio").alias("kind"), "n_bytes",
        checksum.alias("feature_checksum"),
    )
    vid = mm.extract_video_features(media, strict=True).select(
        "media_id", F.lit("video").alias("kind"), "n_bytes",
        checksum.alias("feature_checksum"),
    )
    return img.unionByName(aud).unionByName(vid)


@q(
    "q_sql_timetravel",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_sql_timetravel(spark, sf_dir):
    """Inline SQL time travel (r5): the statement text pins the view with
    Delta's ``VERSION AS OF`` — here via a named TAG — and the per-role
    aggregate over that historical snapshot must equal DuckDB replaying
    ONLY the log segments the pinned epoch had ingested. Certifies the
    clause grammar, tag resolution, and that a pinned read serves the
    immutable historical state regardless of every commit that followed."""
    from maestro_spark.queries2 import _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    # the snapshot produced by replay epoch 1 (segments 0-1 applied)
    (sid,) = [
        s for s in table.snapshot_ids()
        if table.snapshot(s).epoch_key == "demo:1"
    ]
    table.tag("after-epoch-1", sid, replace=True)
    return table.sql(
        "SELECT role, count(*) AS n_turns, "
        "count(DISTINCT conv_id) AS n_convs "
        "FROM t VERSION AS OF 'after-epoch-1' GROUP BY role"
    )


ORACLES["q_sql_timetravel"] = f"""
    WITH w AS (
      SELECT conv_id, turn_idx,
             arg_max(role, op_lsn) AS role,
             arg_max(op, op_lsn) AS op
      FROM read_parquet(['{_cdc_demo_dir()}/log/segment-00000.parquet',
                         '{_cdc_demo_dir()}/log/segment-00001.parquet'])
      GROUP BY conv_id, turn_idx)
    SELECT role, CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
    FROM w WHERE op <> 'delete' GROUP BY role"""


@q(
    "q_sql_warehouse",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_sql_warehouse(spark, sf_dir):
    """Warehouse SQL front door (r5 final): a fresh warehouse is seeded
    from the demo lake, then one statement sequence provisions a derived
    table with CTAS, routes an UPDATE and a DELETE to it by target name,
    and aggregates through the catalog SELECT — the result must equal
    DuckDB composing the same transforms over the replayed log. Certifies
    provisioning, target routing, the CTAS upsert epoch, and that the
    warehouse door serves the same fenced builders as the table door."""
    import os as _os
    import shutil

    from maestro_spark.lake import warehouse_sql
    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    base = _ensure_cdc_demo_lake(spark)
    wh = f"{_CDC_DEMO_DIR}/wh"
    shutil.rmtree(wh, ignore_errors=True)
    _os.makedirs(wh)
    base.clone(f"{wh}/conv")
    warehouse_sql(spark, wh, "CREATE TABLE user_turns WITH (n_buckets = 4) "
                             "AS SELECT conv_id, turn_idx, text "
                             "FROM conv WHERE role = 'user'")
    warehouse_sql(spark, wh, "UPDATE user_turns SET text = upper(text) "
                             "WHERE turn_idx = 0")
    warehouse_sql(spark, wh, "DELETE FROM user_turns WHERE turn_idx > 5")
    return warehouse_sql(spark, wh, """
        SELECT conv_id, count(*) AS n_turns,
               max(turn_idx) AS last_turn,
               min(text) AS first_text
        FROM user_turns GROUP BY conv_id""")


ORACLES["q_sql_warehouse"] = f"""
    WITH w AS (
      SELECT conv_id, turn_idx,
             arg_max(text, op_lsn) AS text,
             arg_max(role, op_lsn) AS role,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx),
    ut AS (
      SELECT conv_id, turn_idx,
             CASE WHEN turn_idx = 0 THEN upper(text) ELSE text END AS text
      FROM w WHERE op <> 'delete' AND role = 'user' AND turn_idx <= 5)
    SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
           MAX(turn_idx) AS last_turn, MIN(text) AS first_text
    FROM ut GROUP BY conv_id"""


@q(
    "q_mv_where",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_mv_where(spark, sf_dir):
    """WHERE-filtered materialized view (r5 final): a per-conversation
    aggregate over ONLY tool-calling turns, declared through the SQL front
    door with a pre-aggregation filter and refreshed by path — must equal
    DuckDB filtering + aggregating the replayed final state the same way.
    Certifies that the persisted filter reaches both refresh paths."""
    import shutil

    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    root = f"{_CDC_DEMO_DIR}/mv_where"
    shutil.rmtree(root, ignore_errors=True)
    table.sql(
        f"CREATE MATERIALIZED VIEW '{root}' AS "
        "SELECT conv_id, count(*) AS n_tool_turns, "
        "max(turn_idx) AS last_tool_turn "
        "FROM t WHERE tool IS NOT NULL GROUP BY conv_id"
    )
    return table.sql(f"REFRESH MATERIALIZED VIEW '{root}'")


ORACLES["q_mv_where"] = f"""
    WITH w AS (
      SELECT conv_id, turn_idx,
             arg_max(tool, op_lsn) AS tool,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx)
    SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_tool_turns,
           MAX(turn_idx) AS last_tool_turn
    FROM w WHERE op <> 'delete' AND tool IS NOT NULL
    GROUP BY conv_id"""


_COPY_DEMO_DIR = "/tmp/maestro_copy_demo"


def _ensure_copy_fixture() -> str:
    """Deterministic incoming-file fixture: two clean CSVs + one with a
    planted corrupt row — both engines read these same bytes."""
    import os as _os

    src = f"{_COPY_DEMO_DIR}/incoming"
    if not _os.path.exists(f"{src}/c.csv"):
        _os.makedirs(src, exist_ok=True)
        for name, rows in (
            ("a.csv", [f"conv_{i:03d},0,user,text a{i}" for i in range(40)]),
            ("b.csv", [f"conv_{i:03d},1,assistant,text b{i}" for i in range(40)]),
            ("c.csv", [f"conv_{i:03d},2,user,text c{i}" for i in range(20)]
                      + ["conv_bad,not_an_int,user,broken row"]),
        ):
            with open(f"{src}/{name}.tmp", "w") as fh:
                fh.write("conv_id,turn_idx,role,text\n")
                fh.write("\n".join(rows) + "\n")
            _os.replace(f"{src}/{name}.tmp", f"{src}/{name}")
    return src


@q(
    "q_copy_into",
    None,  # bound at registration below (needs the fixture path literal)
)
def q_copy_into(spark, sf_dir):
    """COPY INTO (r5 final): idempotent per-file bulk load through the SQL
    front door — load the fixture TWICE (the second pass must skip every
    file), then aggregate the table; the result must equal DuckDB reading
    the same CSV bytes with the same validity rule (the planted corrupt
    row quarantines, never lands). Certifies the grammar, the per-file
    exactly-once keying, and the typed corrupt-record channel."""
    import shutil

    from maestro_spark.lake import LakeTable

    src = _ensure_copy_fixture()
    root = f"{_COPY_DEMO_DIR}/lake"
    shutil.rmtree(root, ignore_errors=True)
    table = LakeTable.create(spark, root, n_buckets=4)
    for _ in range(2):  # second pass: files_loaded must be 0 (idempotent)
        table.sql(f"COPY INTO t FROM '{src}' FILEFORMAT = csv", name="t")
    return table.sql(
        "SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS last_turn, "
        "min(text) AS first_text FROM t GROUP BY conv_id"
    )


ORACLES["q_copy_into"] = f"""
    SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
           MAX(turn_idx) AS last_turn, MIN(text) AS first_text
    FROM read_csv('{_COPY_DEMO_DIR}/incoming/*.csv',
                  columns = {{'conv_id': 'VARCHAR', 'turn_idx': 'INTEGER',
                              'role': 'VARCHAR', 'text': 'VARCHAR'}},
                  header = true, ignore_errors = true)
    GROUP BY conv_id"""


@q(
    "q_truncate",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_truncate(spark, sf_dir):
    """TRUNCATE TABLE (r5 cont., M49) driven through the SQL front door on
    a scratch clone: one fenced delete-all epoch of TOMBSTONES, then a SQL
    re-insert. The result carries (a) the post-truncate live rows — only
    the re-inserted ones — and (b) a VERSION AS OF count proving the
    truncated rows are remembered, not erased (time travel still serves
    the full pre-truncate state). DuckDB restates both from the replayed
    log: the literal re-inserted rows plus the live-row count of the
    base's final state."""
    import shutil

    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    base = _ensure_cdc_demo_lake(spark)
    root = f"{_CDC_DEMO_DIR}/truncate_lake"
    shutil.rmtree(root, ignore_errors=True)
    table = base.clone(root)
    pre = table.snapshot().snapshot_id
    table.sql("TRUNCATE TABLE tq", name="tq")
    table.sql(
        "INSERT INTO tq (conv_id, turn_idx, role, text) VALUES "
        "('fresh', 0, 'user', 'after truncate'), "
        "('fresh', 1, 'assistant', 'row two')",
        name="tq",
    )
    live = table.read().select("conv_id", "turn_idx", "text")
    hist = table.sql(
        f"SELECT CAST(count(*) AS LONG) AS pre_truncate_rows "
        f"FROM tq VERSION AS OF {pre}",
        name="tq",
    )
    return live.crossJoin(hist)


ORACLES["q_truncate"] = f"""
    WITH base AS (
      SELECT conv_id, turn_idx, arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx),
    pre AS (
      SELECT CAST(count(*) AS BIGINT) AS pre_truncate_rows
      FROM base WHERE op <> 'delete')
    SELECT v.conv_id, v.turn_idx, v.text, pre.pre_truncate_rows
    FROM (VALUES ('fresh', 0, 'after truncate'),
                 ('fresh', 1, 'row two')) AS v(conv_id, turn_idx, text), pre"""


@q(
    "q_mv_join",
    None,  # bound at registration below (needs the demo-log path literal)
)
def q_mv_join(spark, sf_dir):
    """Dimension-enriched materialized view (r5 cont.): a per-conversation
    aggregate over base rows LEFT-joined to a tool→weight dim lake table,
    declared through the SQL front door's JOIN USING grammar and refreshed
    by path — must equal DuckDB joining the replayed final state against
    the same dim values. Certifies the join grammar, the broadcast
    enrichment, and the (base,dim)-encoded refresh cursor."""
    import os as _os
    import shutil

    from pyspark.sql import types as T

    from maestro_spark.dml import upsert
    from maestro_spark.lake import LakeTable
    from maestro_spark.queries2 import _CDC_DEMO_DIR, _ensure_cdc_demo_lake

    table = _ensure_cdc_demo_lake(spark)
    dim_root = f"{_CDC_DEMO_DIR}/tool_dim"
    if not _os.path.isdir(f"{dim_root}/_snapshots"):
        shutil.rmtree(dim_root, ignore_errors=True)
        dim = LakeTable.create(spark, dim_root, n_buckets=2,
                               payload_schema=T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("weight", T.LongType(), True)]))
        upsert(dim, spark.createDataFrame(
            [("search", 0, "search", 10), ("python", 0, "python", 100),
             ("browser", 0, "browser", 1)],
            "conv_id string, turn_idx int, tool string, weight long"),
            query_id="dimload")
    root = f"{_CDC_DEMO_DIR}/mv_join"
    shutil.rmtree(root, ignore_errors=True)
    table.sql(
        f"CREATE MATERIALIZED VIEW '{root}' AS "
        "SELECT conv_id, count(*) AS n_turns, "
        "sum(weight) AS tool_cost "
        f"FROM t LEFT JOIN '{dim_root}' USING (tool) GROUP BY conv_id"
    )
    return table.sql(f"REFRESH MATERIALIZED VIEW '{root}'")


ORACLES["q_mv_join"] = f"""
    WITH live AS (
      SELECT conv_id, turn_idx,
             arg_max(tool, op_lsn) AS tool,
             arg_max(op, op_lsn) AS op
      FROM read_parquet('{_cdc_demo_dir()}/log/segment-*.parquet')
      GROUP BY conv_id, turn_idx),
    dim AS (SELECT * FROM (VALUES ('search', 10), ('python', 100),
                                  ('browser', 1)) AS d(tool, weight))
    SELECT live.conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
           SUM(dim.weight) AS tool_cost
    FROM live LEFT JOIN dim ON live.tool = dim.tool
    WHERE live.op <> 'delete'
    GROUP BY live.conv_id"""
