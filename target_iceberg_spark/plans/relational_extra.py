"""Extended relational surface: full outer join, correlated scalar
subquery (SQL entry point), cube, pivot, conditional functions,
Python UDTF, approximate distinct (SURVEY.md §2B extensions).

subquery_scalar deliberately goes through ``spark.sql`` over registered
temp views — exercising the SQL front door and Catalyst's subquery
decorrelation rather than hand-building the equivalent join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from target_iceberg_spark.functions.hashing import MD5_QUARTER_HEX, md5_quarter
from target_iceberg_spark.plans.registry import register
from target_iceberg_spark.sources.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "join_full_outer",
    oracle="""
SELECT COALESCE(c.c_nationkey, -1) AS nationkey,
       COUNT(c.c_custkey) AS n_customers,
       COUNT(s.s_suppkey) AS n_suppliers
FROM customer c
FULL OUTER JOIN supplier s ON s.s_nationkey = c.c_nationkey
GROUP BY COALESCE(c.c_nationkey, -1)
""",
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join preserving rows from both sides (nations that
    have customers but no suppliers and vice versa)."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        cust.join(supp, F.col("s_nationkey") == F.col("c_nationkey"), "full_outer")
        .groupBy(F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nationkey"))
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.count("s_suppkey").alias("n_suppliers"),
        )
    )


SUBQUERY_SCALAR_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
WHERE c_acctbal > 2 * (
    SELECT AVG(c2.c_acctbal) FROM customer c2
    WHERE c2.c_nationkey = c.c_nationkey
)
"""


@register("subquery_scalar", oracle=SUBQUERY_SCALAR_SQL, tags=("subquery", "sql"))
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL entry point — Catalyst
    decorrelates it into an aggregate + join (no per-row re-execution,
    which is what makes it viable at scale)."""
    for name in ("customer",):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(SUBQUERY_SCALAR_SQL)


@register(
    "agg_cube",
    oracle="""
SELECT n_name, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_spend
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, o_orderpriority)
""",
    tags=("aggregate",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (nation, priority): all four grouping-set combinations
    in one pass (Expand + single shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .cube("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )


@register(
    "agg_pivot",
    oracle=f"""
SELECT user_id,
       {", ".join(f"ROUND(SUM(value) FILTER (WHERE event_type = '{t}'), 2) AS v_{t}"
                  for t in EVENT_TYPES)}
FROM events
GROUP BY user_id
""",
    tags=("aggregate", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns (explicit value list => no extra
    distinct-values job; Spark rewrites to conditional aggregates, the
    same thing the oracle's FILTER clauses express)."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.round(F.sum("value"), 2))
    )
    return pivoted.select(
        "user_id", *[F.col(t).alias(f"v_{t}") for t in EVENT_TYPES]
    )


@register(
    "fn_conditional",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low' END AS price_band,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_norm,
       LEAST(o_totalprice, 250000.0) AS capped_price,
       GREATEST(o_totalprice - 5000.0, 0.0) AS after_fee
FROM orders
""",
    tags=("function", "conditional"),
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression family: CASE/NULLIF/COALESCE/LEAST/GREATEST."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_norm"
        ),
        F.least(F.col("o_totalprice"), F.lit(250000.0)).alias("capped_price"),
        F.greatest(F.col("o_totalprice") - 5000.0, F.lit(0.0)).alias("after_fee"),
    )


@register(
    "udtf_tokens",
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(string_split(lower(text), ' '), 1) AS INT) AS pos,
       unnest(string_split(lower(text), ' ')) AS token
FROM documents
WHERE doc_id < 50
""",
    tags=("udtf",),
)
def udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row -> N output rows, tokenizing
    with positions through a LATERAL join. Bounded to 50 docs — UDTFs
    are row-at-a-time Python, the demo exists for the mechanism; the
    hot-path equivalent is posexplode(split(...))."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, token string")
    class TokenizeUDTF:
        def eval(self, doc_id: int, text: str):
            if text is None:  # NULL text -> zero rows, like unnest(NULL)
                return
            for i, tok in enumerate(text.lower().split(" ")):
                yield doc_id, i + 1, tok

    spark.udtf.register("engine_tokenize", TokenizeUDTF)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT u.doc_id, u.pos, u.token "
        "FROM documents d, LATERAL engine_tokenize(d.doc_id, d.text) u "
        "WHERE d.doc_id < 50"
    )


APPROX_RTOL = 0.15  # 3x the rsd=0.05 contract — the hash-pinned bound
APPROX_SAMPLE_HEX = MD5_QUARTER_HEX  # md5 1st hex char -> 1/4


def _md5_quarter(col):
    """Deterministic 1/4 event sample — the shared md5-prefix quarter
    (functions/hashing.py): identical on both engines, stable across
    partitionings and rounds."""
    return md5_quarter(col)


@register(
    "agg_approx_distinct",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(DISTINCT CASE WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1)
                                     IN ('0','1','2','3') THEN user_id END) AS BIGINT)
           AS exact_users_audit,
       CAST(COUNT(DISTINCT CASE WHEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1)
                                     IN ('0','1','2','3') THEN value END) AS BIGINT)
           AS exact_values_audit,
       TRUE AS users_within_rtol,
       TRUE AS values_within_rtol,
       TRUE AS full_est_covers_audit_users,
       TRUE AS full_est_covers_audit_values
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("aggregate", "approx", "audit"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimates per event type, with the
    exact-distinct audit arm BOUNDED to an md5-deterministic 1/4
    sample (round 10; the r9 full-corpus exact arm tripled warm time
    via the multi-distinct expand — VERDICT r9 watch item 1).

    Two branches, joined on the tiny event_type key:
    - PRODUCT: one full-corpus pass computing only the two HLL++
      sketches — no COUNT DISTINCT beside them, so there is NO
      expand; partial sketches combine map-side and only register
      files shuffle. This is the 100 TB path.
    - AUDIT: the deterministic quarter (first md5 hex char of
      event_id in {APPROX_SAMPLE_HEX}) carries BOTH exact distincts
      and sketches; |est-exact|/exact <= {APPROX_RTOL} folds to the
      oracle-asserted booleans. The expand still happens here, but
      over 1/4 of the rows — and at 100 TB the sample fraction is
      the knob that keeps the audit affordable.
    The full-corpus sketch is cross-checked against the audit arm
    without full exact counts: true_full >= exact_audit, so
    est_full >= (1-rtol)*exact_audit whenever the sketch honors its
    error contract — a derivable boolean that keeps the product
    branch in the checked output (un-prunable). rsd=0.05 (Spark's
    default, ~512 registers): tighter rsd inflates the register file
    quadratically — rsd=0.01 was the 2nd-slowest bench entry for
    precision the contract doesn't need; tests/test_approx.py still
    pins the observed 5% error on the deterministic testdata."""
    ev = load_table(spark, sf_dir, "events")
    full = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("au_full"),
        F.approx_count_distinct("value", rsd=0.05).alias("av_full"),
    )
    audit = (
        ev.where(_md5_quarter(F.col("event_id")))
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.05).alias("au_a"),
            F.approx_count_distinct("value", rsd=0.05).alias("av_a"),
            F.countDistinct("user_id").cast("bigint").alias(
                "exact_users_audit"
            ),
            F.countDistinct("value").cast("bigint").alias(
                "exact_values_audit"
            ),
        )
    )
    lo = 1.0 - APPROX_RTOL
    return (
        full.join(audit, "event_type")
        .select(
            "event_type",
            "exact_users_audit",
            "exact_values_audit",
            (
                F.abs(F.col("au_a") - F.col("exact_users_audit"))
                / F.col("exact_users_audit")
                <= APPROX_RTOL
            ).alias("users_within_rtol"),
            (
                F.abs(F.col("av_a") - F.col("exact_values_audit"))
                / F.col("exact_values_audit")
                <= APPROX_RTOL
            ).alias("values_within_rtol"),
            (F.col("au_full") >= lo * F.col("exact_users_audit")).alias(
                "full_est_covers_audit_users"
            ),
            (F.col("av_full") >= lo * F.col("exact_values_audit")).alias(
                "full_est_covers_audit_values"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "fn_timestamp",
    oracle="""
SELECT event_id,
       CAST(hour(CAST(ts AS TIMESTAMP)) AS INT)    AS ev_hour,
       CAST(minute(CAST(ts AS TIMESTAMP)) AS INT)  AS ev_minute,
       CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_s,
       CAST(isodow(CAST(ts AS DATE)) AS INT)       AS iso_dow
FROM events
""",
    tags=("function", "timestamp"),
)
def fn_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp scalar family over the (nanos-sourced) events.ts:
    clock fields, truncated epoch seconds, ISO day-of-week. Spark's
    weekday() is Mon=0, DuckDB's isodow Mon=1 — aligned with +1;
    DuckDB's epoch() is fractional and CAST rounds, so FLOOR matches
    Spark's truncating unix_seconds."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.hour("ts").alias("ev_hour"),
        F.minute("ts").alias("ev_minute"),
        F.expr("unix_seconds(cast(ts as timestamp))").alias("epoch_s"),
        (F.weekday("ts") + F.lit(1)).alias("iso_dow"),
    )


@register(
    "fn_explode",
    oracle="""
SELECT vec_id,
       CAST(generate_subscripts(list_slice(embedding, 1, 4), 1) AS INT) AS pos,
       unnest(list_slice(embedding, 1, 4)) AS component
FROM embeddings
WHERE vec_id < 100
""",
    tags=("function", "explode"),
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: array column -> one row per element with its
    1-based position (LATERAL VIEW / unnest-with-ordinality shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.where(F.col("vec_id") < 100)
        .select("vec_id", F.posexplode(F.slice("embedding", 1, 4)))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("pos"),  # Spark posexplode is 0-based
            F.col("col").alias("component"),
        )
    )


@register(
    "win_range_frame",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER w, 2) AS spend_30d,
       COUNT(*) OVER w AS n_orders_30d
FROM orders
WINDOW w AS (
    PARTITION BY o_custkey
    ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
)
""",
    tags=("window",),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day spend per customer: a RANGE frame over day
    offsets (value-based, unlike the ROWS frame in win_running_sum)."""
    orders = load_table(spark, sf_dir, "orders")
    day_off = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
    )
    w = Window.partitionBy("o_custkey").orderBy(day_off).rangeBetween(-30, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


@register(
    "win_distribution",
    oracle="""
SELECT c_custkey,
       CAST(ntile(4) OVER w AS INT)        AS acctbal_quartile,
       ROUND(percent_rank() OVER w, 6)     AS pct_rank,
       ROUND(cume_dist() OVER w, 6)        AS cume,
       CAST(dense_rank() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_nationkey) AS INT) AS nation_dense_rank,
       c_mktsegment
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
    tags=("window",),
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window family: ntile quartiles, percent_rank,
    cume_dist, dense_rank — all exact rationals of row positions, so
    engine-portable (rounded only for the division results)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w2 = Window.partitionBy("c_mktsegment").orderBy("c_nationkey")
    return cust.select(
        "c_custkey",
        F.ntile(4).over(w).alias("acctbal_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w2).alias("nation_dense_rank"),
        "c_mktsegment",
    )


# TPC-H Q3/Q5/Q10; q18 lives in plans/tpch_composite.py.
from target_iceberg_spark.plans.tpch_composite import _revenue  # noqa: E402


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("tpch",),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers, date-banded orders
    and lineitems, revenue top-10."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(_revenue().alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    tags=("tpch",),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join, local-supplier condition
    (customer and supplier share a nation), region filter pushed
    through broadcast dims."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            # supplier is SF-scaled, not a fixed dim — no broadcast hint;
            # Catalyst/AQE picks broadcast at small SF and shuffle at scale
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("tpch",),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# sim_cosine_topk / sim_cosine_topk_batch; sim_cosine_topk
# parameterizes its oracle with the shared probe/top-k constants.
from target_iceberg_spark.functions.vectors import cosine  # noqa: E402
from target_iceberg_spark.plans.similarity import PROBE_VEC_ID, TOP_K  # noqa: E402


@register(
    "sim_cosine_topk_batch",
    oracle=f"""
WITH probes AS (
    SELECT vec_id AS probe_id, embedding AS p
    FROM embeddings WHERE vec_id < 3
),
scored AS (
    SELECT probe_id, e.vec_id,
           ROUND((list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p[i] AS DOUBLE))) / sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) * list_sum(list_transform(range(1, len(p) + 1), i -> CAST(p[i] AS DOUBLE) * CAST(p[i] AS DOUBLE))))), 6) AS cos_sim
    FROM embeddings e, probes
    WHERE e.vec_id >= 3
)
SELECT probe_id, vec_id, cos_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
) WHERE rn <= 5
""",
    tags=("similarity",),
)
def sim_cosine_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact search: top-5 per probe for a SET of probes in one
    pass — broadcast the probe set, score every (candidate, probe) pair
    JVM-side, per-probe top-k via a window. One scan of the corpus
    regardless of probe count; the shape batch inference pipelines use."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    scored = (
        emb.where(F.col("vec_id") >= 3)
        .crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine("embedding", "probe_vec"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("probe_id", "vec_id", "cos_sim")
    )


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH probe AS (
    SELECT embedding AS p FROM embeddings WHERE vec_id = {PROBE_VEC_ID}
)
SELECT vec_id, ROUND((list_sum(list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * CAST(p[i] AS DOUBLE))) / sqrt(list_sum(list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) * list_sum(list_transform(range(1, len(p) + 1), i -> CAST(p[i] AS DOUBLE) * CAST(p[i] AS DOUBLE))))), 6) AS cos_sim
FROM embeddings, probe
WHERE vec_id <> {PROBE_VEC_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT {TOP_K}
""",
    tags=("similarity",),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k against the probe vector (vec_id=0):
    broadcast probe -> JVM-side fold -> TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.where(F.col("vec_id") == PROBE_VEC_ID).select(
        F.col("embedding").alias("probe_vec")
    )
    return (
        emb.where(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(cosine("embedding", "probe_vec"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(TOP_K)
    )


@register(
    "join_null_safe",
    oracle="""
WITH o AS (
    SELECT CASE WHEN o_custkey < 10 THEN NULL ELSE o_custkey END AS k,
           o_totalprice
    FROM orders
),
c AS (
    SELECT CASE WHEN c_custkey < 10 THEN NULL ELSE c_custkey END AS k,
           c_acctbal
    FROM customer
)
SELECT o.k IS NULL AS null_key,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
GROUP BY null_key
ORDER BY null_key
""",
    tags=("join", "nullsafe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics CDC /
    reconciliation joins need when the business key is nullable.
    Spark still plans this as a hash-partitioned equi-join (the
    null-safe comparator keys on coalesce-tagged values), NOT a
    nested-loop fallback; at scale the one caveat is that ALL null
    keys land in one bucket, so a null-heavy key column should be
    pre-split — here the null population is bounded (keys < 10) by
    construction."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.select(
        F.when(F.col("o_custkey") < 10, None)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        "o_totalprice",
    )
    c = cust.select(
        F.when(F.col("c_custkey") < 10, None)
        .otherwise(F.col("c_custkey"))
        .alias("k"),
        "c_acctbal",
    )
    return (
        o.join(c, o["k"].eqNullSafe(c["k"]))
        .groupBy(o["k"].isNull().alias("null_key"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("null_key")
    )
