"""Event-analytics plans: ordered funnel and cohort retention
(SURVEY.md §2B event-time family).

Both are classic product-analytics shapes a telemetry pipeline runs at
full scale. Each pass is a combinable per-user aggregate (shuffle on
user_id) joined to the next stage's filter — never a per-user explode
of event history, so the plans survive billions of events with
power-law users.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from target_iceberg_spark.plans.registry import register
from target_iceberg_spark.sources.tables import load_table


@register(
    "events_funnel",
    oracle="""
WITH s AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS s_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s.s_ts
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.c_ts
    GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM s) AS n_signup,
       (SELECT COUNT(*) FROM c) AS n_click_after,
       (SELECT COUNT(*) FROM p) AS n_purchase_after
""",
    tags=("analytics", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup -> click -> purchase funnel: each stage is the
    user's earliest qualifying event strictly after the previous stage.
    Three combinable groupBys on user_id; stage N+1's scan is filtered
    by event type before the join, so each pass moves only one event
    type's volume."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


@register(
    "events_retention",
    oracle="""
WITH first_seen AS (
    SELECT user_id,
           date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id,
           f.cohort_week,
           date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS act_week
    FROM events e JOIN first_seen f ON f.user_id = e.user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', cohort_week, act_week) / 7 AS INT) AS week_offset,
       COUNT(*) AS n_users
FROM activity
GROUP BY 1, 2
ORDER BY 1, 2
""",
    tags=("analytics", "retention"),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users bucketed by first-seen
    week, counted once per (cohort, activity-week offset). Two shuffles
    on user_id (first-seen agg + distinct) then a combinable count —
    the DISTINCT collapses per-user event volume before the final
    aggregate, so hot users cost one row per active week."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", "ts").alias("act_week"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("act_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_anomaly",
    oracle="""
WITH stats AS (
    SELECT event_type,
           AVG(value) AS mu,
           stddev_samp(value) AS sigma
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       ROUND((e.value - s.mu) / s.sigma, 4) AS zscore
FROM events e JOIN stats s ON s.event_type = e.event_type
WHERE e.value IS NOT NULL
  AND abs((e.value - s.mu) / s.sigma) > 3
""",
    tags=("analytics", "anomaly"),
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type (|z| > 3): one
    combinable stats aggregate over the fact table, broadcast back, and
    a codegen filter — the profiling step that flags bad telemetry
    before it poisons training aggregates. The stats frame is
    group-count-sized, so the enrichment join broadcasts at any corpus
    scale."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 3)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("zscore"),
        )
    )


@register(
    "events_transitions",
    oracle="""
WITH t AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
c AS (
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM t WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM c
ORDER BY prev_type, next_type
""",
    tags=("analytics", "markov"),
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each consecutive (prev, next) event-type pair, the
    global count and the row-normalized transition probability — the
    user-journey model behind next-action prediction and bot-pattern
    detection.

    One shuffle partitions each user's history for the LAG ordering
    (ties broken on event_id for engine-stable sequences), then a
    map-side-combinable pair count; the transition matrix is
    |event types|^2 rows — bounded — so the normalizing window runs on
    a tiny frame regardless of corpus size."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") * 1.0 / F.sum("n").over(norm), 6).alias("p"),
    ).orderBy("prev_type", "next_type")


@register(
    "events_scd2",
    oracle="""
WITH o AS (
    SELECT user_id, event_id, ts, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
runs AS (
    SELECT user_id, event_id, ts AS valid_from, event_type
    FROM o
    WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, event_id) AS valid_to
FROM runs
ORDER BY user_id, valid_from
""",
    tags=("events", "scd"),
)
def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 interval construction — the
    changelog -> validity-interval reshape every warehouse needs to
    answer "what was this entity's state at time T". Per user, runs of
    equal consecutive event_type collapse to one row valid from the
    run's first timestamp until the next run starts (NULL = still
    current): change detection via lag(), interval close via lead()
    over the change rows only.

    Scale shape: both windows partition by user_id with the SAME
    ordering, so Spark plans ONE shuffle and sorts once; the run
    filter shrinks the frame before the second window. Deterministic
    under timestamp ties via the event_id tiebreak. At 100 TB this is
    the standard one-shuffle-per-entity-history cost — no self-join,
    no per-row subquery."""
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.select(
            "user_id",
            "event_id",
            F.col("ts").alias("valid_from"),
            "event_type",
            F.lag("event_type").over(order_w).alias("_prev"),
        )
        .where(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
    )
    close_w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return (
        runs.select(
            "user_id",
            "event_type",
            "valid_from",
            F.lead("valid_from").over(close_w).alias("valid_to"),
        )
        .orderBy("user_id", "valid_from")
    )


@register(
    "events_funnel_windowed",
    oracle="""
WITH s AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS s_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'click'
      AND CAST(e.ts AS TIMESTAMP) > s.s_ts
      AND CAST(e.ts AS TIMESTAMP) <= s.s_ts + INTERVAL 48 HOUR
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase'
      AND CAST(e.ts AS TIMESTAMP) > c.c_ts
      AND CAST(e.ts AS TIMESTAMP) <= c.c_ts + INTERVAL 48 HOUR
    GROUP BY e.user_id
),
conv AS (
    SELECT epoch_us(p.p_ts) - epoch_us(s.s_ts) AS dur_us
    FROM p JOIN s ON p.user_id = s.user_id
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_signup,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_48h,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_48h,
       (SELECT CAST(SUM(dur_us) // COUNT(*) AS BIGINT) FROM conv)
           AS avg_conv_us
""",
    tags=("analytics", "funnel", "conversion-window"),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: signup -> click -> purchase where
    each next stage must land within 48 HOURS of the previous one —
    the constraint every real funnel carries (an unbounded funnel
    counts conversions attributable to nothing), plus the exact mean
    signup-to-purchase latency of the converted cohort.

    Scale shape: three combinable per-user MIN aggregates chained by
    equi-joins on user_id (each stage's candidate set only shrinks) —
    the window constraint is a per-row filter against the joined
    previous-stage timestamp, NOT a range join or a per-user sort.
    Latency is the exact integer mean of µs deltas (decimal sum +
    integer div, the events_interarrival convention) so both engines
    agree bit-for-bit.

    Round-14 restructure (guide §2.4; r13 verdict task 6): the pinned
    SQL form computed the 1-row report as FOUR scalar subqueries, each
    re-executing the user-sized stage CTEs (20 events scans in the
    physical plan — Catalyst does no cross-branch CSE on subquery
    subtrees). Now the three stage tables build once (s and c
    localCheckpoint — each feeds the next stage AND the final report;
    p is consumed once), and the report is ONE aggregate over
    s ⟕ c ⟕ p: because c ⊆ s and p ⊆ c by construction (each stage is
    keyed by user_id and derived from the previous), COUNT(c_ts) /
    COUNT(p_ts) over the left-joined frame are the identical integers
    to COUNT(*) of the stage tables, and the conv CTE is exactly the
    p_ts-non-null rows. The mean uses the same decimal-sum + `div` +
    bigint-cast expression as the SQL form — bit-identical output
    (oracle unchanged; parity re-verified at sf0.01 and sf0.1; the
    SUM over zero converted users is NULL div 0 = NULL in both
    forms). Three events scans (one per stage, event_type pushed)
    instead of twenty."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    win = F.expr("INTERVAL 48 HOURS")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .localCheckpoint()
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where((F.col("ts") > F.col("s_ts")) & (F.col("ts") <= F.col("s_ts") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
        .localCheckpoint()
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where((F.col("ts") > F.col("c_ts")) & (F.col("ts") <= F.col("c_ts") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_signup"),
            F.count("c_ts").cast("bigint").alias("n_click_48h"),
            F.count("p_ts").cast("bigint").alias("n_purchase_48h"),
            F.expr(
                "CAST(SUM(CAST(unix_micros(p_ts) - unix_micros(s_ts)"
                " AS DECIMAL(38,0))) div COUNT(p_ts) AS BIGINT)"
            ).alias("avg_conv_us"),
        )
    )
