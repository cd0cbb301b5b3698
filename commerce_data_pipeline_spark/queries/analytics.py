"""GA4 gold analytics (SURVEY §2c): funnel, sessionization, attribution, cohorts, journeys, conversion timing.

Mechanical split of queries.py (r10, VERDICT r9 directive #4); statement
text is unchanged — see the package __init__ docstring for the determinism
contract every query follows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.operators.analytics import (
    attribution,
    funnel,
    position_attribution,
    sessionize,
)
from commerce_data_pipeline_spark.streaming import events as streaming_events
from commerce_data_pipeline_spark.queries._shared import _dsum



# --------------------------------------------------------------------------
# Gold analytics over `events` (SURVEY §2c, README-promised capabilities)
# --------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


def _q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """G1 — ordered funnel view→click→purchase (flagship query)."""
    ev = load_table(spark, sf, "events")
    return funnel(ev, FUNNEL_STAGES)


_O_FUNNEL = """
WITH firsts AS (
  SELECT user_id,
    MIN(ts) FILTER (WHERE event_type = 'view') AS t0,
    MIN(ts) FILTER (WHERE event_type = 'click') AS t1,
    MIN(ts) FILTER (WHERE event_type = 'purchase') AS t2
  FROM events GROUP BY user_id
)
SELECT 0 AS stage_index, 'view' AS stage,
  CAST(COUNT(*) FILTER (WHERE t0 IS NOT NULL) AS BIGINT) AS users FROM firsts
UNION ALL
SELECT 1, 'click',
  CAST(COUNT(*) FILTER (WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0) AS BIGINT) FROM firsts
UNION ALL
SELECT 2, 'purchase',
  CAST(COUNT(*) FILTER (WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                         AND t2 IS NOT NULL AND t2 >= t1) AS BIGINT) FROM firsts
"""


def _q_sessionization(spark: SparkSession, sf: str) -> DataFrame:
    """G2 — 30-min-gap sessions rolled up to one row per session."""
    ev = load_table(spark, sf, "events")
    s = sessionize(ev, gap_minutes=30, tiebreak_cols=("event_id",))
    return s.groupBy("user_id", "session_seq").agg(
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.unix_micros(F.max("ts")).alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


_O_SESSIONIZATION = """
WITH gaps AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seq AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM gaps
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
  epoch_us(MIN(ts)) AS session_start_us,
  epoch_us(MAX(ts)) AS session_end_us,
  COUNT(*) AS n_events
FROM seq GROUP BY user_id, session_seq
"""


def _q_conversion_daily(spark: SparkSession, sf: str) -> DataFrame:
    """G3 — per-day conversion metrics with exact-decimal revenue."""
    ev = load_table(spark, sf, "events")
    is_conv = F.col("event_type") == "purchase"
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.when(is_conv, F.col("user_id"))).alias("n_converters"),
            _dsum(F.when(is_conv, F.col("value")).otherwise(F.lit(0.0))).alias("converted_value"),
        )
        .withColumn(
            "conversion_rate",
            F.col("n_converters").cast("double") / F.col("n_users").cast("double"),
        )
    )


_O_CONVERSION_DAILY = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS n_converters,
  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS converted_value,
  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS DOUBLE)
    / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS conversion_rate
FROM events GROUP BY strftime(ts, '%Y-%m-%d')
"""


def _q_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """G4 — last-touch attribution of purchases, event_id as tiebreak."""
    ev = load_table(spark, sf, "events")
    out = attribution(
        ev, convert_type="purchase", model="last", tiebreak_cols=("event_id",)
    )
    return out.select(
        "user_id",
        F.unix_micros("conv_ts").alias("conv_ts_us"),
        "touch_type",
        F.unix_micros("touch_ts").alias("touch_ts_us"),
    )


_O_ATTRIBUTION_LAST_TOUCH = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      OVER w AS touch_type,
    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
      OVER w AS touch_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, epoch_us(ts) AS conv_ts_us, touch_type, epoch_us(touch_ts) AS touch_ts_us
FROM marked WHERE event_type = 'purchase'
"""


def _q_attribution_position(spark: SparkSession, sf: str) -> DataFrame:
    """G4 — position-based (U-shaped) multi-touch attribution of
    purchases: every conversion splits 10,000 bp across all touches
    since the user's previous conversion (4000/2000-shared/4000;
    integer-exact contract in operators/analytics.position_attribution).
    Aggregated to credit share per touch type."""
    ev = load_table(spark, sf, "events")
    per_touch = position_attribution(
        ev, convert_type="purchase", tiebreak_cols=("event_id",)
    )
    return (
        per_touch.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("credit_bp").cast("long").alias("credit_bp_total"),
        )
        .orderBy("touch_type")
    )


_O_ATTRIBUTION_POSITION = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS cg
  FROM events
), conv_groups AS (
  SELECT DISTINCT user_id, cg FROM marked WHERE event_type = 'purchase'
), touches AS (
  SELECT m.user_id, m.cg, m.event_type, m.ts, m.event_id
  FROM marked m JOIN conv_groups c ON m.user_id = c.user_id AND m.cg = c.cg
  WHERE m.event_type <> 'purchase'
), pos AS (
  SELECT user_id, cg, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id, cg ORDER BY ts, event_id) AS p,
    COUNT(*) OVER (PARTITION BY user_id, cg) AS n
  FROM touches
), credited AS (
  SELECT event_type AS touch_type,
    CASE WHEN n = 1 THEN 10000
         WHEN n = 2 THEN 5000
         WHEN p = 1 THEN 4000 + (2000 - (n - 2) * (2000 // (n - 2)))
         WHEN p = n THEN 4000
         ELSE 2000 // (n - 2) END AS credit_bp
  FROM pos
)
SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
  CAST(SUM(credit_bp) AS BIGINT) AS credit_bp_total
FROM credited GROUP BY touch_type ORDER BY touch_type
"""


def _q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """G5 — weekly cohort retention grid."""
    ev = load_table(spark, sf, "events")
    wk = F.date_trunc("week", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_start"))
    per_us = 7 * 86400 * 1_000_000
    return (
        ev.join(firsts, on="user_id")
        .withColumn(
            "period_offset",
            F.floor(
                (F.unix_micros(wk) - F.unix_micros(F.col("cohort_start"))) / F.lit(per_us)
            ).cast("int"),
        )
        .groupBy(
            F.date_format("cohort_start", "yyyy-MM-dd").alias("cohort"),
            "period_offset",
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


_O_COHORT_RETENTION = """
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_start
  FROM events GROUP BY user_id
)
SELECT strftime(cohort_start, '%Y-%m-%d') AS cohort,
  CAST(FLOOR((epoch_us(date_trunc('week', ts)) - epoch_us(cohort_start)) / 604800000000.0) AS INT) AS period_offset,
  COUNT(DISTINCT e.user_id) AS active_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


def _q_price_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """§2e — EXACT percentiles (linear interpolation) per group; both
    engines implement the same continuous-quantile definition. Rounded to
    6 decimals to absorb last-ulp interpolation differences."""
    li = load_table(spark, sf, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)))
    return li.groupBy("l_returnflag").agg(
        F.round(F.element_at(pct, 1), 6).alias("p50"),
        F.round(F.element_at(pct, 2), 6).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


_O_PRICE_PERCENTILES = """
SELECT l_returnflag,
  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
  ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
  COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def _q_props_struct(spark: SparkSession, sf: str) -> DataFrame:
    """G6 — typed JSON parsing: from_json with an explicit schema (vs the
    per-key get_json_object in `param_extract`), then aggregate over the
    struct fields. One parse per row regardless of field count."""
    ev = load_table(spark, sf, "events")
    schema = "k long, source string"
    parsed = ev.select(
        "event_type", F.from_json("props", schema).alias("p")
    )
    return parsed.groupBy("event_type", F.col("p.source").alias("source")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p.k").alias("sum_k"),
    )


_O_PROPS_STRUCT = """
SELECT event_type, props->>'$.source' AS source, COUNT(*) AS n,
  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY 1, 2
"""


def _q_streaming_daily_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming transform, batch-parity surface: `daily_event_counts` is
    the same code path for streams and batch (watermark no-ops on bounded
    input) — oracle-checking the batch side pins the shared semantics;
    micro-batch execution is pinned in tests/test_streaming.py."""
    ev = load_table(spark, sf, "events")
    return streaming_events.daily_event_counts(ev)


_O_STREAMING_DAILY_COUNTS = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def _q_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-native gap sessions (`session_window`), batch-parity
    surface: merges while inter-event gap <= 30 min — verified equal to
    the lag+cumsum batch sessionizer, and here against the SQL oracle."""
    ev = load_table(spark, sf, "events")
    out = streaming_events.session_window_stats(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


_O_SESSION_WINDOWS = """
WITH gaps AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seq AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM gaps
)
SELECT user_id,
  epoch_us(MIN(ts)) AS session_start_us,
  epoch_us(MAX(ts)) AS session_end_us,
  COUNT(*) AS n_events
FROM seq GROUP BY user_id, session_seq
"""


def _q_journey_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """G2 adjacency — customer-journey transition matrix (README.md:30
    "journey mapping"): counts of consecutive (event → next event) steps
    per user timeline. One lag window + one agg, both keyed."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("user_id").alias("n_users"),
    )


_O_JOURNEY_TRANSITIONS = """
WITH steps AS (
  SELECT user_id, event_type AS from_type,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, COUNT(*) AS n_transitions,
  COUNT(DISTINCT user_id) AS n_users
FROM steps WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
"""


def _q_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    """G1/G3 — latency from first view to first purchase per converting
    user, bucketed into hour bins. Exact integer µs arithmetic end-to-end."""
    ev = load_table(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    conv = firsts.filter(
        F.col("t_view").isNotNull() & F.col("t_buy").isNotNull() & (F.col("t_buy") >= F.col("t_view"))
    )
    hours = F.floor((F.unix_micros("t_buy") - F.unix_micros("t_view")) / (3600 * 1_000_000))
    return conv.groupBy(hours.cast("long").alias("hours_to_convert")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


_O_TIME_TO_CONVERT = """
WITH firsts AS (
  SELECT user_id,
    MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
    MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_buy
  FROM events GROUP BY user_id
)
SELECT CAST(FLOOR((epoch_us(t_buy) - epoch_us(t_view)) / 3600000000.0) AS BIGINT) AS hours_to_convert,
  COUNT(*) AS n_users
FROM firsts
WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_view
GROUP BY 1
"""


def _q_param_extract(spark: SparkSession, sf: str) -> DataFrame:
    """G6 — JSON key-value extraction (GA4 event_params stand-in) + agg."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("k").cast("double")).alias("avg_k"),
        )
    )


_O_PARAM_EXTRACT = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS DOUBLE)
    / COUNT(CAST(props->>'$.k' AS BIGINT)) AS avg_k
FROM events GROUP BY event_type
"""


def _q_stream_attribution_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming interval-join family, batch-parity surface (VERDICT r9
    directive #7): `streaming.joins.attribute_purchases_stream` is the
    SAME code path for streams and batch — the watermark is a no-op on
    bounded input and the time-range equi-join condition is identical —
    so oracle-checking the batch side attests the join predicate the
    micro-batch tests (tests/test_stream_joins.py) execute with real
    state expiry. Each purchase joins to the same user's view events in
    the trailing hour; timestamps leave as epoch µs per the determinism
    contract. Scale shape: ONE user-keyed shuffle join whose streaming
    state is bounded by watermark + window, and OUTPUT bounded by the
    per-conversion cap (r11 VERDICT #6: most-recent-8 touches,
    deterministic truncation replayed by the oracle's QUALIFY — a no-op
    at this sf where max fan-out is 1, load-bearing under a hot key)."""
    from commerce_data_pipeline_spark.streaming import joins as stream_joins

    ev = load_table(spark, sf, "events")
    pairs = stream_joins.attribute_purchases_stream(
        ev, convert_type="purchase", touch_type="view", window="1 hour",
        max_touches_per_conversion=8,
    )
    return pairs.select(
        "user_id",
        "purchase_event_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "touch_event_id",
        F.unix_micros("touch_ts").alias("touch_ts_us"),
    )


_O_STREAM_ATTRIBUTION_PAIRS = """
SELECT user_id, purchase_event_id, purchase_ts_us, touch_event_id, touch_ts_us
FROM (
  SELECT p.user_id,
    p.event_id AS purchase_event_id,
    epoch_us(p.ts) AS purchase_ts_us,
    t.event_id AS touch_event_id,
    epoch_us(t.ts) AS touch_ts_us
  FROM events p
  JOIN events t
    ON t.user_id = p.user_id
   AND t.ts <= p.ts
   AND t.ts >= p.ts - INTERVAL 1 HOUR
  WHERE p.event_type = 'purchase' AND t.event_type = 'view'
)
-- per-conversion cap: most-recent 8 touches, deterministic tie-break
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY purchase_event_id
  ORDER BY touch_ts_us DESC, touch_event_id ASC
) <= 8
"""
