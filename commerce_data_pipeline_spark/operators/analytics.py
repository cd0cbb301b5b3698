"""Gold-layer analytics: the capabilities the reference README promises but
never implements (SURVEY.md §2c; /root/reference/README.md:27-33,70-79).

G1 funnel, G2 sessionization, G3 conversion metrics, G4 attribution,
G5 cohorts, G6 key-value param extraction — each as a lazy DataFrame
transform parameterized by column names so it runs over both the driver's
synthetic `events` table and the GA4 schema.

Scale notes: every operator here shuffles at most once, on the analysis key
(user or user+date), and aggregates with map-side partial combine. Window
functions partition by user id — high cardinality, so skew is bounded by a
single user's event count; no global windows anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint


def funnel(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """G1 — ordered funnel (README.md:29: page_view → add_to_cart → purchase).

    A user counts for stage i only if they reached stage i-1 first: we take
    each user's earliest timestamp per stage and require monotone ordering.
    One shuffle on user, then a tiny (|stages| rows) result.

    Returns: (stage_index, stage, users) with users = how many reached it.
    """
    firsts = df.groupBy(user_col).agg(
        *[
            F.min(F.when(F.col(type_col) == s, F.col(ts_col))).alias(f"_t{i}")
            for i, s in enumerate(stages)
        ]
    )
    # reached_i = all earlier stages happened, in non-decreasing time order
    reached_prev = F.lit(True)
    reach_cols = []
    for i in range(len(stages)):
        cond = F.col(f"_t{i}").isNotNull()
        if i > 0:
            cond = cond & F.col(f"_t{i-1}").isNotNull() & (F.col(f"_t{i}") >= F.col(f"_t{i-1}"))
        reached_prev = reached_prev & cond
        reach_cols.append(reached_prev.alias(f"_r{i}"))
    flags = firsts.select(F.col(user_col), *reach_cols)
    # ONE global aggregation for every stage count (not one agg per stage —
    # that would rescan events per stage), then unpivot the single row.
    sums = flags.agg(
        *[F.sum(F.col(f"_r{i}").cast("long")).alias(f"_u{i}") for i in range(len(stages))]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_index"),
                F.lit(s).alias("stage"),
                F.col(f"_u{i}").alias("users"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return sums.select(F.explode(rows).alias("_s")).select("_s.*")


def funnel_user_flags(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """G1 (unordered variant) — per-user stage participation flags.
    Cheaper than the ordered funnel (no timestamps needed); useful as the
    conditional-aggregation building block."""
    return df.groupBy(user_col).agg(
        *[
            F.max((F.col(type_col) == s).cast("int")).alias(f"did_{s}")
            for s in stages
        ]
    )


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """G2 — gap-based sessionization (README.md:30). Classic lag + running
    sum: a new session starts when the gap to the previous event of the same
    user exceeds `gap_minutes`. Single shuffle on user; both windows share
    the same partitioning so Spark reuses the exchange.

    Adds: session_seq (1-based per user), session_id (user#seq).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, *tiebreak_cols)
    gap_us = gap_minutes * 60 * 1_000_000
    prev_ts = F.lag(ts_col).over(w)
    # compare in microseconds: casting timestamp→long truncates to seconds,
    # which misclassifies gaps within 1s of the threshold
    new_session = (
        prev_ts.isNull()
        | ((F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts)) > gap_us)
    ).cast("long")
    df2 = df.withColumn("_new_session", new_session)
    seq = F.sum("_new_session").over(
        Window.partitionBy(user_col)
        .orderBy(ts_col, *tiebreak_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df2.withColumn("session_seq", seq)
        .withColumn(
            "session_id",
            F.concat_ws("#", F.col(user_col).cast("string"), F.col("session_seq").cast("string")),
        )
        .drop("_new_session")
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """G2 rollup — one row per session: bounds, duration, event count."""
    s = sessionize(df, user_col, ts_col, gap_minutes)
    return s.groupBy(user_col, "session_seq").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.max(F.col(ts_col).cast("double")) - F.min(F.col(ts_col).cast("double"))).alias(
            "duration_sec"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


def conversion_metrics(
    df: DataFrame,
    convert_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """G3 — per-day conversion metrics (README.md:31): events, active users,
    converters, conversion rate, converted revenue. One shuffle on the date
    key; count_distinct uses partial aggregation."""
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day")
    is_conv = F.col(type_col) == convert_type
    return (
        df.groupBy(day)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(user_col).alias("n_users"),
            F.countDistinct(F.when(is_conv, F.col(user_col))).alias("n_converters"),
            F.sum(F.when(is_conv, F.col(value_col)).otherwise(F.lit(0.0))).alias(
                "converted_value"
            ),
        )
        .withColumn(
            "conversion_rate",
            F.col("n_converters").cast("double") / F.col("n_users").cast("double"),
        )
    )


def attribution(
    df: DataFrame,
    convert_type: str,
    touch_types: Sequence[str] | None = None,
    model: str = "last",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """G4 — first/last-touch attribution (README.md:32). For each conversion
    event, credit the nearest prior (last-touch) or earliest (first-touch)
    touch event of the same user. Window over user ordered by time — the
    canonical Spark shape for point-in-time "as-of" matching without a
    range join.

    Returns one row per conversion: (user, conv_ts, touch_type, touch_ts).
    """
    if model not in ("first", "last"):
        raise ValueError("model must be 'first' or 'last'")
    is_touch = (
        F.col(type_col).isin(list(touch_types))
        if touch_types is not None
        else F.col(type_col) != convert_type
    )
    w = Window.partitionBy(user_col).orderBy(ts_col, *tiebreak_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    touch_type_c = F.when(is_touch, F.col(type_col))
    touch_ts_c = F.when(is_touch, F.col(ts_col))
    if model == "last":
        attr_type = F.last(touch_type_c, ignorenulls=True).over(w)
        attr_ts = F.last(touch_ts_c, ignorenulls=True).over(w)
    else:
        attr_type = F.first(touch_type_c, ignorenulls=True).over(w)
        attr_ts = F.first(touch_ts_c, ignorenulls=True).over(w)
    return (
        df.withColumn("touch_type", attr_type)
        .withColumn("touch_ts", attr_ts)
        .filter(F.col(type_col) == convert_type)
        .select(
            F.col(user_col),
            F.col(ts_col).alias("conv_ts"),
            F.col("touch_type"),
            F.col("touch_ts"),
        )
    )


def position_attribution(
    df: DataFrame,
    convert_type: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """G4 extension — position-based (U-shaped) MULTI-touch attribution:
    every conversion splits 10,000 basis points across ALL its preceding
    touches (since the user's previous conversion), instead of crediting
    only the first or last one. Credit contract (integer-exact, so the
    SQL oracle replays it):

        n = 1  → 10000 to the single touch
        n = 2  → 5000 / 5000
        n ≥ 3  → 4000 first, 4000 last, middles share 2000 via
                 2000 div (n-2) each; the integer remainder
                 2000 - (n-2)·(2000 div (n-2)) goes to the FIRST touch
                 (documented tie-in so credits always sum to 10000)

    Assignment shape: ONE pass — a reverse-cumulative count of
    conversions per user ((ts, tiebreak)-ordered window) gives every
    event the id of the conversion it precedes; touches grouped by that
    id get positions from a second window. Both windows partition by
    user — no self-join, no range join, scales with the user key like
    `sessionize`.

    Returns one row per credited touch: (user, conv_group, touch_type,
    position, n_touches, credit_bp).
    """
    is_conv = F.col(type_col) == convert_type
    w_rev = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked = df.withColumn(
        "_cg", F.sum(F.when(is_conv, 1).otherwise(0)).over(w_rev)
    )
    touches = marked.filter(~is_conv & (F.col("_cg") >= 1))
    # NOTE (r17): no conversion-existence join is needed — it is a
    # theorem of the reverse-cumulative construction. A touch with
    # _cg = g ≥ 1 has exactly g conversions at-or-after it; the earliest
    # of those g conversion rows counts all g (itself included), so the
    # purchase row carrying (user, _cg = g) ALWAYS exists. The previous
    # distinct+join against those groups filtered nothing on any input
    # and cost one events-scale aggregate + one (user, _cg) join per run
    # (pinned by the unchanged oracle + tests/test_analytics.py).
    w_pos = Window.partitionBy(user_col, "_cg").orderBy(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    w_grp = Window.partitionBy(user_col, "_cg")
    pos = touches.withColumn("position", F.row_number().over(w_pos)).withColumn(
        "n_touches", F.count(F.lit(1)).over(w_grp)
    )
    n = F.col("n_touches")
    p = F.col("position")
    mid_each = F.expr("2000 div (n_touches - 2)")
    mid_rem = F.lit(2000) - (n - 2) * mid_each
    credit = (
        F.when(n == 1, 10000)
        .when(n == 2, 5000)
        .when(p == 1, F.lit(4000) + mid_rem)
        .when(p == n, 4000)
        .otherwise(mid_each)
    )
    return pos.select(
        F.col(user_col),
        F.col("_cg").alias("conv_group"),
        F.col(type_col).alias("touch_type"),
        "position",
        "n_touches",
        credit.cast("long").alias("credit_bp"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """G5 — cohort retention (README.md:79). Cohort = user's first-activity
    period; count distinct active users per (cohort, period_offset).
    Two shuffles (user first-seen, then cohort grid) — both keyed, both with
    partial aggregation."""
    trunc = F.date_trunc(period, F.col(ts_col))
    firsts = df.groupBy(user_col).agg(F.min(trunc).alias("cohort_start"))
    per = 7 * 86400 if period == "week" else 86400
    joined = df.join(firsts, on=user_col)  # broadcast when user dim is small; AQE decides
    return (
        joined.withColumn(
            "period_offset",
            F.floor(
                (trunc.cast("long") - F.col("cohort_start").cast("long")) / F.lit(per)
            ).cast("int"),
        )
        .groupBy(
            F.date_format("cohort_start", "yyyy-MM-dd").alias("cohort"),
            F.col("period_offset"),
        )
        .agg(F.countDistinct(user_col).alias("active_users"))
    )


def extract_param(df: DataFrame, json_col: str, key: str, out_col: str, cast_to: str | None = None):
    """G6 — key-value lookup in a JSON props column (the driver testdata's
    stand-in for GA4 event_params; see ga4.py for the array<struct> form).
    get_json_object is JVM-side, no UDF."""
    c = F.get_json_object(F.col(json_col), f"$.{key}")
    if cast_to:
        c = c.cast(cast_to)
    return df.withColumn(out_col, c)


def sequence_violations(
    df: DataFrame,
    allowed: list[tuple[str, str]],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Event-order audit — the state-machine check a tracking pipeline
    runs before trusting its funnels: count consecutive per-user
    transitions that are NOT in the `allowed` set (e.g. a purchase with
    no preceding view = instrumentation loss or bot traffic). One
    user-keyed window (lag) + one (prev, next)-keyed count; the allowed
    set joins as a broadcast literal frame.

    Returns the violating transition pairs: (prev_type, next_type, n),
    ordered by frequency — the triage list.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col), *[F.col(c) for c in tiebreak_cols]
    )
    trans = (
        df.withColumn("_prev", F.lag(type_col).over(w))
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("prev_type"), F.col(type_col).alias("next_type"))
    )
    allowed_df = local_frame(
        df.sparkSession,
        list(allowed), "prev_type string, next_type string"
    )
    return (
        trans.join(F.broadcast(allowed_df), on=["prev_type", "next_type"], how="left_anti")
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("prev_type"), F.asc("next_type"))
    )


def session_funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """G1×G2 — the funnel computed WITHIN sessions instead of across a
    user's whole history: a session completes step k iff it contains the
    step-k event type strictly after its step-(k-1) completion time.
    Cross-history funnels overstate intent (a view in January "converts"
    with a purchase in June); the in-session variant is the number
    product teams actually report.

    Plan: sessionize (one user-keyed shuffle), then ONE aggregation per
    step over the (user, session) groups — step k's completion time is
    min(ts of step-k events after t_{k-1}), computed by iterating the
    conditional-min joins on the 1-row-per-session frames (each join is
    session-keyed on already-aggregated data, broadcast-sized relative
    to events).

    Returns one row per step: (step, step_name, n_sessions).
    """
    s = sessionize(df, user_col, ts_col, gap_minutes, tiebreak_cols)
    ev = s.select(
        F.col(user_col).alias("_u"), F.col("session_seq").alias("_ss"),
        F.col("event_type").alias("_t"), F.unix_micros(F.col(ts_col)).alias("_us"),
        # one consumer per step: without truncation every step re-ran the
        # events scan + the sessionize window (len(steps) full scans —
        # the executed plan showed 6 scans for a 3-step funnel, r13)
    ).transform(_checkpoint, eager=False)
    counts = []
    prev = None  # frame (_u, _ss, _done_us) of sessions that completed prior steps
    for i, step in enumerate(steps):
        matches = ev.filter(F.col("_t") == step)
        if prev is not None:
            matches = matches.join(prev, on=["_u", "_ss"]).filter(
                F.col("_us") > F.col("_done_us")
            )
        done = (
            matches.groupBy("_u", "_ss")
            .agg(F.min("_us").alias("_done_us"))
            # two consumers (next step's join + this step's count row)
            .transform(_checkpoint, eager=False)
        )
        counts.append(
            done.agg(
                F.lit(i + 1).alias("step"),
                F.lit(step).alias("step_name"),
                F.count(F.lit(1)).cast("long").alias("n_sessions"),
            )
        )
        prev = done
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def association_rules(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    min_weight: int = 2,
    max_basket: int = 64,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Market-basket association rules over the co-occurrence pairs:
    for each directed rule a→b with pair support w ≥ min_weight,
    confidence = w / baskets(a) and lift = w·B / (baskets(a)·baskets(b))
    — the "is this co-occurrence more than chance" score that turns the
    `top_co_occurrences` list into a ranked rule set.

    Item supports and B (total capped baskets) come from ONE extra
    basket scan (explode + keyed count) over the ≥2-item capped baskets
    — the same population the pairs are counted on, so support and
    co-occurrence share a denominator contract. Pair supports reuse the
    `co_occurrence_pairs` aggregate (pass a persisted one via `pairs`
    at scale — see queries._shared._ensure_copurchase_pairs). Ratios floor to
    e6 over DOUBLE arithmetic in the exact operand order the DuckDB
    oracle uses (w·B·1e6 as int64 wraps silently in Spark once pair
    weights ~1e5 meet ~1e8 baskets — r6 ADVICE; IEEE doubles in a fixed
    op order round identically in both engines instead).

    Returns (antecedent, consequent, w, conf_e6, lift_e6).
    """
    from commerce_data_pipeline_spark.operators.graph import symmetrize_pairs

    # ONE corpus-sized exchange, materialized once (r18): item supports,
    # B, and (on the inline path) the pair supports are all functions of
    # the capped ≥2-item basket aggregate, but each broadcast denominator
    # job re-ran the whole facts subtree (the before-plan aggregated the
    # fact table 3×: item_counts ×2 + total). The checkpoint makes every
    # consumer read the basket-sized blocks instead.
    baskets = (
        facts.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .groupBy("_b")
        .agg(F.slice(F.sort_array(F.collect_set("_i")), 1, max_basket).alias("_items"))
        .filter(F.size("_items") >= 2)
        .transform(_checkpoint, eager=False)
    )
    item_counts = (
        baskets.select(F.explode("_items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    )
    total = baskets.agg(F.count(F.lit(1)).cast("long").alias("_B"))
    if pairs is None:
        # the SAME capped/filtered basket frame co_occurrence_pairs would
        # rebuild from facts — expand pairs from the materialized blocks
        # instead of a second corpus aggregation (identical expression,
        # identical output: one (a < b, weight) row per co-occurring pair)
        pair_structs = F.flatten(
            F.transform(
                F.col("_items"),
                lambda a, i: F.transform(
                    F.slice(F.col("_items"), i + 2, F.size(F.col("_items"))),
                    lambda b: F.struct(a.alias("a"), b.alias("b")),
                ),
            )
        )
        pairs = (
            baskets.select(F.explode(pair_structs).alias("_p"))
            .groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        )
    rules = symmetrize_pairs(pairs, min_weight=min_weight)
    return (
        rules.join(
            F.broadcast(item_counts.withColumnRenamed("item", "src").withColumnRenamed("n_b", "_na")),
            on="src",
        )
        .join(
            F.broadcast(item_counts.withColumnRenamed("item", "dst").withColumnRenamed("n_b", "_nb")),
            on="dst",
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("src").alias("antecedent"),
            F.col("dst").alias("consequent"),
            F.col("weight").alias("w"),
            F.floor(F.col("weight") * F.lit(1_000_000.0) / F.col("_na"))
            .cast("long")
            .alias("conf_e6"),
            F.floor(
                F.col("weight").cast("double") * F.col("_B") * F.lit(1_000_000.0)
                / (F.col("_na").cast("double") * F.col("_nb"))
            )
            .cast("long")
            .alias("lift_e6"),
        )
    )
