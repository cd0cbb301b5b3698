"""Temporal join operators Spark lacks natively (SURVEY.md §2e "Joins"):
as-of join and band (interval) join, both expressed as compositions of
existing DataFrame ops — no custom strategy, no UDF.

The reference has no joins at all (SURVEY.md §2e); these exist because
event-time analytics (G2/G4) and feature engineering over event streams
need them, and a naive theta-join (`a.ts BETWEEN ...`) is a cartesian
product at scale.

Implementations and their scale shape:
- `asof_join` uses the union+window formulation: tag both inputs, union,
  one window per key ordered by (ts, side), carry the last-seen right row
  forward, keep left rows. Cost = ONE hash shuffle on the key + a
  per-partition sort — O(n log n) per key group, no pair blow-up at all.
  This beats the broadcast-range-join formulation whenever the right side
  is too big to broadcast, and is the standard distributed as-of shape
  (kdb/Flink temporal joins reduce to the same merge).
- `band_join` buckets time into `band`-sized cells: the left row lands in
  its own cell, the right side replicates into 3 adjacent cells, the join
  is a plain equi-join on (key, cell) followed by the exact |Δt| filter.
  Each qualifying pair matches in exactly one cell → no dedup needed.
  Shuffle volume = 3×|right| + |left|, versus |left|×|right| for the
  naive theta join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
    suffix: str = "_matched",
) -> DataFrame:
    """Backward as-of join: each left row picks the latest right row of the
    same `on` key with right_ts <= left_ts (ties: right row wins). Left
    rows with no prior right row keep nulls (left-outer semantics).

    `right_cols` are the right-side payload columns to carry (default: all
    but key/ts). The matched right timestamp is exposed as
    `{right_ts}{suffix}`; with `tolerance_seconds`, matches older than the
    tolerance are nulled out (pandas merge_asof semantics).
    """
    rc = right_cols if right_cols is not None else [
        c for c in right.columns if c not in (on, right_ts)
    ]
    matched_ts = f"{right_ts}{suffix}"
    out_rc = [f"{c}{suffix}" for c in rc]

    l_tag = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(0))
    r_tag = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("_ts"),
            *[F.col(c).alias(f"_r_{c}") for c in rc],
        )
        .withColumn("_side", F.lit(1))
    )
    # align schemas for union
    for c in left.columns:
        if c not in (on,):
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    for c in rc:
        l_tag = l_tag.withColumn(f"_r_{c}", F.lit(None).cast(dict(right.dtypes)[c]))
    cols = [on, "_ts", "_side", *[c for c in left.columns if c != on], *[f"_r_{c}" for c in rc]]
    u = l_tag.select(*cols).unionByName(r_tag.select(*cols))

    # right rows sort before left rows at equal ts → "<=" match semantics
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts").asc(), F.col("_side").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry the right payload as ONE struct, not per-column last():
    # last(ignorenulls) on an individual payload column would skip a
    # right row whose value is legitimately NULL and resurrect the
    # PREVIOUS row's value (bit scd2_lookup: the open version's NULL
    # valid_to inherited the prior version's bound). The struct is
    # non-null for every right row regardless of field nullness, so the
    # whole payload advances atomically.
    payload = F.struct(
        F.col("_ts").alias("__ts"), *[F.col(f"_r_{c}").alias(c) for c in rc]
    )
    carried = (
        u.select(
            *[F.col(c) for c in u.columns],
            F.last(F.when(F.col("_side") == 1, payload), ignorenulls=True)
            .over(w)
            .alias("_m"),
        )
        .filter(F.col("_side") == 0)
        .select(
            *[F.col(c) for c in u.columns],
            F.col("_m.__ts").alias(matched_ts),
            *[F.col(f"_m.{c}").alias(f"{c}{suffix}") for c in rc],
        )
    )

    if tolerance_seconds is not None:
        stale = (
            F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col(matched_ts))
            > tolerance_seconds * 1_000_000
        )
        carried = carried.select(
            *[c for c in carried.columns if c != matched_ts and c not in out_rc],
            F.when(stale, F.lit(None)).otherwise(F.col(matched_ts)).alias(matched_ts),
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(f"{c}{suffix}")).alias(f"{c}{suffix}")
                for c in rc
            ],
        )
    return carried.drop("_ts", "_side", *[f"_r_{c}" for c in rc])


def band_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    band_seconds: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    l_prefix: str = "a_",
    r_prefix: str = "b_",
) -> DataFrame:
    """Interval join: all (left, right) pairs of the same key with
    |left_ts - right_ts| <= band. Bucketed equi-join (see module doc) —
    each qualifying pair matches in exactly one cell, so no dedup pass."""
    band_us = band_seconds * 1_000_000
    l_cell = F.floor(F.unix_micros(F.col(left_ts)) / band_us)
    r_cell = F.floor(F.unix_micros(F.col(right_ts)) / band_us)

    l = left.select(
        F.col(on),
        l_cell.alias("_cell"),
        *[F.col(c).alias(f"{l_prefix}{c}") for c in left.columns if c != on],
    )
    r = right.select(
        F.col(on),
        F.explode(F.array(r_cell - 1, r_cell, r_cell + 1)).alias("_cell"),
        *[F.col(c).alias(f"{r_prefix}{c}") for c in right.columns if c != on],
    )
    within = (
        F.abs(
            F.unix_micros(F.col(f"{l_prefix}{left_ts}"))
            - F.unix_micros(F.col(f"{r_prefix}{right_ts}"))
        )
        <= band_us
    )
    return l.join(r, on=[on, "_cell"]).filter(within).drop("_cell")


def resample_ffill(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    unit: str = "hour",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-series resampling with forward fill (last observation carried
    forward): one row per (key, bucket) for EVERY `unit` bucket in the
    corpus's global [min, max] time span — gaps included — carrying the
    most recent observed value at or before that bucket.

    The gap-filling shape every metrics/feature store needs (downsampling
    an event stream into a dense per-key series) and one Spark has no
    built-in for (pandas .resample().ffill() — but distributed).

    Semantics (deterministic, oracle-replayable):
    - bucket = date_trunc(unit, ts); per (key, bucket) the picked
      observation is the row with max (ts, id) — a total order, so ties
      cannot flip the pick. n_obs counts the bucket's rows.
    - The grid is the GLOBAL bucket span (one scalar min/max aggregate,
      broadcast) crossed with the distinct key set, so every key gets the
      same dense time axis; buckets before a key's first observation stay
      NULL (no backfill), `is_observed` distinguishes filled from real.
    - Forward fill = last(value, ignorenulls) over a per-key window
      ordered by bucket.

    Scale shape: the corpus-sized work is ONE shuffle — the (key, bucket)
    window that picks the last observation (count + row_number share the
    same window spec, so Spark runs them in one pass). The grid is
    |keys| × |buckets| rows (tiny next to the raw events: that ratio IS
    the downsampling), built executor-side via sequence+explode from the
    broadcast scalar span, joined to the picked observations on
    (key, bucket), then forward-filled per key. Nothing global sorts; the
    per-key window is bounded by the bucket count, not the event count.

    Output: key, bucket_s (epoch seconds BIGINT — the repo-wide
    timestamp-output rule), value_ffill, n_obs, is_observed.
    """
    bucket = F.date_trunc(unit, F.col(ts_col))
    w_pick = Window.partitionBy(key_col, "_bucket").orderBy(
        F.desc(ts_col), F.desc(id_col)
    )
    obs = (
        df.select(F.col(key_col), bucket.alias("_bucket"), F.col(ts_col), F.col(id_col), F.col(value_col))
        .withColumn("_rn", F.row_number().over(w_pick))
        .withColumn("_n_obs", F.count(F.lit(1)).over(w_pick.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(key_col),
            "_bucket",
            F.col(value_col).alias("_v"),
            F.col("_n_obs").cast("long").alias("n_obs"),
        )
    )
    span = df.agg(
        F.date_trunc(unit, F.min(ts_col)).alias("_lo"),
        F.date_trunc(unit, F.max(ts_col)).alias("_hi"),
    )
    keys = df.select(key_col).distinct()
    grid = (
        keys.crossJoin(F.broadcast(span))
        .select(
            F.col(key_col),
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"interval 1 {unit}"))
            ).alias("_bucket"),
        )
    )
    w_fill = (
        Window.partitionBy(key_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, on=[key_col, "_bucket"], how="left")
        .select(
            F.col(key_col),
            F.unix_timestamp(F.col("_bucket")).cast("long").alias("bucket_s"),
            F.last("_v", ignorenulls=True).over(w_fill).alias("value_ffill"),
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.col("_v").isNotNull().alias("is_observed"),
        )
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    fact_ts: str = "ts",
    valid_from: str = "valid_from_us",
    valid_to: str = "valid_to_us",
    dim_cols: list[str] | None = None,
    suffix: str = "_dim",
) -> DataFrame:
    """Point-in-time dimension lookup against SCD2 validity intervals:
    each fact row picks the dimension version valid at its timestamp
    (valid_from ≤ ts < valid_to; NULL valid_to = open/current version).
    The complement of `scd2_intervals` — build the versioned dimension
    once, then join facts to the version that was true WHEN the fact
    happened (the warehouse "repeatable report" contract).

    NOT a range join: a `BETWEEN` theta-join degenerates to
    per-key-cartesian at scale. Because validity intervals are ordered
    and non-overlapping per key, the version valid at ts is exactly the
    LAST version with valid_from ≤ ts — an as-of join — so this reuses
    the union+window merge (ONE key shuffle, O(n log n) per key group,
    no pair blow-up). Versions already closed at the fact timestamp
    (possible only in gapped/deleted histories) are nulled out rather
    than returned stale.

    Fact timestamps may be TIMESTAMP (converted to epoch micros to match
    the `scd2_intervals` BIGINT convention, exposed as `ts_us`) or
    already-BIGINT micros. Dimension payload columns arrive suffixed.
    """
    ft = dict(facts.dtypes)[fact_ts]
    fact_us = (
        F.unix_micros(F.col(fact_ts)) if ft.startswith("timestamp") else F.col(fact_ts)
    )
    facts_us = facts.withColumn("ts_us", fact_us)
    rc = dim_cols if dim_cols is not None else [
        c for c in dim.columns if c not in (on, valid_from)
    ]
    out = asof_join(
        facts_us, dim, on, left_ts="ts_us", right_ts=valid_from,
        right_cols=rc, suffix=suffix,
    )
    matched = [f"{valid_from}{suffix}", *[f"{c}{suffix}" for c in rc]]
    vt = f"{valid_to}{suffix}"
    if valid_to in rc:
        closed = F.col(vt).isNotNull() & (F.col(vt) <= F.col("ts_us"))
        out = out.select(
            *[c for c in out.columns if c not in matched],
            *[
                F.when(closed, F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in matched
            ],
        )
    return out


def scd2_intervals(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Build slowly-changing-dimension (SCD type 2) validity intervals from
    an event/change stream: per key, consecutive rows with the SAME state
    collapse into one row carrying [valid_from, valid_to) — the standard
    warehouse dimension-versioning shape (and the inverse of a CDC feed).

    Semantics (deterministic): rows order by (ts, id) within each key — a
    total order, so equal timestamps cannot flip versions. A version
    starts wherever the state differs from the previous row
    (gaps-and-islands via lag + running sum); `valid_to` is the next
    version's start (NULL on the current version, flagged `is_current`);
    `n_events` counts the collapsed rows.

    Scale shape: ONE hash shuffle on the key feeds all three steps — the
    change-flag window, the run-id running sum (same window spec → same
    exchange), and the per-(key, run) groupBy + the valid_to lead window
    (key-partitioned again). Nothing global, no joins. Timestamps are
    emitted as epoch microseconds BIGINT (the repo-wide rule).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    flagged = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(id_col),
        F.col(state_col),
        F.when(
            F.lag(state_col).over(w).isNull()
            | (F.lag(state_col).over(w) != F.col(state_col)),
            1,
        )
        .otherwise(0)
        .alias("_chg"),
    ).withColumn("_run", F.sum("_chg").over(w))
    runs = flagged.groupBy(key_col, "_run").agg(
        F.first(state_col).alias(state_col),
        F.min(ts_col).alias("_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w_runs = Window.partitionBy(key_col).orderBy("_run")
    return runs.select(
        F.col(key_col),
        F.col(state_col),
        F.unix_micros(F.col("_from")).alias("valid_from_us"),
        F.unix_micros(F.lead("_from").over(w_runs)).alias("valid_to_us"),
        F.lead("_from").over(w_runs).isNull().alias("is_current"),
        "n_events",
    )


def time_decayed_sum(
    df: DataFrame,
    value_col: str,
    date_col: str,
    group_col: str,
    anchor_date: str,
    half_life_days: float = 365.0,
) -> DataFrame:
    """Recency-weighted aggregation: Σ_rows value · 0.5^(age/half_life),
    the exponential-decay scoring every recency-sensitive metric uses
    (customer value, trending items, freshness-weighted corpus stats).
    `anchor_date` is an explicit literal — "now" must be pinned by the
    caller or the metric is irreproducible.

    Determinism contract: the decay factor exp(ln(0.5)·age/half_life)
    is computed per row on identical double operands in both engines
    (age is an exact integer datediff), the weighted value floors to e4
    BEFORE the group sum, so the aggregate is an order-independent
    integer sum (the bm25 transcendental precedent). Rows dated after
    the anchor are excluded (negative age = future data leaking in).

    Scale shape: decay is a scan-side expression; ONE group-keyed
    shuffle with map-side partial sums. Output: (group_col, n_rows,
    decayed_e4), one row per group.
    """
    age = F.datediff(F.lit(anchor_date).cast("date"), F.col(date_col).cast("date"))
    factor = F.exp(
        F.lit(float(__import__("math").log(0.5)))
        * age.cast("double")
        / F.lit(float(half_life_days))
    )
    v_e4 = F.floor(F.col(value_col).cast("double") * factor * F.lit(10000.0)).cast(
        "long"
    )
    return (
        df.filter(age >= 0)
        .select(F.col(group_col), v_e4.alias("_v"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("_v").cast("long").alias("decayed_e4"),
        )
    )


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str = "start_us",
    end_col: str = "end_us",
    bucket_us: int = 3_600_000_000,
    max_buckets_per_interval: int = 10_000,
) -> DataFrame:
    """Generic interval join — facts whose timestamp falls inside
    [start, end) of any interval row — WITHOUT a range-predicate join
    (which Spark executes as a per-key cartesian: the classic scale
    trap this module's as-of merge already avoids for the 1-version
    case; this operator covers the overlapping-intervals case as-of
    can't express).

    Plan: both sides map to coarse time buckets — facts to ONE bucket
    (floor(ts/W)), each interval to its covered bucket RANGE via a
    bounded sequence explode — then an EQUI-join on bucket + the exact
    [start, end) filter. Shuffle volume: |facts| + Σ interval spans/W
    rows, join fan-out bounded by intervals-per-bucket (pick `bucket_us`
    near the typical interval length; a hot bucket is `salted_join`
    territory). `max_buckets_per_interval` guards the explode — a
    mis-entered decade-long interval raises instead of exploding 90k
    rows silently.

    Timestamps are BIGINT microseconds on both sides (cast upstream) —
    integer bucket arithmetic is engine-exact. Returns every fact column
    plus the matched interval's columns.
    """
    b = F.lit(int(bucket_us))
    span = ((F.col(end_col) - F.lit(1)) / b).cast("long") - (
        F.col(start_col) / b
    ).cast("long")
    iv = intervals.filter(F.col(end_col) > F.col(start_col))
    oversize = iv.filter(span >= max_buckets_per_interval).limit(1).count()
    if oversize:
        raise ValueError(
            f"interval_join: an interval spans >= {max_buckets_per_interval} "
            f"buckets of {bucket_us}us — raise bucket_us or split the interval"
        )
    iv_b = iv.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (F.col(start_col) / b).cast("long"),
                ((F.col(end_col) - F.lit(1)) / b).cast("long"),
            )
        ),
    )
    f_b = facts.withColumn("_bucket", (F.col(ts_col) / b).cast("long"))
    return (
        f_b.join(iv_b, on="_bucket")
        .filter(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
        )
        .drop("_bucket")
    )
