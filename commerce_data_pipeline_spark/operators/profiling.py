"""Data-quality profiling (deequ/TFDV-style) — per-column statistics of
any table in ONE pass (SURVEY.md §2 P-family extension: the audit step a
pipeline runs before admitting a partition).

`table_profile` emits one row per column: row count, null count, exact
distinct count, numeric min/max (ints and doubles as DOUBLE; timestamps
as epoch microseconds — exact in a double up to 2^53), and string
length min/max. Every statistic is either an exact integer or a value
COPIED from the data (min/max involve no arithmetic), so an ANSI-SQL
oracle reproduces the profile bit-for-bit.

Plan shape for 100 TB:
- ONE aggregation pass over the table: all per-column statistics are
  expressions of the same `agg()`; Spark expands multi-column DISTINCT
  aggregates via a single Expand node (k× row multiplication for k
  distinct columns) with map-side partial aggregation — still one scan,
  one shuffle of partial-agg rows.
- Exact distinct counts are the oracle-checkable contract; at real
  scale swap `exact_distinct=False` to use HLL++ (`approx_count_distinct`,
  mergeable fixed-size sketch state, no Expand) — the profile schema is
  identical, the distinct column becomes an estimate (rows-only check).
- The per-column unpivot happens on the SINGLE aggregated row
  (explode of a literal-sized struct array) — no corpus-side cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint

__all__ = ["table_profile", "group_outliers"]

_NUM_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _dtype_class(dt: T.DataType) -> str:
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "double"
    if isinstance(dt, _NUM_TYPES):
        return "int"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BooleanType):
        return "bool"
    return "other"


def table_profile(df: DataFrame, columns: list[str] | None = None,
                  exact_distinct: bool = True) -> DataFrame:
    """One-pass per-column profile. Output (one row per column, source
    column order): col_name, dtype_class, n_rows, n_null, n_distinct,
    min_num, max_num (DOUBLE; NULL for non-numeric — timestamps/dates
    profile as epoch micros/days), min_len, max_len (string length;
    NULL for non-strings)."""
    fields = [f for f in df.schema.fields if columns is None or f.name in columns]
    if not fields:
        raise ValueError("no columns to profile")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    n_distinct = (
        (lambda c: F.count_distinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    for f in fields:
        c, cls = f.name, _dtype_class(f.dataType)
        if cls in ("int", "double"):
            num = F.col(c).cast("double")
        elif cls == "timestamp":
            num = F.unix_micros(F.col(c)).cast("double")
        elif cls == "date":
            num = F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        elif cls == "bool":
            num = F.col(c).cast("int").cast("double")
        else:
            num = F.lit(None).cast("double")
        slen = (
            F.length(F.col(c)).cast("long")
            if cls == "string"
            else F.lit(None).cast("long")
        )
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"__nn_{c}"),
            n_distinct(c).cast("long").alias(f"__nd_{c}"),
            F.min(num).alias(f"__mn_{c}"),
            F.max(num).alias(f"__mx_{c}"),
            F.min(slen).alias(f"__ml_{c}"),
            F.max(slen).alias(f"__xl_{c}"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(f.name).alias("col_name"),
            F.lit(_dtype_class(f.dataType)).alias("dtype_class"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nn_{f.name}").alias("n_null"),
            F.col(f"__nd_{f.name}").alias("n_distinct"),
            F.col(f"__mn_{f.name}").alias("min_num"),
            F.col(f"__mx_{f.name}").alias("max_num"),
            F.col(f"__ml_{f.name}").alias("min_len"),
            F.col(f"__xl_{f.name}").alias("max_len"),
        )
        for f in fields
    ]
    return row.select(F.explode(F.array(*structs)).alias("_p")).select("_p.*")


def group_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier detection via median absolute deviation
    (the Hampel / x84 rule): flag rows with |x − median| > k·MAD, both
    statistics computed within the row's group. Medians beat means here
    because the statistic itself must not be dragged by the outliers it
    hunts — the data-quality companion to `table_profile` (profile says
    "this column has a range"; this says "these rows are the anomalies").

    Engine-exact: both medians are LOWER medians — the value at
    row_number (n+1) div 2 under the unique total order (value, id) — so
    they are values COPIED from the data, not interpolated floats; dev =
    |x − med| and the k·MAD compare are single correctly-rounded ops on
    identical operands. A group whose majority value is constant has
    MAD = 0: every deviating row flags (documented degenerate case —
    widen k or pre-filter constants if unwanted).

    Scale shape (r13): ONE group-keyed shuffle. Both medians are taken
    as a windowed max-of-the-single-value-at-the-median-rank over the
    group partition — no 1-row-per-group frames, no join-backs, and the
    second window (MAD) reuses the first's partitioning (same key ⇒
    exchange reuse; only an in-partition re-sort). The old shape's two
    filtered join-backs re-executed the input lineage per consumer —
    the executed plan showed 4 identical scans and 3 shuffles for what
    is one scan of work. Parallelism is bounded by the number of
    groups — for few huge groups prefer the approx twin
    (percentile_approx bounds) or sub-split groups; this exact form is
    the oracle-checkable contract.

    Output: (id_col, group_col, value_col, med, dev, mad, is_outlier).

    NULL groups are a real group, not dropped: window partitioning
    treats NULL as one partition, so NULL-group anomalies surface like
    any other group's.
    """
    base = df.select(
        F.col(id_col), F.col(group_col), F.col(value_col).cast("double").alias("_v")
    )
    w1 = Window.partitionBy(group_col).orderBy(F.asc("_v"), F.asc(id_col))
    g = Window.partitionBy(group_col)
    med_rank = F.expr("(_cnt + 1) div 2")
    dev = (
        base.withColumn("_rn", F.row_number().over(w1))
        .withColumn("_cnt", F.count(F.lit(1)).over(g))
        .withColumn(
            "med",
            F.max(F.when(F.col("_rn") == med_rank, F.col("_v"))).over(g),
        )
        .withColumn("dev", F.abs(F.col("_v") - F.col("med")))
    )
    w2 = Window.partitionBy(group_col).orderBy(F.asc("dev"), F.asc(id_col))
    return (
        dev.withColumn("_rn2", F.row_number().over(w2))
        .withColumn(
            "mad",
            F.max(F.when(F.col("_rn2") == med_rank, F.col("dev"))).over(g),
        )
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col("_v").alias(value_col),
            "med",
            "dev",
            "mad",
            (F.col("dev") > F.lit(float(k)) * F.col("mad")).alias("is_outlier"),
        )
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """Privacy audit — k-anonymity over a quasi-identifier combination:
    every row whose (quasi_cols) equivalence class holds fewer than `k`
    records is re-identifiable by linking those attributes to an external
    dataset (Sweeney's attack model). Returns the RISKY classes —
    (quasi_cols..., class_size, deficit) — the worklist a release
    pipeline must generalize or suppress before publishing.

    Plan: ONE keyed count aggregation over the quasi-identifier tuple
    (map-side partials) + a filter; nothing else moves. NULL attribute
    values form their own class (groupBy semantics), which is correct —
    "field withheld" is itself an identifying pattern.
    """
    return (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .filter(F.col("class_size") < k)
        .withColumn("deficit", (F.lit(k) - F.col("class_size")).cast("long"))
    )


def fd_violations(
    df: DataFrame,
    determinant: list[str],
    dependent: str,
    label: str | None = None,
) -> DataFrame:
    """Functional-dependency audit (the deequ `hasUniqueness`/FD-check
    shape): does `determinant → dependent` hold in the data? Returns ONE
    summary row — class counts, how many determinant classes see more
    than one dependent value, the worst multiplicity, and how many ROWS
    sit in violating classes (the repair worklist size). A held FD is
    n_violating_classes = 0; a "PK check" is the special case
    dependent = any non-key column with determinant = the key.

    Plan: one determinant-keyed aggregation (count + countDistinct with
    map-side partials) + a 1-row rollup. Nothing else moves — auditing
    an FD over 100 TB costs one thin shuffle of (det, dep) pairs.
    """
    name = label or f"{','.join(determinant)}->{dependent}"
    per_class = df.groupBy(*[F.col(c) for c in determinant]).agg(
        F.countDistinct(dependent).alias("_nd"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_class.agg(
        F.lit(name).alias("fd"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.count(F.when(F.col("_nd") > 1, 1)).cast("long").alias("n_violating_classes"),
        F.max("_nd").cast("long").alias("max_dependents"),
        F.sum(F.when(F.col("_nd") > 1, F.col("_n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_in_violating"),
    )


def fd_violations_multi(
    df: DataFrame,
    fds: list[tuple[list[str], str, str | None]],
) -> DataFrame:
    """All hypothesized FDs over ONE table in ONE pass (r12 VERDICT #6):
    `fd_check` used to run `fd_violations` once per FD — 2 scans of each
    source table and 3 shuffles per FD (12 total). This emits, per input
    row, one (fd, det, dep) struct per hypothesis (scan-side explode —
    no extra scan, no join), then runs a single (fd, det)-keyed
    aggregation and a |fds|-row rollup: per table, 1 scan + 1 thin
    shuffle + 1 tiny shuffle, for any number of FDs. Shuffle BYTES equal
    the per-FD plans' combined volume — the win is scans and stage
    count, which is what repeated audits over a 100 TB table pay for.

    Semantics are identical to per-FD `fd_violations` (pinned in
    tests/test_profiling.py): determinant/dependent values are compared
    through an injective string encoding (cast-to-string per column,
    NULL kept distinct from any value via a \\x00 sentinel, float/double
    columns normalized `+ 0.0` first so -0.0 and 0.0 stay ONE class as
    the native groupBy/countDistinct treats them; multi-column
    determinants joined on \\x1f AFTER an escape pass — \\x1b doubles
    itself and rewrites any embedded separator/sentinel byte, so a
    string value containing \\x1f cannot shift bytes across the field
    boundary and a literal "\\x00" value stays distinct from NULL; the
    r13 ADVICE collision classes), and an EMPTY table still yields one
    zero-count row per FD (the global-aggregation behavior of the per-FD
    operator), via a literal FD-label frame left-joined to the counts."""
    if not fds:
        raise ValueError("fd_violations_multi: at least one FD required")
    spark = df.sparkSession
    dtypes = dict(df.dtypes)

    def _enc(col: str):
        c = F.col(col)
        if dtypes.get(col) in ("float", "double"):
            c = c + F.lit(0.0)  # IEEE: -0.0 + 0.0 = +0.0 (NaN stays NaN)
        return c.cast("string")

    def _esc(s):
        # injective field encoding (r13 ADVICE): escape \x1b first so the
        # pass is decodable, then rewrite the \x1f field separator and the
        # \x00 NULL sentinel — an escaped field contains NEITHER byte, so
        # concat_ws over fixed arity is injective and the bare-\x00
        # sentinel can never equal an encoded non-null value
        s = F.replace(s, F.lit("\x1b"), F.lit("\x1b\x1b"))
        s = F.replace(s, F.lit("\x1f"), F.lit("\x1b_"))
        return F.replace(s, F.lit("\x00"), F.lit("\x1b0"))

    entries = F.array(
        *[
            F.struct(
                F.lit(label or f"{','.join(det)}->{dep}").alias("fd"),
                F.concat_ws(
                    "\x1f", *[F.coalesce(_esc(_enc(c)), F.lit("\x00")) for c in det]
                ).alias("det"),
                _enc(dep).alias("dep"),
            )
            for det, dep, label in fds
        ]
    )
    exploded = df.select(F.explode(entries).alias("_e")).select(
        "_e.fd", "_e.det", "_e.dep"
    )
    per_class = exploded.groupBy("fd", "det").agg(
        F.countDistinct("dep").alias("_nd"),
        F.count(F.lit(1)).alias("_n"),
    )
    # empty-table parity with per-FD fd_violations (whose GLOBAL agg
    # always yields one row per FD: counts 0, max/sum NULL): a non-empty
    # table produces exactly one agg row per FD by construction (the
    # explode emits every FD's entry for every input row), so only the
    # empty case needs literal rows. A limit-1 probe (~50 ms) is the
    # cheapest correct shape — measured head-to-head at sf0.1: an outer
    # join against a label frame +0.7 s (outer-preserved sides can't
    # broadcast → SMJ stages), a per-FD sentinel union +0.6 s (breaks
    # the single whole-stage agg); the probe +0.05 s.
    if df.isEmpty():
        return local_frame(
            spark,
            [
                (label or f"{','.join(det)}->{dep}", 0, 0, None, None)
                for det, dep, label in fds
            ],
            "fd string, n_classes long, n_violating_classes long, "
            "max_dependents long, rows_in_violating long",
        )
    return per_class.groupBy("fd").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.count(F.when(F.col("_nd") > 1, 1)).cast("long").alias("n_violating_classes"),
        F.max("_nd").cast("long").alias("max_dependents"),
        F.sum(F.when(F.col("_nd") > 1, F.col("_n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_in_violating"),
    )


def winsorize_summary(
    df: DataFrame,
    value_col: str,
    group_col: str,
    p_low: float = 0.05,
    p_high: float = 0.95,
    scale: int = 100,
) -> DataFrame:
    """Robust aggregation — per-group winsorization: clamp each value to
    the group's exact discrete [p_low, p_high] percentiles before
    summing, so a handful of corrupt extremes can't drag the aggregate
    (the standard robust-mean companion to `group_outliers`, which FLAGS
    the extremes; this one neutralizes them).

    Engine-exact: bounds are percentile_disc (values COPIED from the
    data, no interpolation), each clamped value floors to `scale`
    BEFORE the sum → order-independent integer aggregate. One
    group-keyed window-free aggregation pass for the bounds + one for
    the sums (both map-side-combining; bounds frame is
    1-row-per-group → broadcast join).

    Returns (group_col, n_rows, n_capped_low, n_capped_high,
    winsorized_sum_eN) where N = log10(scale) — `scale` must be a
    positive power of ten so the column name states the fixed-point
    exponent truthfully (r6 ADVICE: the name was hardcoded _e2 for
    every scale).
    """
    exp = len(str(scale)) - 1
    if scale <= 0 or scale != 10 ** exp:
        raise ValueError(f"scale must be a positive power of 10, got {scale!r}")
    sum_col = f"winsorized_sum_e{exp}"
    bounds = df.groupBy(group_col).agg(
        F.expr(f"percentile_disc({p_low}) WITHIN GROUP (ORDER BY {value_col})").alias("_lo"),
        F.expr(f"percentile_disc({p_high}) WITHIN GROUP (ORDER BY {value_col})").alias("_hi"),
    )
    v = F.col(value_col).cast("double")
    clamped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    return (
        df.join(F.broadcast(bounds), on=group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(F.when(v < F.col("_lo"), 1)).cast("long").alias("n_capped_low"),
            F.count(F.when(v > F.col("_hi"), 1)).cast("long").alias("n_capped_high"),
            F.sum(F.floor(clamped * F.lit(float(scale))).cast("long"))
            .cast("long")
            .alias(sum_col),
        )
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    group_col: str | None = None,
) -> DataFrame:
    """Equi-width histogram — the distribution companion to
    `table_profile`'s min/max: bin = floor(value / bin_width), one keyed
    count with map-side partials (NULLs excluded — they are
    `table_profile`'s n_null, not a bin). Deterministic binning: the
    floor of an exact division on identical double operands, so both
    engines land every value in the same bin.

    Returns (group_col?, bin, bin_lo, n) — bin_lo = bin · bin_width
    (the bin's inclusive lower edge, for plotting)."""
    v = F.col(value_col).cast("double")
    b = F.floor(v / F.lit(float(bin_width))).cast("long")
    keys = ([F.col(group_col)] if group_col else []) + [b.alias("bin")]
    return (
        df.filter(v.isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("bin_lo", (F.col("bin") * F.lit(float(bin_width))).cast("double"))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style snapshot diff — the audit a pipeline runs before
    publishing a refreshed table: classify every key as added (new
    only), removed (old only), changed (both, any compare column
    differs) or unchanged, and report the four counts. Row content is
    compared as an md5 over the null-tagged concat of `compare_cols`
    (default: every non-key column both frames share, in name order) —
    so only (key, 16-byte digest) pairs shuffle into the one full-outer
    merge, never the payloads.

    Keys must be unique per snapshot (it's a snapshot, not a log);
    duplicate keys raise rather than silently miscount. ONE pass per
    side (r6 VERDICT #3 — previously the guard ran a separate
    groupBy-count action per side and the un-persisted digest frames
    recomputed for the join, i.e. two extra full scans at 100 TB): the
    guard is now FOLDED into the merge — each side pre-aggregates
    (count, max digest) per key, the pre-aggregate's exchange is
    co-partitioned with the full-outer join so Spark reuses it, and the
    final 1-row aggregate carries the max per-key multiplicity, which an
    `assert_true` term raises on at action time (duplicate-key inputs
    fail the very job that would have miscounted).

    Returns ONE row: (n_added, n_removed, n_changed, n_unchanged).
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = sorted(c for c in shared if c not in set(key_cols))
    if not compare_cols:
        raise ValueError("no compare columns")

    def digest(df: DataFrame, tag: str) -> DataFrame:
        h = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                    for c in compare_cols
                ],
            )
        )
        # per-key pre-aggregate: with unique keys (the contract) count==1
        # and max(_h)==_h, so the merge below sees exactly the old
        # digest-per-key frame; a violated contract surfaces as _c > 1
        return (
            df.select(*[F.col(k) for k in key_cols], h.alias("_h"))
            .groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).alias(f"_c{tag}"),
                F.max("_h").alias(f"_h{tag}"),
            )
        )

    both = digest(old, "o").join(digest(new, "n"), on=key_cols, how="full_outer")
    agg = both.agg(
        F.count(F.when(F.col("_ho").isNull(), 1)).cast("long").alias("n_added"),
        F.count(F.when(F.col("_hn").isNull(), 1)).cast("long").alias("n_removed"),
        F.count(
            F.when(
                F.col("_ho").isNotNull()
                & F.col("_hn").isNotNull()
                & (F.col("_ho") != F.col("_hn")),
                1,
            )
        ).cast("long").alias("n_changed"),
        F.count(F.when(F.col("_ho") == F.col("_hn"), 1)).cast("long").alias("n_unchanged"),
        F.max(F.greatest(F.coalesce("_co", F.lit(1)), F.coalesce("_cn", F.lit(1))))
        .alias("_max_mult"),
    )
    # assert_true returns NULL when the guard holds (the coalesce term is
    # then +0 on every output column, so none can be pruned away without
    # evaluating the guard) and raises at action time when it doesn't
    guard = F.coalesce(
        F.assert_true(
            F.coalesce(F.col("_max_mult"), F.lit(1)) <= 1,
            F.lit("snapshot_diff: duplicate keys in a snapshot"),
        ).cast("long"),
        F.lit(0),
    )
    return agg.select(
        *[
            (F.col(c) + guard).alias(c)
            for c in ("n_added", "n_removed", "n_changed", "n_unchanged")
        ]
    )


# floor(log10(1 + 1/d) · 1e6) for d = 1..9, precomputed once so both
# engines compare against the SAME integer expectation (no runtime log)
BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


def benford_profile(df: DataFrame, value_col: str, scale: int = 100) -> DataFrame:
    """Fraud/corruption smell test: distribution of FIRST SIGNIFICANT
    DIGITS of a positive measure vs Benford's law — fabricated or
    unit-mangled financial columns drift from it long before range
    checks fire (the audit companion to `group_outliers`, which needs a
    grouping; Benford needs only the column).

    Digit extraction is integer-exact and engine-portable: the value is
    fixed-pointed (floor(value·scale), the repo-wide contract) and the
    first digit is the leading character of the integer's decimal
    string — no log10 on doubles, whose boundary rounding differs
    between engines. Rows with floor(value·scale) <= 0 are excluded
    (zero/negative have no Benford digit). Expected shares are the
    precomputed BENFORD_PPM integer literals.

    One map-only scan → 9-group aggregate → broadcast total join.
    Returns (digit, n, observed_ppm, expected_ppm, abs_dev_ppm) with
    observed_ppm = floor(n · 1e6 / total).
    """
    cents = F.floor(F.col(value_col).cast("double") * F.lit(float(scale))).cast("long")
    per = (
        df.select(cents.alias("_c"))
        .filter(F.col("_c") > 0)
        .select(F.substring(F.col("_c").cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = per.agg(F.sum("n").alias("_total"))
    expected = F.create_map(
        *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
    )[F.col("digit")]
    return per.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.floor(F.col("n") * F.lit(1_000_000) / F.col("_total")).cast("long").alias("observed_ppm"),
        expected.cast("long").alias("expected_ppm"),
        F.abs(
            F.floor(F.col("n") * F.lit(1_000_000) / F.col("_total"))
            - expected
        ).cast("long").alias("abs_dev_ppm"),
    )


def pearson_moments(
    df: DataFrame, pairs: list[tuple[str, str]], scale: int = 100
) -> DataFrame:
    """Exact-arithmetic Pearson correlation for column pairs — the
    numeric-drift audit ("did discount stop tracking price this
    week?"). Engine-portable where corr() is not: both engines floor
    each value to fixed-point ints (floor(x·scale)), accumulate the
    five moments Σx Σy Σx² Σy² Σxy as EXACT decimals (order-independent
    integer addition — a plain double corr differs in final ulps per
    partition order), then evaluate the textbook formula once per pair
    in IEEE double on identical operands → identical corr, identical
    floor(corr·1e6).

    ONE map-only scan computes every pair's moments in a single
    aggregate row (no per-pair passes); the output explodes that row to
    (col_x, col_y, n, corr_e6). Overflow math: per-row x² at decimal(18)
    ≤ 1e36 summed into decimal(38) — raises on genuine overflow rather
    than wrapping (the association_rules lesson).
    """
    if not pairs:
        raise ValueError("pearson_moments: need at least one column pair")
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, (x, y) in enumerate(pairs):
        xi = F.floor(F.col(x).cast("double") * F.lit(float(scale))).cast("decimal(18,0)")
        yi = F.floor(F.col(y).cast("double") * F.lit(float(scale))).cast("decimal(18,0)")
        aggs += [
            F.sum(xi).alias(f"_sx{i}"),
            F.sum(yi).alias(f"_sy{i}"),
            F.sum(xi * xi).alias(f"_sxx{i}"),
            F.sum(yi * yi).alias(f"_syy{i}"),
            F.sum(xi * yi).alias(f"_sxy{i}"),
        ]
    m = df.agg(*aggs)
    rows = []
    for i, (x, y) in enumerate(pairs):
        n = F.col("_n").cast("double")
        sx = F.col(f"_sx{i}").cast("double")
        sy = F.col(f"_sy{i}").cast("double")
        sxx = F.col(f"_sxx{i}").cast("double")
        syy = F.col(f"_syy{i}").cast("double")
        sxy = F.col(f"_sxy{i}").cast("double")
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        corr = cov / (F.sqrt(vx) * F.sqrt(vy))
        rows.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col("_n").alias("n"),
                F.when((vx > 0) & (vy > 0), F.floor(corr * F.lit(1_000_000)))
                .otherwise(F.lit(None))
                .cast("long")
                .alias("corr_e6"),
            )
        )
    return m.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def chi_square_drift(
    df_a: DataFrame, df_b: DataFrame, col: str, out_col: str = "category"
) -> DataFrame:
    """Categorical distribution drift between two snapshots — the
    corpus-shift audit ("did the source mix / event mix move between
    crawls?"). Emits each category's chi-square homogeneity contribution:
    with o = observed count and e = row_total·side_total/grand the
    expected one, chi2 = (o_a−e_a)²/e_a + (o_b−e_b)²/e_b. Large
    contributions localize WHICH category drifted — the actionable form
    (a single global statistic says only "something moved").

    Engine-portable by construction: counts are exact ints; the float
    part is one fixed expression tree per row ((r·t_a)/g etc., identical
    operand order in the SQL oracle) evaluated on identical operands →
    identical floor(chi2·1e6). Categories missing from one side count 0
    there (full-outer merge), so appearing/vanishing categories surface
    as their own rows instead of silently dropping.

    Plan: one keyed count per side + a category-keyed full-outer merge +
    a broadcast 1-row totals join — two scans total, no per-category
    work on the driver. At 100 TB both counts are map-side-combining
    aggregates over however many categories exist (bounded output).

    Contract: BOTH snapshots must be non-empty — with an all-empty side
    every expected count is 0 and chi-square is undefined (the division
    yields engine-dependent inf/NaN); comparing against an empty
    snapshot is a pipeline bug upstream of this audit, surfaced here as
    NULL chi2_e6 rows rather than a crash.
    """
    a = df_a.groupBy(F.col(col).alias(out_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_a")
    )
    b = df_b.groupBy(F.col(col).alias(out_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    j = (
        a.join(b, out_col, "full_outer")
        .fillna(0, subset=["n_a", "n_b"])
        # consumed twice (totals + per-row math): lazy checkpoint
        # materializes the merged counts once, at first action
        .transform(_checkpoint, eager=False)
    )
    t = j.agg(F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb"))
    na_d, nb_d = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    r_d = (F.col("n_a") + F.col("n_b")).cast("double")
    g_d = (F.col("_ta") + F.col("_tb")).cast("double")
    ea = r_d * F.col("_ta").cast("double") / g_d
    eb = r_d * F.col("_tb").cast("double") / g_d
    chi2 = (na_d - ea) * (na_d - ea) / ea + (nb_d - eb) * (nb_d - eb) / eb
    # expected counts are 0 only when a whole SIDE is empty (see the
    # contract above): gate the division so ANSI mode yields NULL rows
    # for that out-of-contract input instead of DIVIDE_BY_ZERO; with
    # both sides populated the gate is pass-through (per-category e > 0
    # whenever the category exists), so oracles are unaffected
    guarded = F.when(
        (F.col("_ta") > 0) & (F.col("_tb") > 0),
        F.floor(chi2 * F.lit(1_000_000.0)),
    )
    return j.crossJoin(F.broadcast(t)).select(
        out_col,
        "n_a",
        "n_b",
        guarded.cast("long").alias("chi2_e6"),
    )


def fk_orphans(
    spark_pairs: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit (the dbt `relationships` test, scaled):
    for each declared (name, child, child_key, parent, parent_key)
    relationship, count child rows and DISTINCT child keys with no
    matching parent — the broken-FK signal that precedes every silent
    join-loss bug (an inner join downstream would just drop these rows).

    Plan per relationship: one distinct-key aggregation of the child's
    key column (map-side combining — the fact table shrinks to its key
    space before any join) + one LEFT join against the parent's distinct
    keys that flags membership + one global aggregation deriving all
    four counters from the flagged frame. The fact table is scanned
    ONCE, nothing fact-sized is ever joined, and no intermediate frame
    has two consumers (so nothing needs checkpointing). NULL child keys
    are counted separately (n_null_rows) — SQL FK semantics exempt NULLs
    from the constraint, so lumping them into orphans would fake
    violations.

    Output: one row per relationship —
    (relationship, n_child_rows, n_null_rows, n_orphan_rows, n_orphan_keys).
    """
    outs = []
    for name, child, child_key, parent, parent_key in spark_pairs:
        # ONE pass per relationship (r13): the per-key count frame used
        # to feed THREE consumers (null rows / orphan anti-join / row
        # total), re-running the child scan + aggregation for each —
        # 3 fact scans per FD. Flag parent-membership per key with one
        # left join instead, and derive all four counters in a single
        # global aggregation: 1 child scan, 1 key shuffle, 1 join,
        # nothing consumed twice (so nothing needs materializing).
        # NULL child keys never match the join (SQL semantics) — they
        # are counted from the key itself, not the match flag.
        keys = (
            child.select(F.col(child_key).alias("_k"))
            .groupBy("_k")
            .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        )
        flagged = keys.join(
            parent.select(F.col(parent_key).alias("_k"))
            .distinct()
            .withColumn("_m", F.lit(1)),
            "_k",
            "left",
        )
        is_orphan = F.col("_k").isNotNull() & F.col("_m").isNull()
        row = flagged.agg(
            F.lit(name).alias("relationship"),
            F.sum("_n").cast("long").alias("n_child_rows"),
            F.coalesce(F.sum(F.when(F.col("_k").isNull(), F.col("_n"))), F.lit(0))
            .cast("long")
            .alias("n_null_rows"),
            F.coalesce(F.sum(F.when(is_orphan, F.col("_n"))), F.lit(0))
            .cast("long")
            .alias("n_orphan_rows"),
            F.count(F.when(is_orphan, 1)).cast("long").alias("n_orphan_keys"),
        )
        outs.append(row)
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def quantile_sketch_audit(
    df: DataFrame,
    value_col: str,
    group_col: str,
    p: float = 0.5,
    accuracy: int = 1000,
) -> DataFrame:
    """Per-group quantile-sketch ACCURACY contract — the grouped
    complement of the global GK check in `sketch_accuracy` and the
    quantile analog of `sketch_union`'s HLL mergeability witness:
    percentile_approx's partial aggregation IS the sketch merge (map-side
    GK summaries merged at the reducer), so a green row per group proves
    the merged sketch honors its rank-error bound — the property that
    makes quantiles computable in one pass at 100 TB.

    The falsifiable boolean: GK guarantees rank error <= n/accuracy, so
    the estimate must lie between the EXACT values at ranks
    ceil(p·n) ∓ (2n/accuracy + 1) (doubled bound + 1 — slack against tie
    runs, still sharp enough that a broken sketch flips it). Exact rank
    values come from one per-group window pass — this is an audit query:
    it deliberately pays the exact-order cost to certify the cheap path.

    `value_col` must be integer-valued (fix the scale upstream) so both
    engines compare identical values. Returns per group:
    (group, n_rows, lo_bound, hi_bound, approx_ok).
    """
    v = F.col(value_col)
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.percentile_approx(v, p, accuracy).alias("_est"),
    )
    ranked = df.select(F.col(group_col), v.alias("_v")).withColumn(
        "_rn", F.row_number().over(Window.partitionBy(group_col).orderBy("_v"))
    )
    joined = ranked.join(F.broadcast(stats), on=group_col)
    target = F.ceil(F.lit(p) * F.col("n_rows")).cast("long")
    # explicit FLOOR: double->int CASTs truncate in Spark but round in
    # DuckDB, so the oracle must never rely on a bare cast here
    tol = F.floor(F.col("n_rows") * 2 / F.lit(accuracy)).cast("long") + F.lit(1)
    lo_rank = F.greatest(target - tol, F.lit(1))
    hi_rank = F.least(target + tol, F.col("n_rows"))
    bounds = (
        joined.filter((F.col("_rn") == lo_rank) | (F.col("_rn") == hi_rank))
        .groupBy(group_col)
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.min("_v").cast("long").alias("lo_bound"),
            F.max("_v").cast("long").alias("hi_bound"),
            F.max("_est").cast("long").alias("_est"),
        )
    )
    return bounds.select(
        group_col,
        "n_rows",
        "lo_bound",
        "hi_bound",
        F.col("_est").between(F.col("lo_bound"), F.col("hi_bound")).alias("approx_ok"),
    )


def label_agreement(
    df: DataFrame,
    actual_col: str,
    pred_col: str,
) -> DataFrame:
    """Classifier/annotator AGREEMENT audit — Cohen's kappa between two
    categorical columns: the standard "is this labeler better than chance"
    check for weak labels, model-vs-gold evaluation, or inter-annotator
    agreement on a labeling pipeline.

    po = observed agreement, pe = chance agreement Σ_k p(actual=k)·p(pred=k),
    kappa = (po − pe)/(1 − pe). Everything reduces over ONE (actual, pred)
    count (map-side partials); marginal products are computed per label as
    identical-double terms and summed through DECIMAL(18,12) (order-free),
    so the result value-hashes cross-engine at any partitioning. kappa is
    NULL when pe = 1 (a single label on both sides — agreement is
    undefined, not perfect).

    Returns one row: (n_rows, n_agree, po_e6, pe_e6, kappa_e6).
    """
    conf = (
        df.groupBy(F.col(actual_col).alias("_a"), F.col(pred_col).alias("_p"))
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        # |labels|²-row frame with THREE lineage consumers (totals + both
        # marginals): without truncation each re-ran the input scan —
        # for lang_id_agreement that was 4 full corpus scans of the
        # marker-word scoring expression (r13 plan audit)
        .transform(_checkpoint, eager=False)
    )
    totals = conf.agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_a") == F.col("_p"), F.col("_n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_agree"),
    )
    rows_m = conf.groupBy("_a").agg(F.sum("_n").cast("long").alias("_ra"))
    cols_m = conf.groupBy("_p").agg(F.sum("_n").cast("long").alias("_cb"))
    pe_terms = (
        rows_m.join(cols_m, rows_m["_a"] == cols_m["_p"])
        .crossJoin(F.broadcast(totals))
        .select(
            (
                (F.col("_ra").cast("double") / F.col("n_rows"))
                * (F.col("_cb").cast("double") / F.col("n_rows"))
            )
            .cast("decimal(18,12)")
            .alias("_t")
        )
    )
    pe = pe_terms.agg(F.sum("_t").alias("_pe_dec"))
    out = totals.crossJoin(F.broadcast(pe))
    po_d = F.col("n_agree").cast("double") / F.col("n_rows")
    pe_d = F.coalesce(F.col("_pe_dec").cast("double"), F.lit(0.0))
    kappa = (po_d - pe_d) / F.nullif(F.lit(1.0) - pe_d, F.lit(0.0))
    return out.select(
        "n_rows",
        "n_agree",
        F.floor(po_d * F.lit(1_000_000.0)).cast("long").alias("po_e6"),
        F.floor(pe_d * F.lit(1_000_000.0)).cast("long").alias("pe_e6"),
        F.floor(kappa * F.lit(1_000_000.0)).cast("long").alias("kappa_e6"),
    )


def ks_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between numeric snapshots —
    the NUMERIC companion to `chi_square_drift` (which needs categories):
    "did the value distribution move between crawls?". D = sup over the
    pooled support of |F_a(x) − F_b(x)|, computed EXACTLY as integers:
    with inclusive cumulative counts at each merged support value,

        D_num   = max |cum_a·n_b − cum_b·n_a|
        ks_e6   = floor(1e6 · D_num / (n_a·n_b))     (NULL if a side is empty)
        at_value = the smallest support value attaining the max

    No float CDFs anywhere — products in decimal(38,0), so the statistic
    is engine-replayable bit for bit (corpus-scale cum·total stays inside
    38 digits to ~1e12 rows per side). NULL values are excluded (they
    have no order position; their drift belongs to a null-rate audit).

    Plan shape: one keyed count per side (map-side combine — the shuffle
    carries distinct values, not rows), a value-keyed full-outer merge,
    ONE `global_order_stats` range exchange carrying BOTH running counts
    over the distinct-value frame (never a single-partition window — the
    support can be as large as the input when values are continuous; was
    two sequential cumsum arrangements before r17), a broadcast 1-row
    totals join, and a 1-row argmax. Linear end to end.
    """
    from commerce_data_pipeline_spark.operators.relational import global_order_stats

    a = (
        df_a.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("_v"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    )
    b = (
        df_b.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("_v"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    )
    m = (
        a.join(b, "_v", "full_outer")
        .select(
            "_v",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
    )
    # ONE range arrangement carries both running counts (r17: was two
    # sequential global_cumsum calls = two sampled range exchanges + two
    # per-slice offsets jobs over the identical ["_v"] order). The grand
    # totals come from the SAME per-slice offsets fold (r18) — exact
    # integer sums the arrangement already collected — so the former
    # totals broadcast subtree (a second full pass over the arranged
    # frame) is two literals now.
    m, _tot = global_order_stats(
        m, ["_v"], sum_cols=[("n_a", "cum_a"), ("n_b", "cum_b")],
        with_totals=True,
    )
    t_a, t_b = int(_tot["sums"][0]), int(_tot["sums"][1])
    scored = m.select(
        "_v",
        F.lit(t_a).cast("long").alias("t_a"),
        F.lit(t_b).cast("long").alias("t_b"),
        # identical typing to the former column form: DECIMAL(38,0) ×
        # BIGINT, exact integer operands either way
        F.expr(
            f"ABS(CAST(cum_a AS DECIMAL(38,0)) * CAST({t_b} AS BIGINT)"
            f" - CAST(cum_b AS DECIMAL(38,0)) * CAST({t_a} AS BIGINT))"
        ).alias("_d"),
    )
    top = scored.orderBy(F.desc("_d"), F.asc("_v")).limit(1)
    return top.select(
        F.col("t_a").alias("n_a"),
        F.col("t_b").alias("n_b"),
        F.when(
            (F.col("t_a") > 0) & (F.col("t_b") > 0),
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * _d)"
                " div (CAST(t_a AS DECIMAL(38,0)) * t_b)"
            ),
        ).cast("long").alias("ks_e6"),
        F.col("_v").alias("at_value"),
    )


def _banded_snapshot_counts(
    df_ref: DataFrame,
    df_cur: DataFrame,
    col: str,
    n_bands: int,
    op_name: str,
) -> DataFrame:
    """Shared banding stage of the banded drift metrics (`psi_drift`,
    `js_drift`): n_bands−1 `percentile_disc` boundaries computed on the
    REFERENCE side as ONE aggregate (value at rank ceil(p·n) — the
    ranking_auc_banded/winsorized cross-engine contract, p exact in 6
    decimals), broadcast; bands assigned scan-side as 1 + Σ(v > b_i) on
    BOTH sides; one ≤ n_bands-key count per side (map-side partials —
    the shuffle carries band ids, not rows); a `spark.range` spine keeps
    every band 1..n_bands present (empty bands still carry a smoothed
    term downstream). NULLs excluded on both sides. ONE consumption
    chain: the boundary aggregate is lazily checkpointed (1 row) so the
    reference sort-agg never re-runs per consumer, and each side is
    scanned exactly once.

    Returns (band, n_ref, n_cur), ≤ n_bands rows by construction.
    """
    if n_bands < 2:
        raise ValueError(f"{op_name}: n_bands must be >= 2")
    from fractions import Fraction

    ps = []
    for i in range(1, n_bands):
        p = f"{i / n_bands:.6f}"
        if Fraction(p) != Fraction(i, n_bands):
            raise ValueError(
                f"{op_name}: i/n_bands must be exact in 6 decimal places "
                f"for the cross-engine boundary contract (got {i}/{n_bands})"
            )
        ps.append(p)
    spark = df_ref.sparkSession
    ref = df_ref.filter(F.col(col).isNotNull()).select(F.col(col).alias("_v"))
    cur = df_cur.filter(F.col(col).isNotNull()).select(F.col(col).alias("_v"))
    bounds = ref.agg(
        *[
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY _v)").alias(
                f"_b{i}"
            )
            for i, p in enumerate(ps, 1)
        ]
    ).transform(_checkpoint, eager=False)
    band = F.lit(1)
    for i in range(1, n_bands):
        band = band + F.when(F.col("_v") > F.col(f"_b{i}"), 1).otherwise(0)

    def _counts(side: DataFrame, alias: str) -> DataFrame:
        return (
            side.crossJoin(F.broadcast(bounds))
            .select(band.cast("int").alias("band"))
            .groupBy("band")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    spine = spark.range(1, n_bands + 1).select(F.col("id").cast("int").alias("band"))
    return (
        spine.join(_counts(ref, "n_ref"), "band", "left")
        .join(_counts(cur, "n_cur"), "band", "left")
        .select(
            "band",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )


def psi_drift(
    df_ref: DataFrame,
    df_cur: DataFrame,
    col: str,
    n_bands: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    numeric snapshot — the third standard drift metric beside
    `chi_square_drift` (categorical) and `ks_drift` (sup-norm), and the
    one production score-monitoring quotes (PSI < 0.1 stable, > 0.25
    action):

        PSI = Σ_b (p_cur(b) − p_ref(b)) · ln(p_cur(b) / p_ref(b))

    Banding: n_bands−1 `percentile_disc` boundaries computed on the
    REFERENCE side as ONE aggregate (value at rank ceil(p·n) — the
    ranking_auc_banded/winsorized cross-engine contract), broadcast,
    bands assigned scan-side as 1 + Σ(v > b_i) on BOTH sides. Every band
    1..n_bands appears (a `spark.range` spine), because Laplace-smoothed
    proportions p(b) = (c_b + 1)/(t + n_bands) give EMPTY bands a
    nonzero, total-dependent term — dropping them would change PSI.
    Smoothing is the standard zero-guard and keeps every term finite.

    Determinism: counts and totals are exact integers; each band's
    proportions, difference, and log-ratio are built from
    identical-expression doubles in both engines, and ln feeds one
    floor at e6 (the bm25 idf precedent — floor(1e6·x) on an
    identical double). psi_e6 is the INTEGER sum of the floored terms
    (order-free), so it is within n_bands ulps-of-e6 of the unfloored
    PSI and bit-stable cross-engine.

    Plan shape: one boundary aggregate over the reference scan, one
    ≤ n_bands-key count per side (map-side partials — the shuffle
    carries band ids, not rows), then totals + the headline sum as
    unpartitioned windows over the band spine — a frame ≤ n_bands rows
    BY CONSTRUCTION, so the single-partition exchange moves band counts,
    not data, and each side is scanned exactly once (one consumption
    chain, no re-evaluated subplans). NULLs excluded on both sides (no
    order position; their drift belongs to a null-rate audit).

    Returns (band, n_ref, n_cur, psi_term_e6, psi_e6), band ascending —
    per-band terms localize WHERE the distribution moved; psi_e6 repeats
    the headline total on every row.
    """
    per = _banded_snapshot_counts(df_ref, df_cur, col, n_bands, "psi_drift")
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    tr = F.sum("n_ref").over(w_all)
    tc = F.sum("n_cur").over(w_all)
    terms = per.select(
        "band",
        "n_ref",
        "n_cur",
        F.floor(
            (
                (F.col("n_cur") + 1).cast("double")
                / (tc + n_bands).cast("double")
                - (F.col("n_ref") + 1).cast("double")
                / (tr + n_bands).cast("double")
            )
            * F.log(
                (
                    (F.col("n_cur") + 1).cast("double")
                    * (tr + n_bands).cast("double")
                )
                / (
                    (F.col("n_ref") + 1).cast("double")
                    * (tc + n_bands).cast("double")
                )
            )
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("psi_term_e6"),
    )
    return terms.select(
        "band",
        "n_ref",
        "n_cur",
        "psi_term_e6",
        F.sum("psi_term_e6").over(w_all).cast("long").alias("psi_e6"),
    ).orderBy("band")


def js_drift(
    df_ref: DataFrame,
    df_cur: DataFrame,
    col: str,
    n_bands: int = 10,
) -> DataFrame:
    """Jensen-Shannon divergence between banded numeric snapshots — the
    BOUNDED companion to `psi_drift` (PSI is unbounded and blows up on
    near-empty bands; JS is symmetric and capped at ln 2 ≈ 0.6931, so
    one alert threshold works for every column). Same reference-decile
    banding and Laplace smoothing as PSI (`_banded_snapshot_counts` —
    the two metrics are two formulas over the SAME ≤ n_bands frame):

        JS = ½ Σ_b [ p·ln(p/m) + q·ln(q/m) ],   m = (p + q)/2

    with p = (c_ref+1)/(t_ref+B), q = (c_cur+1)/(t_cur+B). Each band
    term floors at e6 from identical-expression doubles (two ln calls —
    the bm25 precedent), js_e6 = order-free integer sum of the floored
    terms, within n_bands ulps-of-e6 of the unfloored JS and bit-stable
    cross-engine. Identical snapshots score exactly 0 (p = q → both ln
    ratios are ln(1) on identical doubles).

    Plan shape: identical to psi_drift — two snapshot scans, two
    ≤ n_bands-key count shuffles, a bounded-window tail.

    Returns (band, n_ref, n_cur, js_term_e6, js_e6), band ascending.
    """
    per = _banded_snapshot_counts(df_ref, df_cur, col, n_bands, "js_drift")
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    tr = F.sum("n_ref").over(w_all)
    tc = F.sum("n_cur").over(w_all)
    p = (F.col("n_ref") + 1).cast("double") / (tr + n_bands).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (tc + n_bands).cast("double")
    m = (p + q) / F.lit(2.0)
    terms = per.select(
        "band",
        "n_ref",
        "n_cur",
        F.floor(
            (p * F.log(p / m) + q * F.log(q / m))
            * F.lit(0.5)
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("js_term_e6"),
    )
    return terms.select(
        "band",
        "n_ref",
        "n_cur",
        "js_term_e6",
        F.sum("js_term_e6").over(w_all).cast("long").alias("js_e6"),
    ).orderBy("band")
