"""Training-data selection operators: model-based quality filtering and
importance resampling (SURVEY.md §2d extension; X4/X7 adjacent).

Two selection methods every large-scale LLM data pipeline runs and the
reference repo never built:

- `classifier_scores` / `classifier_filter`: a fastText-style linear
  classifier over hashed bag-of-words features (the "quality classifier"
  of the GPT-3 / LLaMA data recipes: score = Σ_tokens w[h(token)], keep
  docs above a margin). The weight table here is a deterministic md5
  stub standing in for trained parameters — the Spark plumbing (feature
  hashing, weight lookup, margin, filter) is the real, tested surface,
  and a trained model drops in by swapping the weight expression for a
  broadcast weight table.

- `dsir_bucket_weights` / `dsir_scores`: Data Selection via Importance
  Resampling (Xie et al., NeurIPS 2023): hashed word-bigram features,
  per-bucket log-likelihood-ratio weights between a target corpus and
  the raw corpus, per-document importance = Σ_features λ[bucket]. Docs
  scoring highest are the ones most "target-like".

Plan shapes for 100 TB:
- classifier: weights are PURE ARITHMETIC of the bucket id (md5-prefix),
  so scoring is scan-side — explode + one thin (doc, partial-sum) row
  per document through a single keyed shuffle (map-side partial agg;
  the text never shuffles). Filtering composes as a map-side predicate.
- DSIR pass 1 (weights): feature rows reduce map-side onto ≤ n_buckets
  groups — the shuffle carries at most n_buckets rows per task; corpus
  scalars compose via broadcast crossJoin of 1-row aggregates.
- DSIR pass 2 (scoring): the λ table is a FIXED-SIZE (n_buckets ≤ 1024)
  codebook collected into a literal array (the bloom.py codebook idiom,
  built from one SQL string — not py4j element literals), so scoring is
  map-only: zero joins, zero shuffles on the corpus side; top-k lowers
  to TakeOrderedAndProject.

Determinism contract: every hash is md5-prefix arithmetic; per-bucket
λ_e6 is floored to BIGINT before any per-document sum, so document
scores are order-independent integer sums (the bm25_scores contract —
the one transcendental, ln, runs on identical double operands in both
engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import word_shingles
from .relational import global_cumsum
from .similarity import quantized_rel_frame
from .text import words
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint

__all__ = [
    "classifier_scores",
    "classifier_filter",
    "dsir_bucket_weights",
    "dsir_scores",
    "dsir_topk",
    "mmr_rerank",
    "calibrate_scores",
]


def _bucket(col, n_buckets: int):
    """md5-prefix feature hashing: first 8 hex chars → 32-bit int → mod.
    SQL twin: CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % n."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets)


def _token_weight(tok_col, n_buckets: int, w_range: int):
    """Stub classifier weight of one token: w[b] = (16-bit md5 prefix of
    the bucket id mod (2·w_range+1)) − w_range ∈ [−w_range, w_range] —
    pure arithmetic of the bucket, no weight-table lookup."""
    b = _bucket(tok_col, n_buckets)
    return (
        F.conv(F.substring(F.md5(b.cast("string")), 1, 4), 16, 10).cast("long")
        % (2 * w_range + 1)
        - w_range
    )


def classifier_scores(
    docs: DataFrame,
    n_buckets: int = 1024,
    w_range: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document linear-classifier margin over hashed token features.

    score = Σ_tokens w[bucket(token)] with the stub weight
    w[b] = (md5-prefix(b) mod (2·w_range+1)) − w_range ∈ [−w_range, w_range]
    — a deterministic stand-in for trained logistic-regression weights.

    Columns: id, n_tokens, score (BIGINT), margin_e4 (BIGINT,
    floor(1e4·score/n_tokens)), keep (score ≥ 0).

    Weight lookup is arithmetic on the bucket id (no weight-table join);
    the exploded (doc, weight) rows reduce map-side so the one shuffle
    carries a single partial-sum row per document.
    """
    tok = docs.select(
        F.col(id_col), F.explode(words(text_col)).alias("_tok")
    )
    w = _token_weight(F.col("_tok"), n_buckets, w_range)
    agg = tok.select(F.col(id_col), w.alias("_w")).groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("_w").cast("long").alias("score"),
    )
    return agg.select(
        F.col(id_col),
        "n_tokens",
        "score",
        F.floor(F.col("score") * F.lit(10000.0) / F.col("n_tokens"))
        .cast("long")
        .alias("margin_e4"),
        (F.col("score") >= 0).alias("keep"),
    )


def classifier_filter(
    docs: DataFrame,
    n_buckets: int = 1024,
    w_range: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Quality-filter the corpus: keep documents the classifier accepts
    (score ≥ 0). The margin is recomputed as a SCAN-SIDE aggregate HOF
    predicate — zero shuffles, zero joins: at 100 TB this pipelines into
    whatever write or transform follows, which is why the filter does
    not reuse `classifier_scores`' explode+groupBy shape (that one
    exists to emit the per-doc score frame). NULL-text docs are dropped
    (no tokens to accept on), matching the scores frame's absence
    semantics."""
    score = F.aggregate(
        words(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: acc + _token_weight(t, n_buckets, w_range),
    )
    return docs.filter(score >= 0)


def _bigram_features(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, feature) rows: one per DISTINCT word bigram per document —
    DSIR's hashed n-gram features (distinct matches the paper's
    bag-of-features presence semantics and bounds per-doc fan-out).
    Reuses the dedup family's shingle construction (normalized split,
    pure HOFs)."""
    return docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, 2)).alias("_feat")
    )


def dsir_bucket_weights(
    docs: DataFrame,
    target_col,
    n_buckets: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Pass 1 of DSIR: per-bucket importance weights λ between the target
    slice (rows where `target_col` is true) and the full raw corpus.

    λ(b) = ln((n_target(b)+1)/(T_target+B)) − ln((n_raw(b)+1)/(T_raw+B))
    (add-one smoothed log-likelihood ratio), emitted as λ_e6 =
    floor(1e6·λ) BIGINT. Output: (bucket, n_target, n_raw, lambda_e6) —
    ≤ n_buckets rows; the feature shuffle reduces map-side onto those
    buckets, so exchange volume is O(n_buckets · tasks), not O(corpus).
    """
    feats = docs.select(
        target_col.alias("_is_target"),
        F.explode(word_shingles(text_col, 2)).alias("_feat"),
    )
    counts = feats.select(
        _bucket(F.col("_feat"), n_buckets).alias("bucket"), "_is_target"
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.count_if(F.col("_is_target")).cast("long").alias("n_target"),
    )
    totals = counts.agg(
        F.sum("n_raw").cast("double").alias("_t_raw"),
        F.sum("n_target").cast("double").alias("_t_target"),
    )
    bb = float(n_buckets)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "n_target",
            "n_raw",
            F.floor(
                (
                    F.log((F.col("n_target") + F.lit(1.0)) / (F.col("_t_target") + F.lit(bb)))
                    - F.log((F.col("n_raw") + F.lit(1.0)) / (F.col("_t_raw") + F.lit(bb)))
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("lambda_e6"),
        )
    )


def dsir_scores(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pass 2 of DSIR: per-document importance = Σ_features λ_e6[bucket].

    The weight table is a fixed-size codebook: collect ≤ n_buckets
    (bucket, λ_e6) rows and inline them as ONE literal array expression.
    Buckets ABSENT from the weights frame (possible whenever the scored
    corpus differs from the corpus the weights were estimated on — e.g.
    weights from a reference slice applied to the full raw corpus) are
    filled with the add-one-smoothed ZERO-COUNT lambda,
    floor((ln(1/(Tt+B)) − ln(1/(Tr+B)))·1e6) with Tt/Tr the feature
    totals recovered from the weights rows — exactly what dsir_weights
    would have emitted for a bucket both corpora missed, not a silent 0.
    Scoring is then map-only over the corpus: zero joins, zero shuffles
    before the final 1-row-per-doc aggregate.

    Columns: id, n_feats, score_e6.
    """
    import math

    rows = weights.collect()
    lam = {r["bucket"]: r["lambda_e6"] for r in rows}
    bb = float(n_buckets)
    t_target = float(sum(int(r["n_target"]) for r in rows))
    t_raw = float(sum(int(r["n_raw"]) for r in rows))
    lam_zero = int(math.floor(
        (math.log(1.0 / (t_target + bb)) - math.log(1.0 / (t_raw + bb))) * 1000000.0
    ))
    arr_sql = "array(" + ",".join(
        str(int(lam.get(b, lam_zero))) + "L" for b in range(n_buckets)
    ) + ")"
    lam_arr = F.expr(arr_sql)
    feats = _bigram_features(docs, id_col, text_col)
    scored = feats.select(
        F.col(id_col),
        F.element_at(lam_arr, (_bucket(F.col("_feat"), n_buckets) + 1).cast("int")).alias("_lam"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_feats"),
        F.sum("_lam").cast("long").alias("score_e6"),
    )


def mmr_rerank(
    emb: DataFrame,
    query_id: int = 0,
    pool: int = 200,
    k: int = 20,
    lam_num: int = 7,
    lam_den: int = 3,
    q_scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-aware selection: Maximal Marginal Relevance (Carbonell &
    Goldstein, SIGIR'98) over the embedding corpus — greedily pick k
    items maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    picked (λ = lam_num/(lam_num+lam_den)). The standard rerank stage of
    retrieval pipelines and the diversity pass of data-selection runs
    (don't fill the budget with near-identical samples).

    Scale shape: the DISTRIBUTED part is what touches the corpus — int
    quantization + relevance scoring scan-side, then the pool cut as
    TakeOrderedAndProject. MMR itself is inherently sequential, so it
    greedily reranks the top-`pool` candidates on the driver — a
    bounded, contractually small set (the similarity.py broadcast-query
    philosophy; production rerankers work on exactly such pools).

    Determinism (cross-engine exact): coordinates quantize to
    q_i = floor(1e3·x_i) BIGINT, so every dot product is an EXACT
    integer in any summation order; cosine_e6 = floor(1e6·dot /
    (sqrt(Σa²)·sqrt(Σb²))) uses only IEEE-correctly-rounded ops (sqrt
    is, unlike ln, exactly rounded), so Spark, Python, and the SQL
    oracle replay identical scores; selection ties break on id asc.
    Zero-norm vectors are excluded (cosine undefined).

    Output (k rows): rank, id, rel_e6, max_sim_e6 (to the already-picked
    set at selection time; 0 for rank 1), mmr_score
    (= lam_num·rel_e6 − lam_den·max_sim_e6).
    """
    import math

    pool_rows = (
        quantized_rel_frame(emb, query_id, q_scale, id_col, vec_col)
        .orderBy(F.desc("rel_e6"), F.asc(id_col))
        .limit(pool)
        .collect()
    )

    cand = {
        r[id_col]: (list(r["_qv"]), int(r["_na2"]), int(r["rel_e6"]))
        for r in pool_rows
    }

    def sim_e6(a, b):
        va, na2, _ = cand[a]
        vb, nb2, _ = cand[b]
        dot = sum(x * y for x, y in zip(va, vb))
        return math.floor((1000000.0 * dot) / (math.sqrt(na2) * math.sqrt(nb2)))

    picked: list[tuple[int, int, int, int, int]] = []  # rank, id, rel, max_sim, score
    remaining = set(cand)
    # incremental max-sim: after a pick, each candidate's max-sim can only
    # change via the ONE new member, so one sim per candidate per round —
    # O(k·pool) dots total, not O(k²·pool) (same argmax, bit-identical).
    # Sentinel is None, NOT 0: cosines can be negative, and a 0 floor
    # would silently replace a negative true maximum (ms = 0 only while
    # nothing is picked, matching max(..., default=0) in the spec).
    best_sim: dict[int, int | None] = {cid: None for cid in cand}
    for rank in range(1, min(k, len(cand)) + 1):
        best = None
        for cid in remaining:
            rel_c = cand[cid][2]
            ms = best_sim[cid] if best_sim[cid] is not None else 0
            score = lam_num * rel_c - lam_den * ms
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel_c, ms, score)
        _, cid, rel_c, ms, score = best
        picked.append((rank, cid, rel_c, ms, score))
        remaining.discard(cid)
        for other in remaining:
            s = sim_e6(other, cid)
            if best_sim[other] is None or s > best_sim[other]:
                best_sim[other] = s

    return local_frame(
        emb.sparkSession,
        picked, schema=f"rank int, {id_col} long, rel_e6 long, max_sim_e6 long, mmr_score long"
    )


def dsir_topk(
    docs: DataFrame,
    target_col,
    k: int = 200,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end DSIR selection: weights from the target slice, score the
    corpus, keep the k most target-like documents (score_e6 desc, id asc
    — deterministic cut; lowers to TakeOrderedAndProject)."""
    w = dsir_bucket_weights(docs, target_col, n_buckets=n_buckets, text_col=text_col)
    s = dsir_scores(docs, w, n_buckets=n_buckets, id_col=id_col, text_col=text_col)
    return s.orderBy(F.desc("score_e6"), F.asc(id_col)).limit(k)


def calibrate_scores(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group score calibration: replace each row's raw score with its
    percentile rank WITHIN its group (source/domain/language), so one
    global threshold means the same thing across heterogeneously-scored
    sources — the standard pre-filter normalization step when quality
    scores are not comparable across domains (a 0.6 from web-crawl text
    and a 0.6 from curated text are different animals).

    calib_e6 = floor(1e6 · percent_rank) with percent_rank =
    (rank−1)/(n_group−1) over the total order (score asc, id asc) —
    unique ranks, a single exact integer division per row, identical in
    any engine; a 1-row group calibrates to 0.

    Scale shape: ONE window shuffle keyed by the group column; groups
    are independent so skew is bounded by the largest group (salt or
    sub-split a pathological mega-group upstream). No joins, no second
    pass.

    Output: (id_col, group_col, score_col, calib_e6).
    """
    w = Window.partitionBy(group_col).orderBy(F.asc(score_col), F.asc(id_col))
    return df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        F.floor(F.percent_rank().over(w) * F.lit(1000000.0))
        .cast("long")
        .alias("calib_e6"),
    )


def ranking_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    out_scale: int = 1_000_000,
) -> DataFrame:
    """Exact ROC AUC of a score against a boolean label — the standard
    acceptance gate for a quality classifier before it filters a corpus
    (is the ranking actually separating good from bad documents?).

    AUC == the Mann-Whitney statistic: P(score_pos > score_neg) +
    ½·P(tie). Computed exactly over integer scores with no per-pair
    work and NO single-partition window:

      1. one groupBy(score) → (n_pos, n_neg) per distinct score;
      2. `relational.global_cumsum` over score ascending gives each
         score the INCLUSIVE running negative count — a range-exchange
         prefix sum (the global_rank machinery), never a global window;
      3. U·2 = Σ_s n_pos(s) · (2·negs_below(s) + n_neg(s)), all integer,
         summed as decimal(38,0) so corpus-scale P·N products cannot
         wrap; AUC_e6 = floor(scale·U2 / (2·P·N)) — non-negative
         integer div == floor in both engines, so the output
         value-hashes cross-engine.

    Scale: cost is one corpus-keyed aggregation + prefix-sum machinery
    over DISTINCT scores (bounded by the score codomain, not the
    corpus). Returns one row (n_pos, n_neg, auc_e6); groups with zero
    positives or zero negatives yield auc_e6 NULL rather than a
    division error.
    """
    lab = F.col(label_col).cast("boolean")
    per = df.groupBy(score_col).agg(
        F.sum(F.when(lab, 1).otherwise(0)).cast("long").alias("_np"),
        F.sum(F.when(lab, 0).otherwise(1)).cast("long").alias("_nn"),
    )
    cum = global_cumsum(per, [F.asc(score_col)], "_nn", cum_col="_cumn")
    u2 = (
        F.col("_np").cast("decimal(38,0)")
        * (2 * (F.col("_cumn") - F.col("_nn")) + F.col("_nn")).cast("decimal(38,0)")
    )
    agg = cum.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        F.sum("_nn").cast("long").alias("n_neg"),
        F.sum(u2).alias("_u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                f"(CAST({out_scale} AS DECIMAL(38,0)) * _u2) div "
                "(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)"
            ),
        ).cast("long").alias("auc_e6"),
    )


def conf_bin_aggs(
    df: DataFrame,
    label_col: str,
    conf_col: str,
    n_bins: int,
    conf_scale: int,
) -> DataFrame:
    """The one shared binning aggregation under every calibration-family
    surface (calibration_report, expected_calibration_error, the
    cross-run QualityGateLedger): equal-width bins of an integer
    confidence in [0, conf_scale], bin = min(floor(conf·n_bins/scale),
    n_bins−1) (top edge closes the last bin), NULL confidences
    excluded, NEGATIVE confidences raise scan-side (they are outside
    the domain, and truncating `div` would bin them differently than
    floor — enforcing the contract beats silently diverging).
    ONE groupBy over ≤ n_bins keys with map-side partials;
    sum_conf accumulates as decimal(38,0) so corpus-scale totals cannot
    wrap. Keeping a single definition is what makes the ledger's
    ingest-time bins provably the same bins its report (and the batch
    operators the parity tests compare against) computes over.

    Returns (bin, n, n_pos, sum_conf), one row per NON-EMPTY bin.
    """
    if n_bins < 2:
        raise ValueError("conf_bin_aggs: n_bins must be >= 2")
    lab = F.col(label_col).cast("boolean")
    conf = F.col(conf_col).cast("long")
    # Exact integer floor division (decimal(38,0) `div`), NOT double `/`:
    # the ledger accepts arbitrary persisted conf_scale, and once
    # conf·n_bins exceeds 2^53 a double quotient can round a just-below-
    # boundary value up and misbin it, silently voiding cross-engine and
    # merge parity. `div` on the exact decimal product can't.
    # Domain guard (r10 ADVICE low): `div` truncates toward zero, which
    # only coincides with floor on NON-NEGATIVE operands — and a negative
    # conf has no bin in the [0, conf_scale] contract anyway — so a
    # negative value in a persisted ledger raises scan-side instead of
    # silently landing in a divergent bin. (DuckDB's `//` also truncates,
    # so the two engines agree wherever the guard passes.)
    guarded = F.when(
        conf < 0,
        F.raise_error(
            F.concat(
                F.lit(
                    f"conf_bin_aggs: negative {conf_col} outside the "
                    "[0, conf_scale] contract: "
                ),
                conf.cast("string"),
            )
        ).cast("long"),
    ).otherwise(conf)
    b = F.least(
        F.expr(f"(CAST(_cg AS DECIMAL(38,0)) * {n_bins}) div {conf_scale}"),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        df.filter(conf.isNotNull())
        .select(guarded.alias("_cg"), lab.alias("_y"))
        .select(b.alias("bin"), "_y", F.col("_cg").alias("_c"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("_y"), 1).otherwise(0)).cast("long").alias("n_pos"),
            F.sum(F.col("_c").cast("decimal(38,0)")).alias("sum_conf"),
        )
    )


def banded_auc_metrics(per: DataFrame, out_scale: int = 1_000_000) -> DataFrame:
    """The banded Mann-Whitney arithmetic shared by `ranking_auc_banded`
    and the QualityGateLedger report: given per-band positive/negative
    counts (bin, n_pos, n_neg) — from ANY banding — compute the banded
    AUC and its falsifiable error bound:

      U2      = Σ_b n_pos(b) · (2·negs_below(b) + n_neg(b))
      auc_e6  = floor(scale·U2 / (2·P·N))
      err_e6  = ceil(scale·Σ_b n_pos(b)·n_neg(b) / (2·P·N)) + 1
                (the +1 ulp absorbs the two floor-divisions, so the
                interval always contains the exact `ranking_auc` output)

    negs_below comes from `relational.global_cumsum` over bin ascending
    (never a single-partition window). All products in decimal(38,0).
    Returns one row (n_pos, n_neg, auc_banded_e6, max_err_e6);
    single-class or empty inputs yield NULL metrics with zeroed counts.
    """
    cum = global_cumsum(
        per.withColumn("_nn", F.col("n_neg").cast("long")),
        [F.asc("bin")],
        "_nn",
        cum_col="_cumn",
    )
    u2 = (
        F.col("n_pos").cast("decimal(38,0)")
        * (2 * (F.col("_cumn") - F.col("_nn")) + F.col("_nn")).cast("decimal(38,0)")
    )
    inband = F.col("n_pos").cast("decimal(38,0)") * F.col("_nn").cast("decimal(38,0)")
    agg = cum.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("_nn").cast("long").alias("n_neg"),
        F.sum(u2).alias("_u2"),
        F.sum(inband).alias("_ib"),
    )
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    denom = "(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)"
    scale = f"CAST({out_scale} AS DECIMAL(38,0))"
    zero = F.lit(0).cast("long")
    return agg.select(
        F.coalesce("n_pos", zero).alias("n_pos"),
        F.coalesce("n_neg", zero).alias("n_neg"),
        F.when(ok, F.expr(f"({scale} * _u2) div {denom}"))
        .cast("long")
        .alias("auc_banded_e6"),
        # ceil of the e6-scaled analytic bound, plus 1 ulp: the exact and
        # banded AUCs each floor once, which can widen their integer gap
        # by one beyond the real-valued bound
        F.when(ok, F.expr(f"({scale} * _ib + {denom} - 1) div {denom} + 1"))
        .cast("long")
        .alias("max_err_e6"),
    )


def ranking_auc_banded(
    df: DataFrame,
    label_col: str,
    score_col: str,
    n_bands: int = 10,
    out_scale: int = 1_000_000,
    approx_boundaries: bool = False,
) -> DataFrame:
    """Banded ROC AUC — the 100 TB twin of `ranking_auc`, with a
    FALSIFIABLE error bound (the `revenue_bands` technique applied to
    ranking quality). `ranking_auc` is exact but its prefix sum runs
    over DISTINCT scores; when the score space is continuous or
    corpus-sized, the scale shape is banding: compute n_bands−1
    percentile boundaries as ONE aggregate, broadcast them, assign
    bands with scan-side comparisons, and run the identical
    Mann-Whitney arithmetic over ≤ n_bands rows.

    Error contract: banding treats every within-band (pos, neg) pair
    as a tie (½ credit) when its true credit is 0 or 1 — off by at
    most ½ per such pair — so

        |auc_exact − auc_banded| ≤ Σ_b n_pos(b)·n_neg(b) / (2·P·N)

    and that bound is COMPUTED FROM THE SAME AGGREGATE and returned as
    `max_err_e6` (ceil at e6 plus one ulp for the two floor-divisions,
    so [auc_banded−err, auc_banded+err] always contains `ranking_auc`'s
    floored output): a release gate can assert "AUC ≥ 0.9" whenever
    auc_banded_e6 − max_err_e6 clears it, with no exact pass at all.
    The bound holds for ANY banding; finer bands only tighten it.
    Exact-vs-banded containment is pinned in tests/test_selection.py
    (hand cases) and tests/test_properties.py (generated inputs).

    Boundary contract: the default `percentile_disc` boundaries (value
    at rank ceil(p·n)) replay cross-engine via ROW_NUMBER + CEIL — the
    winsorized/revenue_bands precedent; `approx_boundaries=True` is the
    production 100 TB switch — `percentile_approx` (one-pass mergeable
    GK sketch, no exact-rank aggregation) on the SAME plan. The error
    bound never reads the boundary VALUES — only the realized band
    populations — so the containment contract survives the swap
    verbatim (pinned in tests/test_selection.py).

    Scale shape: one scan for the boundary aggregate, one for the
    banded (n_pos, n_neg) aggregation (both over the lazily
    checkpointed projection), then band-count-sized arithmetic
    (`banded_auc_metrics` — shared with the cross-run
    QualityGateLedger). No global sort, no per-score state, no
    single-partition window.

    Returns one row: (n_pos, n_neg, auc_banded_e6, max_err_e6);
    degenerate single-class inputs yield NULL metrics like the exact
    operator.
    """
    if n_bands < 2:
        raise ValueError("ranking_auc_banded: n_bands must be >= 2")
    from fractions import Fraction

    ps = []
    for i in range(1, n_bands):
        p = f"{i / n_bands:.6f}"
        if Fraction(p) != Fraction(i, n_bands):
            raise ValueError(
                "ranking_auc_banded: i/n_bands must be exact in 6 decimal "
                f"places for the cross-engine boundary contract (got {i}/{n_bands})"
            )
        ps.append(p)
    lab = F.col(label_col).cast("boolean")
    scored = df.select(
        lab.alias("_y"), F.col(score_col).alias("_s")
    ).transform(_checkpoint, eager=False)  # consumed twice: boundaries + banding
    pctl = "percentile_approx(_s, {p}, 10000)" if approx_boundaries else (
        "percentile_disc({p}) WITHIN GROUP (ORDER BY _s)"
    )
    bounds = scored.agg(
        *[
            F.expr(pctl.format(p=p)).alias(f"_b{i}")
            for i, p in enumerate(ps, 1)
        ]
    )
    band = F.lit(1)
    for i in range(1, n_bands):
        band = band + F.when(F.col("_s") > F.col(f"_b{i}"), 1).otherwise(0)
    per = (
        scored.crossJoin(F.broadcast(bounds))
        .select(band.cast("int").alias("bin"), "_y")
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("_y"), 1).otherwise(0)).cast("long").alias("n_pos"),
            F.sum(F.when(F.col("_y"), 0).otherwise(1)).cast("long").alias("n_neg"),
        )
    )
    return banded_auc_metrics(per, out_scale)


def calibration_report(
    df: DataFrame,
    label_col: str,
    conf_col: str,
    n_bins: int = 10,
    conf_scale: int = 1_000_000,
) -> DataFrame:
    """Reliability diagram — the calibration companion to the AUC gate:
    AUC measures RANKING (does the score order positives above
    negatives?); this measures CALIBRATION (does confidence 0.8 mean
    80% positive?). A quality classifier that filters a corpus at a
    probability threshold needs both audits before its cutoff means
    anything (Guo et al., ICML 2017 — the standard equal-width-bin
    construction).

    Bins come from the shared `conf_bin_aggs` (NULL confidences
    excluded; top edge closes the last bin). Per bin, every output is
    ONE integer-exact floored division, so any engine replays it
    bit-for-bit:

      acc_e6      = floor(1e6 · n_pos / n)
      avg_conf_e6 = floor(1e6 · sum_conf / (n · scale))
      gap_e6      = floor(1e6 · |n_pos·scale − sum_conf| / (n · scale))
                    (|accuracy − confidence| over the COMMON denominator
                    — no per-term flooring, so the gap is exact)

    Returns (bin, n, n_pos, acc_e6, avg_conf_e6, gap_e6), one row per
    NON-EMPTY bin, bin ascending.
    """
    per = conf_bin_aggs(df, label_col, conf_col, n_bins, conf_scale)
    e6 = "CAST(1000000 AS DECIMAL(38,0))"
    denom = f"(CAST(n AS DECIMAL(38,0)) * {conf_scale})"
    return per.select(
        "bin",
        "n",
        "n_pos",
        F.expr(f"({e6} * n_pos) div n").cast("long").alias("acc_e6"),
        F.expr(f"({e6} * sum_conf) div {denom}").cast("long").alias("avg_conf_e6"),
        F.expr(
            f"({e6} * abs(CAST(n_pos AS DECIMAL(38,0)) * {conf_scale} - sum_conf))"
            f" div {denom}"
        ).cast("long").alias("gap_e6"),
    ).orderBy("bin")


def expected_calibration_error(
    df: DataFrame,
    label_col: str,
    conf_col: str,
    n_bins: int = 10,
    conf_scale: int = 1_000_000,
) -> DataFrame:
    """Scalar ECE over the same `conf_bin_aggs` bins as
    `calibration_report`:

        ECE = Σ_b (n_b/N) · |acc_b − conf̄_b|
            = Σ_b |n_pos_b·scale − sum_conf_b| / (N · scale)

    — the per-bin |gap| numerators share one denominator, so the whole
    statistic is ONE floored integer division over bin-level sums:
    ece_e6 = floor(1e6 · Σ_b |n_pos_b·scale − sum_conf_b| / (N·scale)),
    engine-independent with no per-bin rounding anywhere. Returns one
    row (n, ece_e6); an empty/all-NULL-confidence input yields n = 0
    and NULL ece.
    """
    per = conf_bin_aggs(df, label_col, conf_col, n_bins, conf_scale)
    return ece_from_bins(per, conf_scale)


def ece_from_bins(per: DataFrame, conf_scale: int) -> DataFrame:
    """Reduce (bin, n, n_pos, sum_conf) aggregates to the scalar ECE —
    shared by `expected_calibration_error` and the QualityGateLedger
    report (whose bins arrive merged from parquet history)."""
    agg = per.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum(
            F.abs(
                F.col("n_pos").cast("decimal(38,0)") * F.lit(conf_scale)
                - F.col("sum_conf")
            )
        ).alias("_gapsum"),
    )
    return agg.select(
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        F.when(
            F.col("n") > 0,
            F.expr(
                f"(CAST(1000000 AS DECIMAL(38,0)) * _gapsum) div "
                f"(CAST(n AS DECIMAL(38,0)) * {conf_scale})"
            ),
        ).cast("long").alias("ece_e6"),
    )


def fisher_separation(
    df: DataFrame,
    target_label: int = 0,
    vec_col: str = "embedding",
    label_col: str = "label",
    top_k: int = 10,
    quant_scale: int = 1_000_000,
) -> DataFrame:
    """One-vs-rest Fisher separation score per embedding dimension — the
    linear-probe pre-check: which coordinates separate `target_label`
    from the rest, before spending a training run on the labels. For a
    two-class split the Fisher criterion (μ0−μ1)²/(σ0²+σ1²) reduces,
    after clearing denominators, to a RATIO OF INTEGERS over per-class
    (count, sum, sum-of-squares) of the quantized coordinate:

        num = (S0·n1 − S1·n0)²
        den = (n0·Q0 − S0²)·n1² + (n1·Q1 − S1²)·n0²
        fisher_e6 = floor(1e6 · num / den)     (NULL when den = 0)

    with x quantized once as floor(x·quant_scale) — one IEEE multiply +
    floor on the float32-to-double-exact value, identical in any engine —
    so every downstream operation is exact integer arithmetic
    (decimal(38,0) here, HUGEINT in the DuckDB oracle) and the output is
    engine-replayable bit for bit.

    Scale shape: ONE posexplode scan into a dim-keyed agg with map-side
    combine — the shuffle carries dim-count rows (64 here), never token
    rows; the final rank runs over those ≤ dim rows (TakeOrdered). Works
    at any corpus size whose per-class Σx² at e6 quantization stays
    inside decimal(38,0) after the den products — ~1e12 rows at unit-norm
    embeddings; beyond that, lower quant_scale (the ratio is scale-free).

    Returns top_k rows (dim, n0, n1, fisher_e6), fisher_e6 desc
    (NULLs last), dim asc.
    """
    x = df.select(
        F.col(label_col).alias("_y"), F.posexplode(vec_col).alias("dim", "_v")
    )
    dec = 'decimal(38,0)'
    # _xq is decimal(38,0) from the start (r10 ADVICE): squaring the raw
    # BIGINT floor would wrap int64 silently once |v|·quant_scale exceeds
    # ~3e9 (|v| > ~3000 at e6); the decimal square instead NULLs on a
    # (physically implausible) 38-digit overflow — loud, not corrupt.
    xq = x.select(
        "dim",
        (F.col("_y") == F.lit(target_label)).alias("_is0"),
        F.floor(F.col("_v").cast("double") * F.lit(float(quant_scale)))
        .cast(dec)
        .alias("_xq"),
    )
    per = xq.groupBy("dim").agg(
        F.sum(F.when(F.col("_is0"), 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(~F.col("_is0"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("_is0"), F.col("_xq")).otherwise(0).cast(dec)).alias("s0"),
        F.sum(F.when(~F.col("_is0"), F.col("_xq")).otherwise(0).cast(dec)).alias("s1"),
        F.sum(
            F.when(F.col("_is0"), F.col("_xq") * F.col("_xq")).otherwise(0).cast(dec)
        ).alias("q0"),
        F.sum(
            F.when(~F.col("_is0"), F.col("_xq") * F.col("_xq")).otherwise(0).cast(dec)
        ).alias("q1"),
    )
    den = "((n0*q0 - s0*s0)*n1*n1 + (n1*q1 - s1*s1)*n0*n0)"
    num = "((s0*n1 - s1*n0) * (s0*n1 - s1*n0))"
    scored = per.select(
        "dim",
        "n0",
        "n1",
        F.expr(
            f"CASE WHEN {den} > 0 THEN "
            f"(CAST(1000000 AS DECIMAL(38,0)) * {num}) div {den} END"
        ).cast("long").alias("fisher_e6"),
    )
    return scored.orderBy(
        F.desc_nulls_last("fisher_e6"), F.asc("dim")
    ).limit(top_k)
