"""Corpus shaping: mixing, packing, token budgets, contamination, splits, quality LM, TF-IDF, hybrid search, hard negatives.

Mechanical split of queries.py (r10, VERDICT r9 directive #4); statement
text is unchanged — see the package __init__ docstring for the determinism
contract every query follows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.scatter import scatter as _scatter
from commerce_data_pipeline_spark.operators import (
    bloom,
    corpus,
    profiling,
    search,
    selection,
    similarity,
    skew,
    temporal,
    text,
)
from commerce_data_pipeline_spark.queries._shared import _dsum



# --------------------------------------------------------------------------
# Corpus shaping (LLM training-data pipeline, operators/corpus.py)
# --------------------------------------------------------------------------

_WS_SPLIT_SQL = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"


def _q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — deterministic per-language sampling (training-mix rates:
    en 0.5 / de 0.25 / zh 0.1, everything else 0.2). Pure map-side filter
    on an md5 hash bucket of doc_id: reproducible row-for-row on any
    cluster size, and both engines compute the identical bucket."""
    docs = load_table(spark, sf, "documents")
    out = corpus.stratified_sample(
        docs, {"en": 0.5, "de": 0.25, "zh": 0.1}, default_rate=0.2
    )
    return out.select("doc_id", "lang")


_O_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
  < CAST(FLOOR((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                          WHEN 'zh' THEN 0.1 ELSE 0.2 END) * 10000.0) AS BIGINT)
"""


def _q_fixed_size_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — exactly-10-per-language deterministic sample (bottom-k of
    the id hash, the distributed reservoir replacement)."""
    docs = load_table(spark, sf, "documents")
    out = corpus.fixed_size_sample(docs, k=10)
    return out.select("doc_id", "lang")


_O_FIXED_SIZE_SAMPLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, ROW_NUMBER() OVER (
    PARTITION BY lang
    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 1073741824 ASC, doc_id ASC) AS sr
  FROM documents
) WHERE sr <= 10
"""


def _q_corpus_split(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — deterministic train/val/test assignment (hash of doc_id;
    10%/10% val/test), summarized per (lang, split). The same doc lands in
    the same split on every run and cluster — eval-set stability."""
    docs = load_table(spark, sf, "documents")
    out = corpus.train_val_test_split(docs, val_pct=0.1, test_pct=0.1)
    return out.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _dsum(F.col("n_chars")).alias("total_chars"),
    )


_O_CORPUS_SPLIT = """
WITH assigned AS (
  SELECT lang, n_chars,
    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 10000 < 1000 THEN 'val'
         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 10000 < 2000 THEN 'test'
         ELSE 'train' END AS split
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs,
  CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) AS total_chars
FROM assigned GROUP BY lang, split
"""


def _q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — benchmark-contamination scan: overlap of each doc's
    distinct 3-gram shingles with the 'benchmark' set (docs with
    doc_id % 50 = 0 stand in for an eval suite). Benchmark shingles
    broadcast; only (doc_id, count) pairs shuffle."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return corpus.benchmark_contamination(docs, bench, shingle_n=3, threshold=0.5)


_O_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, {_WS_SPLIT_SQL} AS words FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> array_to_string(words[i:i+2], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), hits AS (
  SELECT doc_id, COUNT(*) AS n_hits FROM ex
  WHERE s IN (SELECT s FROM bench) GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(len(t.shingles) AS BIGINT) AS n_shingles,
  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
  CAST(FLOOR(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
       / GREATEST(len(t.shingles), 1) * 1000000) AS BIGINT) AS overlap_e6,
  (CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / GREATEST(len(t.shingles), 1)) >= 0.5
    AS contaminated
FROM sh t LEFT JOIN hits h USING (doc_id)
"""


def _q_bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — Bloom-filter decontamination (the broadcast-bitmap variant
    of `contamination`): benchmark shingles (doc_id % 37 = 0) are folded
    into a fixed 16 KiB bit array whose membership test runs SCAN-SIDE as
    higher-order functions over a literal array — the corpus side has zero
    joins and zero shuffles, the shape that survives 100 TB vs a
    multi-GB eval suite (exact string broadcast would not). The md5-derived
    bit positions make the false positives themselves reproducible, so the
    oracle replays the filter bit-for-bit (pos IN set-bits ≡ bit test).

    Eager-action note (PLANS.md audit): `bloom_pack` collects the ≤ 2048
    (word, bits) rows once per call — a fixed-size codebook collect, same
    budget class as index.py's PQ codebook load."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    bits = bloom.bloom_pack(bloom.bloom_build(bench, shingle_n=3))
    # single-file input → 1 split; scatter before the CPU-bound scan-side
    # k·md5-per-shingle membership test (real inputs bring their own
    # splits — the OPERATOR itself stays zero-shuffle on multi-split data)
    docs = _scatter(docs)
    return bloom.bloom_contamination(docs, bits, shingle_n=3, threshold=0.5)


_O_BLOOM_DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id, {_WS_SPLIT_SQL} AS words FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> array_to_string(words[i:i+2], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 37 = 0
), setbits AS (
  -- the filter's set bits: k=3 Kirsch-Mitzenmacher positions per
  -- benchmark shingle — (h1 + j*h2) mod m with h1/h2 carved from ONE md5
  SELECT DISTINCT
    (CAST(('0x' || substr(md5(b.s), 1, 15)) AS BIGINT)
     + t.j * CAST(('0x' || substr(md5(b.s), 16, 15)) AS BIGINT)) % 131072 AS pos
  FROM bench b, LATERAL unnest(generate_series(0, 2)) t(j)
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), shhit AS (
  -- a shingle is a Bloom hit iff ALL k of its positions are set
  SELECT e.doc_id, e.s,
    SUM(CASE WHEN
      (CAST(('0x' || substr(md5(e.s), 1, 15)) AS BIGINT)
       + t.j * CAST(('0x' || substr(md5(e.s), 16, 15)) AS BIGINT)) % 131072
        IN (SELECT pos FROM setbits) THEN 1 ELSE 0 END) = 3 AS inb
  FROM ex e, LATERAL unnest(generate_series(0, 2)) t(j)
  GROUP BY e.doc_id, e.s
), agg AS (
  SELECT doc_id, SUM(CASE WHEN inb THEN 1 ELSE 0 END) AS n_hits
  FROM shhit GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(len(t.shingles) AS BIGINT) AS n_shingles,
  CAST(COALESCE(a.n_hits, 0) AS BIGINT) AS n_bloom_hits,
  CAST(FLOOR(CAST(COALESCE(a.n_hits, 0) AS DOUBLE)
       / GREATEST(len(t.shingles), 1) * 1000000) AS BIGINT) AS hit_e6,
  (CAST(COALESCE(a.n_hits, 0) AS DOUBLE) / GREATEST(len(t.shingles), 1)) >= 0.5
    AS flagged
FROM sh t LEFT JOIN agg a USING (doc_id)
"""


def _q_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal — SCD type-2 dimension build from the event stream: per
    user, consecutive same-event_type rows collapse into validity
    intervals [valid_from, valid_to) with the open version flagged
    current (gaps-and-islands; one key shuffle feeds every step — see
    temporal.scd2_intervals)."""
    ev = load_table(spark, sf, "events")
    return temporal.scd2_intervals(
        ev, key_col="user_id", ts_col="ts", state_col="event_type", id_col="event_id"
    )


def _q_scd2_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal — point-in-time (SCD2) dimension lookup: every purchase
    event joins the behavioural-state version (from `scd2_intervals`
    over the same stream) that was valid AT its timestamp. As-of
    union+window merge, ONE user_id shuffle — never a BETWEEN range
    join (per-key cartesian at scale)."""
    ev = load_table(spark, sf, "events")
    dim = temporal.scd2_intervals(
        ev, key_col="user_id", ts_col="ts", state_col="event_type", id_col="event_id"
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = temporal.scd2_lookup(
        facts, dim, on="user_id",
        dim_cols=["event_type", "valid_to_us", "n_events"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("event_type_dim").alias("state"),
        F.col("valid_from_us_dim").alias("valid_from_us"),
        F.col("valid_to_us_dim").alias("valid_to_us"),
        F.col("n_events_dim").alias("n_events"),
    )


_O_SCD2_LOOKUP = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(event_type) OVER w IS NULL
           OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_type,
    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run
  FROM ordered
), runs AS (
  SELECT user_id, run, MIN(event_type) AS event_type, MIN(ts) AS f,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM numbered GROUP BY user_id, run
), iv AS (
  SELECT user_id, event_type,
    CAST(epoch_us(f) AS BIGINT) AS valid_from_us,
    CAST(epoch_us(LEAD(f) OVER w2) AS BIGINT) AS valid_to_us,
    n_events
  FROM runs
  WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
), facts AS (
  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.ts_us, iv.event_type AS state,
       iv.valid_from_us, iv.valid_to_us, iv.n_events
FROM facts f JOIN iv ON f.user_id = iv.user_id
  AND f.ts_us >= iv.valid_from_us
  AND (iv.valid_to_us IS NULL OR f.ts_us < iv.valid_to_us)
"""


_O_SCD2_INTERVALS = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(event_type) OVER w IS NULL
           OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_type,
    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run
  FROM ordered
), runs AS (
  SELECT user_id, run, MIN(event_type) AS event_type, MIN(ts) AS f,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM numbered GROUP BY user_id, run
)
SELECT user_id, event_type,
  CAST(epoch_us(f) AS BIGINT) AS valid_from_us,
  CAST(epoch_us(LEAD(f) OVER w2) AS BIGINT) AS valid_to_us,
  (LEAD(f) OVER w2 IS NULL) AS is_current,
  n_events
FROM runs
WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
"""


def _q_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — temperature-based source mixing (T5/Pile rule, alpha=0.5):
    per-source keep-rates ∝ sqrt(n_s)/n_s as pure BIGINT thresholds over
    the md5 hash bucket — low-resource sources up-weighted, the corpus
    never shuffles (counts groupBy + broadcast threshold join + map-side
    filter). Expected total ≈ 300 docs at every scale factor's source
    skew."""
    docs = load_table(spark, sf, "documents")
    return corpus.temperature_mix(docs, alpha=0.5, target=300)


_O_TEMPERATURE_MIX = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
), w AS (
  SELECT source, n,
    CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_e6
  FROM counts
), tot AS (
  SELECT SUM(w_e6) AS totw FROM w
), thr AS (
  SELECT w.source,
    LEAST(CAST(10000 AS BIGINT),
          CAST((300 * w.w_e6 * 10000) // (t.totw * w.n) AS BIGINT)) AS thr_e4
  FROM w, tot t
)
SELECT d.doc_id, d.source, th.thr_e4
FROM documents d JOIN thr th USING (source)
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 10000 < th.thr_e4
"""


def _q_resample_ffill(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal — hourly resample + forward fill of the event stream per
    event_type: a dense (key × hour) series over the corpus's global span,
    gaps carrying the last observed value (see temporal.resample_ffill for
    the single-shuffle scale shape). The downsampling every metrics store
    runs; 5 keys × ~720 hourly buckets regardless of event volume."""
    ev = load_table(spark, sf, "events")
    return temporal.resample_ffill(
        ev, key_col="event_type", ts_col="ts", value_col="value", unit="hour"
    )


_O_RESAMPLE_FFILL = """
WITH obs AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, value,
    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn,
    COUNT(*) OVER (PARTITION BY event_type, date_trunc('hour', ts)) AS n_obs
  FROM events
), picked AS (
  SELECT event_type, bucket, value AS v, n_obs FROM obs WHERE rn = 1
), span AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
), grid AS (
  SELECT k.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM events) k, span s,
       LATERAL unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS g(bucket)
)
SELECT g.event_type,
  CAST(epoch(g.bucket) AS BIGINT) AS bucket_s,
  LAST_VALUE(p.v IGNORE NULLS) OVER (
    PARTITION BY g.event_type ORDER BY g.bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
  CAST(COALESCE(p.n_obs, 0) AS BIGINT) AS n_obs,
  (p.v IS NOT NULL) AS is_observed
FROM grid g LEFT JOIN picked p
  ON p.event_type = g.event_type AND p.bucket = g.bucket
"""


def _q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Search — BM25 top-25 for query terms (dup, vector, spark): the
    lexical-relevance ranking a data-selection / decontamination-review
    pass runs against a benchmark's terms. Corpus-sized work is one thin
    (doc_id, term) shuffle AFTER a map-side isin filter to the 3 query
    terms; df and the (N, total-token) scalars broadcast; top-k lowers to
    TakeOrderedAndProject. Per-term scores are e6-floored BEFORE the
    per-doc sum, so the hash-compared score is an order-independent
    integer sum (see operators/search.py determinism contract)."""
    docs = load_table(spark, sf, "documents")
    return search.bm25_topk(docs, ["dup", "vector", "spark"], k=25)


_O_BM25_SEARCH = f"""
WITH base AS (
  SELECT doc_id, {_WS_SPLIT_SQL} AS words FROM documents
), dl AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM base
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) AS total_tokens FROM dl
), tok AS (
  SELECT b.doc_id, unnest(b.words) AS term FROM base b
), tf AS (
  SELECT t.doc_id, t.term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok t WHERE t.term IN ('dup', 'vector', 'spark')
  GROUP BY t.doc_id, t.term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
), scored AS (
  -- fixed expression tree, identical association to search.bm25_scores:
  -- floor(1e6 · idf · tf_sat) per (doc, term) — integer before the sum
  SELECT f.doc_id,
    CAST(FLOOR(
      ln(1.0 + ((s.n_docs - d.df + 0.5) / (d.df + 0.5)))
      * ((f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75
           * (CAST(l.dl AS DOUBLE) / (s.total_tokens / s.n_docs)))))
      * 1000000.0) AS BIGINT) AS term_score_e6
  FROM tf f JOIN dfreq d USING (term) JOIN dl l ON l.doc_id = f.doc_id, stats s
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(term_score_e6) AS BIGINT) AS score_e6
  FROM scored GROUP BY doc_id
)
SELECT a.doc_id, a.n_terms, l.dl, a.score_e6
FROM agg a JOIN dl l USING (doc_id)
ORDER BY a.score_e6 DESC, a.doc_id ASC LIMIT 25
"""


def _q_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Selection — model-based quality filtering (the GPT-3/LLaMA-recipe
    "quality classifier" stage): linear margin over hashed bag-of-words
    features, deterministic md5 stub weights standing in for trained
    parameters. Weight lookup is pure arithmetic of the bucket id, so
    scoring is scan-side; the one shuffle carries a single partial-sum
    row per document (map-side combine). No repartition: the hot stage is
    the codegen'd explode+agg, which outruns a corpus round-trip shuffle
    at bench scale (measured 0.5 vs 0.8 s warm)."""
    docs = load_table(spark, sf, "documents")
    return selection.classifier_scores(docs)


_O_QUALITY_CLASSIFIER = f"""
WITH tok AS (
  SELECT doc_id, unnest({_WS_SPLIT_SQL}) AS tok FROM documents
), wtok AS (
  -- bucket = 32-bit md5 prefix of the token mod 1024; weight = 16-bit md5
  -- prefix of the bucket id mod 2001, shifted to [-1000, 1000]
  SELECT doc_id,
    (CAST(('0x' || substr(md5(CAST(
       CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024
     AS VARCHAR)), 1, 4)) AS BIGINT) % 2001) - 1000 AS w
  FROM tok
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(w) AS BIGINT) AS score
  FROM wtok GROUP BY doc_id
)
SELECT doc_id, n_tokens, score,
  CAST(FLOOR(score * 10000.0 / n_tokens) AS BIGINT) AS margin_e4,
  score >= 0 AS keep
FROM agg
"""


def _q_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """Selection — DSIR importance resampling (Xie et al., NeurIPS 2023):
    hashed word-bigram features, per-bucket add-one-smoothed
    log-likelihood-ratio weights between the target slice (lang='en',
    the stand-in for a quality target corpus) and the raw corpus; keep
    the 200 most target-like documents. Pass 1 reduces features
    map-side onto ≤256 buckets; pass 2 scores map-only against the
    collected λ codebook literal (zero corpus joins); the cut lowers to
    TakeOrderedAndProject. λ_e6 floors to BIGINT before the per-doc sum
    (order-independent integer score, the bm25 determinism contract).
    Single-file parquet input = one split: repartition ahead of the two
    CPU-bound shingling passes (at 100 TB the source arrives pre-split)."""
    docs = load_table(spark, sf, "documents")
    docs = _scatter(docs)
    return selection.dsir_topk(docs, F.col("lang") == F.lit("en"), k=200)


_O_DSIR_SELECT = f"""
WITH base AS (
  SELECT doc_id, lang, {_WS_SPLIT_SQL} AS words FROM documents
), sh AS (
  SELECT doc_id, lang,
    CASE WHEN len(words) >= 2
      THEN list_distinct(list_transform(generate_series(1, len(words) - 1),
             i -> array_to_string(words[i:i+1], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM base
), bf AS (
  SELECT doc_id, (lang = 'en') AS is_t,
    CAST(('0x' || substr(md5(unnest(grams)), 1, 8)) AS BIGINT) % 256 AS bucket
  FROM sh
), counts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_raw,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_target
  FROM bf GROUP BY bucket
), totals AS (
  SELECT CAST(SUM(n_raw) AS DOUBLE) AS t_raw,
         CAST(SUM(n_target) AS DOUBLE) AS t_target FROM counts
), lam AS (
  -- identical association to selection.dsir_bucket_weights:
  -- floor(1e6 · (ln((nt+1)/(Tt+B)) − ln((nr+1)/(Tr+B))))
  SELECT bucket,
    CAST(FLOOR((ln((n_target + 1.0) / (t_target + 256.0))
              - ln((n_raw + 1.0) / (t_raw + 256.0))) * 1000000.0) AS BIGINT)
      AS lambda_e6
  FROM counts, totals
), scored AS (
  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(l.lambda_e6) AS BIGINT) AS score_e6
  FROM bf b JOIN lam l USING (bucket) GROUP BY b.doc_id
)
SELECT doc_id, n_feats, score_e6 FROM scored
ORDER BY score_e6 DESC, doc_id ASC LIMIT 200
"""


def _q_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Selection — MMR diversity rerank (X11): top-20 of the 200 most
    query-relevant embeddings, greedily re-ranked by
    7·relevance − 3·max-sim-to-picked. Corpus work is distributed
    (int-quantized coords scan-side, relevance vs the broadcast query
    literal, pool cut = TakeOrderedAndProject); the greedy loop runs on
    the bounded pool driver-side. All dot products are exact integers
    and cosine_e6 uses only correctly-rounded IEEE ops (sqrt, ×, ÷,
    floor), so the SQL oracle replays the identical selection sequence
    via a recursive CTE."""
    emb = load_table(spark, sf, "embeddings")
    return selection.mmr_rerank(emb, query_id=0, pool=200, k=20)


_O_MMR_RERANK = """
WITH RECURSIVE q AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS na2
  FROM q
), nz AS (
  SELECT * FROM n WHERE na2 > 0
), q0 AS (
  SELECT qv AS q0v, na2 AS n0 FROM nz WHERE vec_id = 0
), rel AS (
  SELECT nz.vec_id, nz.qv, nz.na2,
    CAST(FLOOR((1000000.0 * CAST(list_sum(list_transform(
           generate_series(1, len(nz.qv)), i -> nz.qv[i] * q0.q0v[i])) AS DOUBLE))
         / (sqrt(CAST(nz.na2 AS DOUBLE)) * sqrt(CAST(q0.n0 AS DOUBLE)))) AS BIGINT)
      AS rel_e6
  FROM nz, q0 WHERE nz.vec_id <> 0
), pool AS (
  SELECT vec_id, qv, na2, rel_e6 FROM rel
  ORDER BY rel_e6 DESC, vec_id ASC LIMIT 200
), sims AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
    CAST(FLOOR((1000000.0 * CAST(list_sum(list_transform(
           generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE))
         / (sqrt(CAST(a.na2 AS DOUBLE)) * sqrt(CAST(b.na2 AS DOUBLE)))) AS BIGINT)
      AS sim_e6
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
), sel AS (
  SELECT CAST(1 AS INT) AS rank, c.vec_id, c.rel_e6,
         CAST(0 AS BIGINT) AS max_sim_e6,
         CAST(7 * c.rel_e6 AS BIGINT) AS mmr_score,
         [c.vec_id] AS picked
  FROM (SELECT vec_id, rel_e6 FROM pool ORDER BY rel_e6 DESC, vec_id ASC LIMIT 1) c
  UNION ALL
  SELECT s.rank + 1, c.vec_id, c.rel_e6, c.ms, c.score,
         list_append(s.picked, c.vec_id)
  FROM sel s, LATERAL (
    SELECT p.vec_id, p.rel_e6,
      (SELECT MAX(sim_e6) FROM sims
        WHERE sims.ia = p.vec_id AND list_contains(s.picked, sims.ib)) AS ms,
      7 * p.rel_e6 - 3 * (SELECT MAX(sim_e6) FROM sims
        WHERE sims.ia = p.vec_id AND list_contains(s.picked, sims.ib)) AS score
    FROM pool p
    WHERE NOT list_contains(s.picked, p.vec_id)
    ORDER BY score DESC, p.vec_id ASC
    LIMIT 1
  ) c
  WHERE s.rank < 20
)
SELECT rank, vec_id, rel_e6, max_sim_e6, CAST(mmr_score AS BIGINT) AS mmr_score
FROM sel
"""


def _q_join_profile(spark: SparkSession, sf: str) -> DataFrame:
    """P-family — pre-join audit of orders ⋈ lineitem on orderkey: key
    overlap, orphan rates, per-side max multiplicity (the skew signal),
    and the EXACT output cardinality Σ cnt_l·cnt_r — the explosion check
    run before committing cluster time to a 100 TB join. Corpus rows
    reduce map-side onto keys; one co-keyed full-outer join of the two
    count tables; ONE row out (operators/skew.py:join_profile)."""
    orders = load_table(spark, sf, "orders").select(F.col("o_orderkey").alias("k"))
    li = load_table(spark, sf, "lineitem").select(F.col("l_orderkey").alias("k"))
    return skew.join_profile(orders, li, "k")


_O_JOIN_PROFILE = """
WITH lc AS (
  SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cl FROM orders GROUP BY 1
), rc AS (
  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cr FROM lineitem GROUP BY 1
), b AS (
  SELECT lc.cl, rc.cr FROM lc FULL OUTER JOIN rc USING (k)
)
SELECT
  CAST(COUNT(cl) AS BIGINT) AS n_keys_left,
  CAST(COUNT(cr) AS BIGINT) AS n_keys_right,
  CAST(COUNT(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 END) AS BIGINT) AS n_shared,
  CAST(COUNT(CASE WHEN cr IS NULL THEN 1 END) AS BIGINT) AS orphans_left,
  CAST(COUNT(CASE WHEN cl IS NULL THEN 1 END) AS BIGINT) AS orphans_right,
  CAST(MAX(cl) AS BIGINT) AS max_mult_left,
  CAST(MAX(cr) AS BIGINT) AS max_mult_right,
  CAST(SUM(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN cl * cr ELSE 0 END) AS BIGINT)
    AS est_join_rows
FROM b
"""


def _q_salted_hot_join(spark: SparkSession, sf: str) -> DataFrame:
    """P-family skew mitigation — the 100 TB hot-key join, driver-attested:
    events ⋈ per-type stats on `event_type`, a deliberately pathological
    key (a handful of distinct values over the whole fact table, so EVERY
    key is a hot key and a plain shuffle join lands each type on one
    task). Routed through `guarded_join` (operators/skew.py): the exact
    cardinality audit runs first, then the max-multiplicity signal trips
    `salt_threshold` and the join executes via `salted_join` — large side
    salted into 16 deterministic sub-keys, 5-row stats side replicated
    ×16 (the explode(sequence(0,15)) visible in the plan;
    tests/test_plans.py pins it). Semantics are join-identical, so the
    oracle is the plain SQL join.

    The enrichment itself is integer-exact: per-type mean comparison done
    as v_e2·n > Σv_e2 on floored-e2 longs (no float mean crosses
    engines). Returns per-type (n_events, n_above_mean)."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.floor(F.col("value") * F.lit(100)).cast("long").alias("_v2")
    )
    stats = ev.groupBy("event_type").agg(
        F.sum("_v2").cast("long").alias("_s2"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    joined = skew.guarded_join(
        ev, stats, on="event_type", max_rows=2_000_000_000,
        salt_threshold=100, n_salts=16,
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count(F.when(F.col("_v2") * F.col("_n") > F.col("_s2"), 1))
            .cast("long")
            .alias("n_above_mean"),
        )
        .orderBy("event_type")
    )


_O_SALTED_HOT_JOIN = """
WITH ev AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v2 FROM events
), st AS (
  SELECT event_type, CAST(SUM(v2) AS BIGINT) AS s2, CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY event_type
)
SELECT e.event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(CASE WHEN e.v2 * st.n > st.s2 THEN 1 END) AS BIGINT) AS n_above_mean
FROM ev e JOIN st USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def _q_decayed_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal — recency-weighted customer value: per-customer
    Σ o_totalprice · 0.5^(age/365d) anchored at 2001-09-01 (explicitly
    pinned "now" — reproducible). Decay is a scan-side expression on
    identical double operands in both engines; each weighted value
    floors to e4 BEFORE the one group-keyed sum, so the aggregate is an
    order-independent integer (operators/temporal.py:time_decayed_sum)."""
    orders = load_table(spark, sf, "orders")
    return temporal.time_decayed_sum(
        orders, "o_totalprice", "o_orderdate", "o_custkey",
        anchor_date="2001-09-01", half_life_days=365.0,
    )


_O_DECAYED_REVENUE = """
WITH f AS (
  SELECT o_custkey,
    CAST(FLOOR(CAST(o_totalprice AS DOUBLE)
      * exp(-0.6931471805599453
            * CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2001-09-01') AS DOUBLE)
            / 365.0)
      * 10000.0) AS BIGINT) AS v
  FROM orders
  WHERE datediff('day', CAST(o_orderdate AS DATE), DATE '2001-09-01') >= 0
)
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) AS BIGINT) AS decayed_e4
FROM f GROUP BY o_custkey
"""


def _q_price_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """P-family — MAD-based anomaly detection (Hampel rule): orders whose
    total price deviates from their priority-group median by more than
    2 MADs (k=2 because the synthetic near-uniform price distribution
    tops out at 2.07 MADs — the operator default stays at the classic
    Hampel k=3). Both statistics are LOWER medians (values copied from
    the data under a unique (value, id) order — no float interpolation),
    so the oracle replays every flag exactly. Outlier rows only, bounded
    by a deterministic top-500 cut (profiling.group_outliers)."""
    orders = load_table(spark, sf, "orders")
    out = profiling.group_outliers(
        orders, "o_totalprice", "o_orderpriority", "o_orderkey", k=2.0
    )
    return (
        out.filter(F.col("is_outlier"))
        .orderBy(F.desc("dev"), F.asc("o_orderkey"))
        .limit(500)
    )


_O_PRICE_OUTLIERS = """
WITH n AS (
  SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE) AS v FROM orders
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY v, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM n
), med AS (
  SELECT o_orderpriority, v AS med FROM r WHERE rn = (cnt + 1) // 2
), d AS (
  SELECT n.o_orderkey, n.o_orderpriority, n.v, m.med, ABS(n.v - m.med) AS dev
  FROM n JOIN med m USING (o_orderpriority)
), r2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY dev, o_orderkey) AS rn2,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt2
  FROM d
), mad AS (
  SELECT o_orderpriority, dev AS mad FROM r2 WHERE rn2 = (cnt2 + 1) // 2
)
SELECT d.o_orderkey, d.o_orderpriority, d.v AS o_totalprice, d.med, d.dev, m2.mad,
       (d.dev > 2.0 * m2.mad) AS is_outlier
FROM d JOIN mad m2 USING (o_orderpriority)
WHERE d.dev > 2.0 * m2.mad
ORDER BY d.dev DESC, d.o_orderkey ASC LIMIT 500
"""


def _q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — weighted sampling without replacement (Efraimidis-
    Spirakis exponential keys): 100 documents with inclusion probability
    ∝ n_chars. Key is a scan-side expression over md5-derived uniforms
    (−ln on identical double operands in both engines, floored to e9);
    the cut is TakeOrderedAndProject — no shuffle, no global sort."""
    docs = load_table(spark, sf, "documents")
    return corpus.weighted_sample(docs, "n_chars", k=100)


_O_WEIGHTED_SAMPLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
    CAST(FLOOR(1000000000.0
      * (-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
             / 4294967297.0))
      / CAST(n_chars AS DOUBLE)) AS BIGINT) AS key_e9
  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
)
SELECT doc_id, n_chars, key_e9 FROM keyed
ORDER BY key_e9 ASC, doc_id ASC LIMIT 100
"""


def _q_quality_calibrate(spark: SparkSession, sf: str) -> DataFrame:
    """Selection — per-source quality-score calibration: each document's
    quality_e4 (the text_profile composite) replaced by its percentile
    rank WITHIN its source, so one global threshold is comparable across
    heterogeneously-scored sources. One window shuffle keyed by source;
    percent_rank over the unique total order (score, id) is a single
    exact integer division per row."""
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.floor(text.quality_score("text") * F.lit(10000.0))
        .cast("long")
        .alias("quality_e4"),
    )
    return selection.calibrate_scores(scored, "quality_e4")


_O_QUALITY_CALIBRATE = """
WITH t AS (
  SELECT doc_id, source, text,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
), m AS (
  SELECT doc_id, source,
    len(ws) AS n_tokens,
    CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
      / GREATEST(len(ws), 1) AS wl,
    CAST(len(list_filter(ws, w -> list_contains(
      ['the','a','an','and','or','of','to','in','is','it'], w))) AS DOUBLE)
      / GREATEST(len(ws), 1) AS sw,
    CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
      / GREATEST(length(text), 1) AS pr
  FROM t
), q AS (
  SELECT doc_id, source,
    CAST(FLOOR((0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              + 0.2 * (CASE WHEN wl >= 3.0 AND wl <= 10.0 THEN 1.0 ELSE 0.5 END)
              + 0.2 * LEAST(sw * 5.0, 1.0)
              + 0.2 * (1.0 - LEAST(pr * 2.0, 1.0))) * 10000) AS BIGINT) AS quality_e4
  FROM m
)
SELECT doc_id, source, quality_e4,
  CAST(FLOOR(PERCENT_RANK() OVER (
    PARTITION BY source ORDER BY quality_e4 ASC, doc_id ASC) * 1000000.0) AS BIGINT)
    AS calib_e6
FROM q
"""


def _q_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """P-family — deequ/TFDV-style one-pass data-quality profile of
    lineitem: per-column null count, exact distinct count, numeric
    min/max (timestamps as epoch micros), string-length min/max. All
    statistics are exact integers or values copied from the data, so
    the SQL oracle reproduces the profile bit-for-bit; the unpivot
    happens on the single aggregated row (operators/profiling.py)."""
    li = load_table(spark, sf, "lineitem")
    return profiling.table_profile(li)


def _profile_oracle(table: str, cols: list[tuple[str, str]]) -> str:
    """UNION ALL oracle generator for table_profile: one SELECT per
    column, mirroring operators/profiling.py's dtype_class mapping."""
    parts = []
    for c, cls in cols:
        if cls in ("int", "double"):
            num = f"CAST({c} AS DOUBLE)"
        elif cls == "timestamp":
            num = f"CAST(epoch_us({c}) AS DOUBLE)"
        else:
            num = None
        mn = f"MIN({num})" if num else "CAST(NULL AS DOUBLE)"
        mx = f"MAX({num})" if num else "CAST(NULL AS DOUBLE)"
        ml = f"CAST(MIN(length({c})) AS BIGINT)" if cls == "string" else "CAST(NULL AS BIGINT)"
        xl = f"CAST(MAX(length({c})) AS BIGINT)" if cls == "string" else "CAST(NULL AS BIGINT)"
        parts.append(
            f"SELECT '{c}' AS col_name, '{cls}' AS dtype_class,\n"
            f"  CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
            f"  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,\n"
            f"  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,\n"
            f"  {mn} AS min_num, {mx} AS max_num,\n"
            f"  {ml} AS min_len, {xl} AS max_len\n"
            f"FROM {table}"
        )
    return "\nUNION ALL\n".join(parts)


_O_TABLE_PROFILE = _profile_oracle(
    "lineitem",
    [
        ("l_orderkey", "int"), ("l_partkey", "int"), ("l_suppkey", "int"),
        ("l_linenumber", "int"), ("l_quantity", "double"),
        ("l_extendedprice", "double"), ("l_discount", "double"),
        ("l_tax", "double"), ("l_returnflag", "string"),
        ("l_linestatus", "string"), ("l_shipdate", "timestamp"),
    ],
)


def _q_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """X4 — CCNet-style bigram-LM perplexity scoring: per-doc NLL under
    the corpus's own interpolated bigram model (0.9·MLE + 0.1·add-one
    unigram backoff). Bigram construction is scan-side zip_with; the
    corpus shuffles once for type counts and once to join occurrences to
    the scored types; term_e6 floors BEFORE the per-doc sum so the
    aggregate is an order-independent integer (bm25 ln precedent)."""
    docs = load_table(spark, sf, "documents")
    return text.bigram_lm_scores(docs)


_O_BIGRAM_LM = f"""
WITH base AS (
  SELECT doc_id, {_WS_SPLIT_SQL} AS words FROM documents
), occ AS (
  SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
  FROM base, LATERAL unnest(generate_series(1, len(words) - 1)) AS g(i)
  WHERE len(words) >= 2
), types AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM occ GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM types GROUP BY w1
), c2t AS (
  SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM types GROUP BY w2
), tv AS (
  SELECT CAST(SUM(c12) AS BIGINT) AS t, CAST(COUNT(DISTINCT w2) AS BIGINT) AS v
  FROM types
), scored AS (
  -- fixed expression tree, identical association to text.bigram_lm_scores
  SELECT ty.w1, ty.w2,
    CAST(FLOOR(1000000.0 * ln(
      0.9 * (CAST(ty.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
      + 0.1 * ((CAST(c2t.c2 AS DOUBLE) + 1.0)
               / (CAST(tv.t AS DOUBLE) + CAST(tv.v AS DOUBLE)))
    )) AS BIGINT) AS term_e6
  FROM types ty JOIN c1 USING (w1) JOIN c2t USING (w2), tv
), agg AS (
  SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(s.term_e6) AS BIGINT) AS ll
  FROM occ o JOIN scored s ON o.w1 = s.w1 AND o.w2 = s.w2
  GROUP BY o.doc_id
)
SELECT doc_id, n_bigrams, CAST(-ll AS BIGINT) AS nll_e6,
  CAST((-ll) // n_bigrams AS BIGINT) AS avg_nll_e6
FROM agg
"""


def _q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """X3/X11 — hard-negative mining for contrastive retrieval training:
    for each of the 20 anchor vectors (vec_id % 25 == 5, vec_id < 500 —
    a FIXED bounded anchor set, the production contract: anchors are an
    input list, not a slice that grows with the corpus), the top-5
    corpus vectors with cosine in [0.15, 0.35) — confusable but not
    near-duplicate. Anchors broadcast; quantized integer dots run
    scan-side; the band predicate prunes before the only keyed exchange
    (the per-anchor top-k window). With anchors fixed the operator is
    linear in corpus size (see STRESS.md)."""
    emb = load_table(spark, sf, "embeddings")
    anchors = emb.filter((F.col("vec_id") % 25 == 5) & (F.col("vec_id") < 500))
    return similarity.hard_negatives(emb, anchors, lo_e6=150000, hi_e6=350000, k=5)


_O_HARD_NEGATIVES = """
WITH q AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM q
), nz AS (
  SELECT * FROM n WHERE n2 > 0
), anch AS (
  SELECT vec_id AS anchor_id, qv AS aqv, n2 AS an2 FROM nz
  WHERE vec_id % 25 = 5 AND vec_id < 500
), sims AS (
  SELECT a.anchor_id, c.vec_id,
    CAST(FLOOR((1000000.0 * CAST(list_sum(list_transform(
           generate_series(1, len(c.qv)), i -> c.qv[i] * a.aqv[i])) AS DOUBLE))
         / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(a.an2 AS DOUBLE)))) AS BIGINT)
      AS sim_e6
  FROM nz c CROSS JOIN anch a WHERE c.vec_id <> a.anchor_id
)
SELECT anchor_id, vec_id, sim_e6,
  CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
    ORDER BY sim_e6 DESC, vec_id ASC) AS INT) AS rank
FROM sims
WHERE sim_e6 >= 150000 AND sim_e6 < 350000
QUALIFY rank <= 5
"""
