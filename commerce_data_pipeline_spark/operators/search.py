"""Keyword relevance search — BM25 scoring and top-k retrieval over the
document corpus.

The training-data use case: given a benchmark/query term set, rank corpus
documents by lexical relevance (targeted decontamination review, seed-set
expansion, retrieval-based data selection à la DSIR). The reference repo
has no search surface; this extends §2d alongside the dedup/similarity
families.

Plan shape for 100 TB:
- Document length (dl) is computed SCAN-SIDE (array size of the normalized
  split) — no aggregation pass over the corpus for lengths.
- Tokens are exploded and immediately filtered to the |Q| query terms
  map-side, so the only corpus-sized shuffle carries (doc_id, term) pairs
  for matching docs only — at most |Q| thin rows per matching document,
  never the text, never the full token stream.
- Per-term document frequencies come from the already-tiny (doc, term)
  aggregate (≤ |Q| groups) and broadcast back.
- Corpus-level scalars (N, total token count) are a single 1-row aggregate
  composed into the plan via broadcast crossJoin — no driver round-trip.
- Top-k lowers to TakeOrderedAndProject (per-partition heaps + driver
  merge of k rows), not a global sort.

Determinism contract (oracle hash-equality): per-(doc, term) scores are
computed in IEEE doubles with a FIXED expression tree — identical
association in the Spark build and the SQL oracle — then floored to e6
integers BEFORE the per-doc sum, so the document score is an
order-independent BIGINT sum (`score_e6 = Σ_t floor(1e6·idf_t·tf_sat_t)`).
The one transcendental (ln in idf) is computed on identical double operands
in both engines; a last-ulp divergence would have to land within 1e-9 of a
1e-6 floor boundary to flip an output — measure-zero in practice, and the
integer tf/df/dl columns emitted alongside pin the inputs exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .text import words
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint

__all__ = ["bm25_topk", "bm25_scores", "tfidf_keywords", "hybrid_rrf", "build_text_index", "bm25_query_index"]


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BM25 score against `query_terms` (docs matching at
    least one term). Columns: id, n_terms (distinct query terms matched),
    dl (token count), score_e6 (BIGINT, Σ per-term floor(1e6·score)).

    BM25 with the classic parameters: idf = ln(1 + (N - df + 0.5)/(df + 0.5))
    (Robertson-Sparck Jones, always positive), tf saturation
    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    ws = words(text_col)
    base = docs.select(
        F.col(id_col), F.size(ws).cast("long").alias("dl"), ws.alias("_ws")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.sum("dl").cast("double").alias("_total_tokens"),
    )
    tok = base.select(
        F.col(id_col), "dl", F.explode("_ws").alias("term")
    ).filter(F.col("term").isin(list(query_terms)))
    tf = tok.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"), F.max("dl").alias("dl")
    )
    return _bm25_score_tail(tf, stats, k1, b, id_col)


def _bm25_score_tail(tf: DataFrame, stats: DataFrame, k1: float, b: float,
                     id_col: str) -> DataFrame:
    """Shared BM25 scoring tail: (id, term, tf, dl) postings + the 1-row
    corpus stats frame → per-doc (n_terms, dl, score_e6). ONE expression
    tree used by both the inline scorer and the persisted-index query, so
    the two paths produce bit-identical floats by construction."""
    scored = _bm25_term_scores(tf, stats, k1, b)
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.max("dl").cast("long").alias("dl"),
        F.sum("term_score_e6").cast("long").alias("score_e6"),
    )


def _bm25_term_scores(tf: DataFrame, stats: DataFrame, k1: float, b: float) -> DataFrame:
    """Per-(id, term) BM25 scoring stage shared by every BM25 consumer
    (inline top-k, persisted index, NDCG evaluation): adds term_score_e6 =
    floor(1e6·idf·tf_sat) to the postings frame. Splitting this out keeps
    the float expression tree defined in exactly ONE place."""
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_avgdl", F.col("_total_tokens") / F.col("_n_docs"))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_tfs",
            (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * (F.col("dl").cast("double") / F.col("_avgdl"))
                )
            ),
        )
        .withColumn(
            "term_score_e6",
            F.floor(F.col("_idf") * F.col("_tfs") * F.lit(1000000.0)).cast("long"),
        )
    )
    return scored


def tfidf_keywords(
    docs: DataFrame,
    group_col: str = "source",
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Per-group TF-IDF keyword extraction: the k most characteristic
    terms of each document group (source/domain profiling — "what is
    this slice of the corpus about" — the standard corpus-audit view).

    tf = term occurrences within the group; df = number of groups
    containing the term; idf = ln((1+N)/(1+df)) + 1 (sklearn's smooth
    idf, always positive); score_e6 = floor(1e6·tf·idf) BIGINT.

    Plan shape for 100 TB: the ONLY corpus-sized shuffle is the
    (group, term) count aggregation, which combines map-side; df/N
    derive from that already-aggregated frame (≤ groups·terms rows) via
    a term-keyed agg broadcast back, N composes as a broadcast 1-row
    aggregate; the per-group top-k window runs over aggregated rows
    only. Total order inside each group: (score_e6 desc, term asc).

    Columns: group, term, tf, df, score_e6, rank (1..k).
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(group_col).alias("grp"), F.explode(words(text_col)).alias("term")
    )
    # the ONE corpus-sized aggregate, materialized once (r18): dfreq and
    # n_groups are BROADCAST subtrees, and each broadcast job re-ran the
    # whole explode+count from the scan (plan audit: three 2-column
    # corpus scans per query) — at 100 TB three full corpus passes for
    # one result
    tf = tok.groupBy("grp", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).transform(_checkpoint, eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_groups = tf.select("grp").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("_n_groups")
    )
    scored = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "score_e6",
            F.floor(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("_n_groups"))
                        / (F.lit(1.0) + F.col("df").cast("double"))
                    )
                    + F.lit(1.0)
                )
                * F.lit(1000000.0)
            ).cast("long"),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.desc("score_e6"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "tf", "df", "score_e6", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25 score; total order (score_e6 desc, id asc)
    so the cut is deterministic. orderBy+limit lowers to the distributed
    TakeOrderedAndProject — no global sort materializes."""
    scores = bm25_scores(docs, query_terms, k1=k1, b=b, id_col=id_col, text_col=text_col)
    return (
        scores.orderBy(F.desc("score_e6"), F.asc(id_col))
        .limit(k)
        .select(
            F.col(id_col),
            "n_terms",
            "dl",
            "score_e6",
        )
    )


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_id: int = 0,
    pool: int = 100,
    k_rrf: int = 60,
    k: int = 25,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher, SIGIR'09): fuse a BM25 keyword ranking with a semantic
    embedding-cosine ranking — the standard hybrid-search shape of RAG /
    retrieval data pipelines (lexical recall + semantic recall, ranks
    fused without score calibration).

    rrf = Σ_lists floor(1e9 / (k_rrf + rank)), ranks 1-based within each
    list's top-`pool`, 0 contribution when absent from a list — pure
    integer arithmetic, so Spark and the SQL oracle agree bit-for-bit.

    Scale shape: the corpus-sized work is the two scorers, each already
    scale-safe (BM25: thin (doc, term) shuffle after a map-side isin
    filter; semantic: map-only quantized fold vs a broadcast query
    literal — see bm25_scores / similarity.quantized_rel_frame). Both
    lists then cut to `pool` rows via TakeOrderedAndProject; ranking,
    the full-outer fuse, and the final top-k all operate on ≤ 2·pool
    rows (single-partition windows are contractually bounded — never
    corpus-sized).

    Output (k rows): id, kw_rank, sem_rank (NULL when outside that
    list's pool), kw_score_e6, rel_e6, rrf_score; ordered rrf_score
    desc, id asc.
    """
    from .similarity import quantized_rel_frame

    kw_w = Window.orderBy(F.desc("score_e6"), F.asc(id_col))
    kw = (
        bm25_scores(docs, query_terms, id_col=id_col, text_col=text_col)
        .orderBy(F.desc("score_e6"), F.asc(id_col))
        .limit(pool)
        .select(
            F.col(id_col).alias("_kid"),
            F.col("score_e6").alias("kw_score_e6"),
            F.row_number().over(kw_w).alias("kw_rank"),
        )
    )
    sem_w = Window.orderBy(F.desc("rel_e6"), F.asc(vec_id_col))
    sem = (
        quantized_rel_frame(emb, query_id, id_col=vec_id_col, vec_col=vec_col)
        .orderBy(F.desc("rel_e6"), F.asc(vec_id_col))
        .limit(pool)
        .select(
            F.col(vec_id_col).alias("_sid"),
            "rel_e6",
            F.row_number().over(sem_w).alias("sem_rank"),
        )
    )
    fused = kw.join(sem, kw["_kid"] == sem["_sid"], "full_outer")
    contrib = lambda rank: F.when(  # noqa: E731 — local fold helper
        rank.isNotNull(), F.lit(1000000000).cast("long") / (F.lit(k_rrf) + rank)
    ).otherwise(F.lit(0))
    return (
        fused.select(
            F.coalesce(F.col("_kid"), F.col("_sid")).alias(id_col),
            "kw_rank",
            "sem_rank",
            "kw_score_e6",
            "rel_e6",
            (
                F.floor(contrib(F.col("kw_rank"))) + F.floor(contrib(F.col("sem_rank")))
            ).cast("long").alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


N_TERM_BUCKETS = 64


def build_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the inverted text index: `postings/` = one row per
    (doc, term) — (term, id, tf, dl) — PARTITIONED BY term_bucket
    (xxhash64(term) mod 64), plus `stats/` (1 row: corpus N + total
    tokens). The BM25 sibling of operators/index.py's IVF layout: a
    100 TB corpus is tokenized ONCE; every later query prunes to its
    query terms' bucket directories instead of re-tokenizing the corpus
    (term_bucket is a pruning key only — results never depend on it,
    so the Spark-only xxhash64 is fine here).

    Postings store tf as BIGINT and dl per row; reading them back and
    scoring through `_bm25_score_tail` is bit-identical to the inline
    scorer (same integer inputs, same expression tree)."""
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    ws = words(text_col)
    base = docs.select(
        F.col(id_col), F.size(ws).cast("long").alias("dl"), ws.alias("_ws")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.sum("dl").cast("double").alias("_total_tokens"),
    )
    postings = (
        base.select(F.col(id_col), "dl", F.explode("_ws").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), F.max("dl").alias("dl"))
        .withColumn(
            "term_bucket",
            F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int"),
        )
    )
    (
        postings.repartition("term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(join_path(path, "postings"))
    )
    stats.write.mode("overwrite").parquet(join_path(path, "stats"))


def bm25_query_index(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k served from a persisted text index: prune to the query
    terms' bucket partitions (≤ |Q| directories of the 64), filter to
    the exact terms, score through the SAME `_bm25_score_tail` as the
    inline path — bit-identical results without touching the corpus
    (pinned in tests/test_search.py)."""
    import pyspark.sql.functions as _F

    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    postings = spark.read.parquet(join_path(path, "postings"))
    stats = spark.read.parquet(join_path(path, "stats"))
    buckets = local_frame(
        postings.sparkSession,
        [(t,) for t in query_terms], "term string"
    ).select(_F.pmod(_F.xxhash64("term"), _F.lit(N_TERM_BUCKETS)).cast("int").alias("b"))
    bucket_vals = sorted({r["b"] for r in buckets.collect()})
    tf = (
        postings.filter(_F.col("term_bucket").isin(bucket_vals))
        .filter(_F.col("term").isin(list(query_terms)))
        .select(id_col, "term", _F.col("tf").cast("double").alias("tf"), "dl")
    )
    scores = _bm25_score_tail(tf, stats, k1, b, id_col)
    return (
        scores.orderBy(_F.desc("score_e6"), _F.asc(id_col))
        .limit(k)
        .select(_F.col(id_col), "n_terms", "dl", "score_e6")
    )


def ndcg_weights(k: int) -> list[float]:
    """Rank-discount weights 1/log2(rank+1) for ranks 1..k, precomputed as
    Python doubles so BOTH engines consume the identical literals (the
    benford ppm-literal technique) — no cross-engine log2 anywhere."""
    import math

    return [1.0 / math.log2(i + 1) for i in range(1, k + 1)]


def ndcg_at_k(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    pool: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Retrieval-quality evaluation — NDCG@k of the BM25 ranking for a
    fixed query workload, the metric a search / RAG-retrieval pipeline
    tracks release-over-release.

    Relevance labels are deterministic: rel(doc, q) = number of distinct
    terms of q the document contains (graded 1..|q| over retrieved docs).
    Per query the candidate pool is the BM25 top-`pool` (score_e6 desc,
    id asc — the bm25_topk total order); DCG@k discounts the pool's first
    k ranks with precomputed 1/log2(rank+1) literal weights, and IDCG@k
    re-ranks the SAME pool by (rel desc, id asc) — "local" NDCG over the
    retrieval pool, the standard offline-eval setup when the full judgment
    set is the retrieved set.

    Scale shape: ONE corpus scan tokenizes against the union of all query
    terms (map-side isin filter), per-(doc, term) scores come from the
    shared _bm25_term_scores expression tree, the (query, term) map is a
    broadcast literal, and every window runs over ≤ |queries|·pool
    aggregated rows. DCG/IDCG terms are rel·weight doubles cast to
    DECIMAL(18,12) before summing (order-independent addition); outputs
    floor to e6 integers.

    Returns (query_id, n_pool, dcg_e6, idcg_e6, ndcg_e6).
    """
    if not queries:
        raise ValueError("ndcg_at_k: queries must be non-empty")
    if k < 1 or pool < k:
        raise ValueError("ndcg_at_k: need 1 <= k <= pool")
    spark = docs.sparkSession
    all_terms = sorted({t for _, terms in queries for t in terms})
    qmap = local_frame(
        spark,
        [(qid, t) for qid, terms in queries for t in set(terms)],
        "query_id int, term string",
    )
    ws = words(text_col)
    base = docs.select(
        F.col(id_col), F.size(ws).cast("long").alias("dl"), ws.alias("_ws")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.sum("dl").cast("double").alias("_total_tokens"),
    )
    tok = base.select(
        F.col(id_col), "dl", F.explode("_ws").alias("term")
    ).filter(F.col("term").isin(all_terms))
    tf = tok.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"), F.max("dl").alias("dl")
    )
    scored = _bm25_term_scores(tf, stats, k1, b)
    per_q = (
        scored.join(F.broadcast(qmap), on="term")
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("rel"),
            F.sum("term_score_e6").cast("long").alias("score_e6"),
        )
    )
    w_pool = Window.partitionBy("query_id").orderBy(F.desc("score_e6"), F.asc(id_col))
    pooled = per_q.withColumn("rank", F.row_number().over(w_pool)).filter(
        F.col("rank") <= pool
    )
    w_ideal = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc(id_col))
    ranked = pooled.withColumn("ideal_rank", F.row_number().over(w_ideal))
    warr = F.array(*[F.lit(w) for w in ndcg_weights(k)])
    gain = ranked.select(
        "query_id",
        F.when(
            F.col("rank") <= k,
            (F.col("rel").cast("double") * F.element_at(warr, F.col("rank").cast("int")))
            .cast("decimal(18,12)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,12)"))
        .alias("_dcg_term"),
        F.when(
            F.col("ideal_rank") <= k,
            (
                F.col("rel").cast("double")
                * F.element_at(warr, F.col("ideal_rank").cast("int"))
            ).cast("decimal(18,12)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,12)"))
        .alias("_idcg_term"),
    )
    agg = gain.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pool"),
        F.sum("_dcg_term").alias("_dcg"),
        F.sum("_idcg_term").alias("_idcg"),
    )
    return agg.select(
        "query_id",
        "n_pool",
        F.floor(F.col("_dcg") * F.lit(1_000_000)).cast("long").alias("dcg_e6"),
        F.floor(F.col("_idcg") * F.lit(1_000_000)).cast("long").alias("idcg_e6"),
        F.floor(
            (F.col("_dcg").cast("double") / F.col("_idcg").cast("double"))
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("ndcg_e6"),
    )
