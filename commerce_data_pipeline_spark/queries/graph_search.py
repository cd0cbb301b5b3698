"""Graph analytics (PageRank/PPR/LPA/triangles/k-core/walks) + co-purchase graph build + search ranking queries.

Mechanical split of queries.py (r10, VERDICT r9 directive #4); statement
text is unchanged — see the package __init__ docstring for the determinism
contract every query follows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.operators import (
    corpus,
    dedup,
    graph,
    linkage,
    multimodal,
    search,
    similarity,
    sketches,
    text,
)
from commerce_data_pipeline_spark.queries._shared import _dsum
from commerce_data_pipeline_spark.queries.dedup_text import _ora_lsh_ctes
from commerce_data_pipeline_spark.queries._shared import _ensure_copurchase_pairs
from commerce_data_pipeline_spark.queries.corpus import _WS_SPLIT_SQL
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint
from commerce_data_pipeline_spark.scatter import scatter as _scatter





def _q_part_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Graph — weighted PageRank over the part co-purchase graph (X12):
    baskets → symmetrized co-occurrence edges (scan-side pair expansion,
    64-item basket cap) → 10 integer-exact power-iteration rounds (each
    ONE src-key join + ONE dst-key aggregation over a checkpointed,
    src-partitioned edge list) → top-100 parts. All rank arithmetic is
    BIGINT multiply/floor-divide/sum, so the DuckDB recursive CTE
    replays the identical trajectory (operators/graph.py contract)."""
    pr = graph.pagerank(
        None, iterations=10,
        undirected_pairs=_ensure_copurchase_pairs(spark, sf),
    )
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    return (
        pr.orderBy(F.desc("rank"), F.asc("node"))
        .limit(100)
        .select(
            F.col("node").alias("part_id"),
            F.col("rank").alias("rank_e9"),
            F.row_number().over(w).alias("prank"),
        )
    )


_O_PART_PAGERANK = """
WITH RECURSIVE d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), capped AS (
  -- the 64-item basket cap, ascending part order (= slice(sort_array(...)))
  SELECT l_orderkey, l_partkey FROM (
    SELECT l_orderkey, l_partkey,
      ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM d)
  WHERE rn <= 64
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS w
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
), edges AS (
  SELECT pa AS u, pb AS v, w FROM pairs
  UNION ALL
  SELECT pb AS u, pa AS v, w FROM pairs
), outw AS (
  SELECT u, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY u
), pr(iter, node, r) AS (
  SELECT 0, u, CAST(1000000000 AS BIGINT) FROM (SELECT DISTINCT u FROM edges) t
  UNION ALL
  SELECT p.iter + 1, e.v AS node,
    CAST(150000000 + SUM((85 * p.r * e.w) // (100 * o.ow)) AS BIGINT) AS r
  FROM pr p JOIN edges e ON e.u = p.node JOIN outw o ON o.u = p.node
  WHERE p.iter < 10
  GROUP BY p.iter + 1, e.v
)
SELECT node AS part_id, r AS rank_e9,
  CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node ASC) AS INT) AS prank
FROM pr WHERE iter = 10
QUALIFY prank <= 100
"""


def _q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """X2 (embedding family) — SemDeDup cluster-then-prune semantic
    dedup (Abbas et al. 2023): nearest-centroid clusters (bounded ~64
    members via auto_dedup_centroids — pair work N·64, linear, NOT the
    ANN √N rule which would be N^1.5 here), in-cluster cosine ≥ τ pairs,
    drop the higher id. τ=0.40 sits in this corpus's in-cluster tail so
    both keep verdicts are exercised. One eager scalar (corpus count →
    centroid rule; a catalog statistic at scale, see PLANS.md eager
    inventory)."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.semantic_dedup(emb, threshold=0.40)


_O_SEMANTIC_DEDUP = """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), par AS (
  -- bounded-cluster rule (similarity.auto_dedup_centroids): smallest power
  -- of two nc >= 16 with nc*64 >= n — integer-exact in every engine
  SELECT n, nc, GREATEST(n // nc, 1) AS step
  FROM (SELECT COUNT(*) AS n FROM embeddings) t,
       LATERAL (
         SELECT MIN(CAST(1 AS BIGINT) << k) AS nc
         FROM unnest(generate_series(4, 31)) AS tk(k)
         WHERE ((CAST(1 AS BIGINT) << k) * 64) >= t.n
       ) l
), cent AS (
  SELECT CAST(vec_id // step AS INT) AS centroid_id, u AS c_vec
  FROM unit, par WHERE vec_id % step = 0 AND vec_id < step * nc
), assign AS (
  SELECT c.vec_id, cent.centroid_id, c.u,
    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      ORDER BY list_dot_product(c.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit c CROSS JOIN cent
), inv AS (
  SELECT vec_id, centroid_id, u FROM assign WHERE r = 1
), marks AS (
  SELECT b.vec_id,
         CAST(COUNT(*) AS BIGINT) AS n_dups,
         MIN(a.vec_id) AS dup_of
  FROM inv a JOIN inv b USING (centroid_id)
  WHERE a.vec_id < b.vec_id AND list_dot_product(a.u, b.u) >= 0.40
  GROUP BY b.vec_id
)
SELECT i.vec_id, i.centroid_id,
  (m.dup_of IS NULL) AS keep,
  CAST(COALESCE(m.n_dups, 0) AS BIGINT) AS n_dups,
  m.dup_of
FROM inv i LEFT JOIN marks m USING (vec_id)
"""


def _q_hybrid_search_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Search — hybrid retrieval via Reciprocal Rank Fusion (X7): BM25
    keyword ranks (terms dup/vector/spark) fused with embedding-cosine
    ranks (query vec_id=0) as Σ floor(1e9/(60+rank)) — the standard RAG
    hybrid-search shape. Corpus-sized work is the two scale-safe scorers;
    ranking/fusing/top-k run on two bounded 100-row pools (see
    operators/search.py:hybrid_rrf)."""
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    return search.hybrid_rrf(
        docs, emb, ["dup", "vector", "spark"], query_id=0, pool=100, k=25
    )


_O_HYBRID_SEARCH_RRF = f"""
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
  SELECT f.doc_id,
    CAST(FLOOR(
      ln(1.0 + ((s.n_docs - d.df + 0.5) / (d.df + 0.5)))
      * ((f.tf * 2.2) / (f.tf + 1.2 * (0.25 + 0.75
           * (CAST(l.dl AS DOUBLE) / (s.total_tokens / s.n_docs)))))
      * 1000000.0) AS BIGINT) AS term_score_e6
  FROM tf f JOIN dfreq d USING (term) JOIN dl l ON l.doc_id = f.doc_id, stats s
), kwagg AS (
  SELECT doc_id, CAST(SUM(term_score_e6) AS BIGINT) AS kw_score_e6
  FROM scored GROUP BY doc_id
), kw AS (
  SELECT doc_id AS kid, kw_score_e6,
    CAST(ROW_NUMBER() OVER (ORDER BY kw_score_e6 DESC, doc_id ASC) AS INT) AS kw_rank
  FROM kwagg ORDER BY kw_score_e6 DESC, doc_id ASC LIMIT 100
), q AS (
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
  SELECT nz.vec_id,
    CAST(FLOOR((1000000.0 * CAST(list_sum(list_transform(
           generate_series(1, len(nz.qv)), i -> nz.qv[i] * q0.q0v[i])) AS DOUBLE))
         / (sqrt(CAST(nz.na2 AS DOUBLE)) * sqrt(CAST(q0.n0 AS DOUBLE)))) AS BIGINT)
      AS rel_e6
  FROM nz, q0 WHERE nz.vec_id <> 0
), sem AS (
  SELECT vec_id AS sid, rel_e6,
    CAST(ROW_NUMBER() OVER (ORDER BY rel_e6 DESC, vec_id ASC) AS INT) AS sem_rank
  FROM rel ORDER BY rel_e6 DESC, vec_id ASC LIMIT 100
), fused AS (
  SELECT COALESCE(k.kid, s.sid) AS doc_id, k.kw_rank, s.sem_rank,
         k.kw_score_e6, s.rel_e6,
    CAST(COALESCE(CAST(FLOOR(1000000000.0 / (60 + k.kw_rank)) AS BIGINT), 0)
       + COALESCE(CAST(FLOOR(1000000000.0 / (60 + s.sem_rank)) AS BIGINT), 0)
       AS BIGINT) AS rrf_score
  FROM kw k FULL OUTER JOIN sem s ON k.kid = s.sid
)
SELECT doc_id, kw_rank, sem_rank, kw_score_e6, rel_e6, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 25
"""


def _q_tfidf_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Search — per-source TF-IDF keyword extraction (corpus-audit view:
    the 5 most characteristic terms of every source). One corpus-sized
    (group, term) count shuffle with map-side combine; df broadcast from
    the aggregated frame; N composes as a broadcast 1-row aggregate; the
    top-k window runs over aggregated rows only. No repartition: the hot
    stage is the codegen'd explode+count, cheaper than a corpus shuffle
    at bench scale."""
    docs = load_table(spark, sf, "documents")
    return search.tfidf_keywords(docs, group_col="source", k=5)


_O_TFIDF_KEYWORDS = f"""
WITH tok AS (
  SELECT source AS grp, unnest({_WS_SPLIT_SQL}) AS term FROM documents
), tf AS (
  SELECT grp, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY grp, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), ng AS (
  SELECT CAST(COUNT(DISTINCT grp) AS DOUBLE) AS n_groups FROM tf
), scored AS (
  -- sklearn smooth idf, fixed association: floor(1e6 · tf · (ln((1+N)/(1+df)) + 1))
  SELECT f.grp, f.term, f.tf, d.df,
    CAST(FLOOR(CAST(f.tf AS DOUBLE)
      * (ln((1.0 + g.n_groups) / (1.0 + CAST(d.df AS DOUBLE))) + 1.0)
      * 1000000.0) AS BIGINT) AS score_e6
  FROM tf f JOIN dfreq d USING (term), ng g
), ranked AS (
  SELECT grp AS source, term, tf, df, score_e6,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY grp ORDER BY score_e6 DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT source, term, tf, df, score_e6, rank FROM ranked WHERE rank <= 5
"""


def _q_corpus_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — quality-quota mixing: at most 3 docs per (lang, source),
    best quality first (tie-break doc_id). Ordering uses the e4-floored
    quality so both engines rank on the identical integer; the window
    partitions by the quota group — nothing global."""
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "lang", "source", "doc_id",
        F.floor(text.quality_score("text") * 10000).cast("long").alias("quality_e4"),
    )
    return corpus.quota_topk(
        scored, ["lang", "source"],
        [F.desc("quality_e4"), F.asc("doc_id")], k=3,
    )


_O_CORPUS_MIX = f"""
WITH t AS (
  SELECT doc_id, lang, source, text, {_WS_SPLIT_SQL} AS ws FROM documents
), m AS (
  SELECT doc_id, lang, source,
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
  SELECT lang, source, doc_id,
    CAST(FLOOR((0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              + 0.2 * (CASE WHEN wl >= 3.0 AND wl <= 10.0 THEN 1.0 ELSE 0.5 END)
              + 0.2 * LEAST(sw * 5.0, 1.0)
              + 0.2 * (1.0 - LEAST(pr * 2.0, 1.0))) * 10000) AS BIGINT) AS quality_e4
  FROM m
)
SELECT lang, source, doc_id, quality_e4, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY lang, source ORDER BY quality_e4 DESC, doc_id ASC) AS INT) AS rank
  FROM q
) WHERE rank <= 3
"""


def _q_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — token-budget mix selection: per language, keep the
    best-quality documents (e4-floored quality, doc_id tie-break) while
    the running token total stays within a 5000-token budget — the
    'N tokens per domain' training-mix rule, whole-document semantics.
    One group-partitioned window; integer cum sums → exact oracle."""
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "lang",
        "doc_id",
        F.floor(text.quality_score("text") * 10000).cast("long").alias("quality_e4"),
        text.token_count("text").cast("long").alias("n_tokens"),
    )
    return corpus.token_budget_select(
        scored,
        budget=5_000,
        group_cols=["lang"],
        order_cols=[F.desc("quality_e4"), F.asc("doc_id")],
    )


_O_TOKEN_BUDGET = f"""
WITH t AS (
  SELECT doc_id, lang, text, {_WS_SPLIT_SQL} AS ws FROM documents
), m AS (
  SELECT doc_id, lang,
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
  SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
    CAST(FLOOR((0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              + 0.2 * (CASE WHEN wl >= 3.0 AND wl <= 10.0 THEN 1.0 ELSE 0.5 END)
              + 0.2 * LEAST(sw * 5.0, 1.0)
              + 0.2 * (1.0 - LEAST(pr * 2.0, 1.0))) * 10000) AS BIGINT) AS quality_e4
  FROM m
), c AS (
  SELECT lang, doc_id, quality_e4, n_tokens,
    SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY quality_e4 DESC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM q
)
SELECT lang, doc_id, quality_e4, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 5000
"""


def _q_overlap_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — sliding-window chunk spans (size 128, stride 64 → 50%
    overlap): the retrieval/context-prep shape. Pure built-ins
    (sequence + posexplode), map-only, blow-up ≈ n_tokens/stride."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", text.token_count("text").cast("long").alias("n_tokens"))
    return corpus.overlap_chunks(toks, size=128, stride=64)


_O_OVERLAP_CHUNKS = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_WS_SPLIT_SQL}) AS BIGINT) AS n_tokens FROM documents
), s AS (
  SELECT doc_id, n_tokens,
    unnest(generate_series(0, (GREATEST(n_tokens - 128, 0) + 63) // 64 * 64, 64)) AS start_tok
  FROM t
)
SELECT doc_id, n_tokens,
  CAST(start_tok // 64 AS INT) AS chunk_index,
  CAST(start_tok AS BIGINT) AS start_tok,
  CAST(LEAST(128, n_tokens - start_tok) AS BIGINT) AS span_len
FROM s
"""


def _q_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """X4 — winnowing fingerprints (MOSS): per-doc count + min/max of the
    selected k-gram hash set (k=5, w=4). The per-doc aggregate keeps the
    oracle row count bounded while still pinning the exact fingerprint
    SET (count + extremes over 60-bit md5-prefix ints). Repartition ahead
    of the fingerprint stage: per-char md5 k-gram hashing is interpreted
    HOF work, and a single-file parquet scan would run it on one split
    (measured 3.9 vs 1.2 s warm; at 100 TB the source arrives
    pre-split)."""
    docs = load_table(spark, sf, "documents")
    docs = _scatter(docs)
    fps = text.winnow_fingerprints(docs, k=5, w=4, hash_fn="md5")
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


_O_WINNOW = """
WITH t AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents
), h AS (
  SELECT doc_id,
    list_transform(generate_series(1, GREATEST(length(nt) - 4, 0)),
      i -> CAST(('0x' || substr(md5(substr(nt, i, 5)), 1, 15)) AS BIGINT)) AS hs
  FROM t
), sel AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, CASE WHEN len(hs) > 0
                            THEN GREATEST(len(hs) - 3, 1) ELSE 0 END),
      j -> list_min(hs[j:j+3]))) AS fps
  FROM h
)
SELECT doc_id,
  CAST(len(fps) AS BIGINT) AS n_fps,
  CAST(list_min(fps) AS BIGINT) AS min_fp,
  CAST(list_max(fps) AS BIGINT) AS max_fp
FROM sel WHERE len(fps) > 0
"""


def _q_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """X4×X2 — winnowing near-dup candidate pairs on a doubled corpus
    (each doc provably pairs with its exact copy: identical fingerprint
    sets). Bucketed in-bucket expansion — fingerprint table scanned once,
    no self-join on the Spark side; the oracle uses the equivalent
    fp-equijoin formulation."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    doubled = docs.unionAll(docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    doubled = _scatter(doubled)
    return text.winnow_pairs(doubled, k=8, w=4, min_shared=4, max_fp_freq=16, hash_fn="md5")


_O_WINNOW_PAIRS = """
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
), t AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM d
), h AS (
  SELECT doc_id,
    list_transform(generate_series(1, GREATEST(length(nt) - 7, 0)),
      i -> CAST(('0x' || substr(md5(substr(nt, i, 8)), 1, 15)) AS BIGINT)) AS hs
  FROM t
), sel AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, CASE WHEN len(hs) > 0
                            THEN GREATEST(len(hs) - 3, 1) ELSE 0 END),
      j -> list_min(hs[j:j+3]))) AS fps
  FROM h
), fprows AS (
  SELECT doc_id, unnest(fps) AS fp FROM sel
), ok AS (
  SELECT fp FROM fprows GROUP BY fp
  HAVING COUNT(*) BETWEEN 2 AND 16
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fprows a JOIN fprows b USING (fp) JOIN ok USING (fp)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM p GROUP BY id_a, id_b HAVING COUNT(*) >= 4
"""


def _q_dup_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    """X4×X1 — cross-document repeated 8-gram SPANS (exact-substring dedup,
    Lee et al. ACL 2022 shape): maximal token ranges whose every 8-token
    window also occurs in ≥ 2 distinct documents. The corpus has natural
    cross-doc repetition (small vocabulary), so this runs on the RAW
    documents table — no doubling needed. Spark groups window hashes
    (xxhash64, 8-byte shuffle rows); the oracle groups the window text
    itself — identical equivalence classes barring 64-bit collisions."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return text.dup_ngram_spans(docs, n=8, min_docs=2)


_O_DUP_NGRAM_SPANS = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
), wins AS (
  SELECT doc_id, u.pos AS pos, array_to_string(tk[u.pos:u.pos+7], ' ') AS w
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS pos
  ) u
), dup AS (
  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT doc_id, pos FROM wins WHERE w IN (SELECT w FROM dup)
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM marked
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS start_tok,
       CAST(MAX(pos) + 7 AS BIGINT) AS end_tok,
       COUNT(*) AS n_dup_windows
FROM isl GROUP BY doc_id, g
"""


def _q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """X6 — exact φ=1/30 heavy hitters over the corpus token stream via
    the Misra–Gries candidate pass + exact verification (bounded-memory
    candidate generation is the 100 TB path; the verified output is exact,
    so the oracle is a plain GROUP BY ... HAVING count > N/30)."""
    docs = load_table(spark, sf, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.explode(text.words("text")).alias("word"))
    return sketches.misra_gries_heavy_hitters(toks, "word", k=30)


_O_HEAVY_HITTERS = """
WITH w AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents WHERE text IS NOT NULL
)
SELECT word, COUNT(*) AS cnt FROM w GROUP BY word
HAVING COUNT(*) * 30 > (SELECT COUNT(*) FROM w)
"""


def _q_fuzzy_name_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Linkage — fuzzy (Levenshtein ≤ 2) entity resolution over part
    names via the canonicalize-first form: exact duplicates collapse to
    (name, n) BEFORE any comparison, blocked matching runs over the
    distinct names only (64 at sf0.1, vs 20k records — a 10⁵× pair
    reduction), and record-pair multiplicities are recovered
    arithmetically. Aggregated to (dist, n_pairs) over RECORD pairs;
    pair-level semantics pinned in tests/test_linkage.py. The oracle
    replays the identical normalization, blocking, ≤4096 truncation
    contract, ANSI levenshtein, and the C(n,2)/n_a·n_b arithmetic."""
    part = load_table(spark, sf, "part").select("p_name")
    matches = linkage.fuzzy_name_match(part, "p_name", max_dist=2)
    return matches.groupBy("dist").agg(
        F.sum("n_record_pairs").alias("n_pairs")
    )


_O_FUZZY_NAME_PAIRS = """
WITH grp AS (
  SELECT trim(regexp_replace(lower(p_name), '\\s+', ' ', 'g')) AS nm, COUNT(*) AS n
  FROM part GROUP BY 1
), blocked AS (
  SELECT nm, n, string_split(nm, ' ')[1] AS b1, len(string_split(nm, ' ')) AS b2
  FROM grp
), kept AS (
  SELECT nm, n, b1, b2 FROM blocked
  QUALIFY row_number() OVER (PARTITION BY b1, b2 ORDER BY nm) <= 4096
), cross_p AS (
  SELECT levenshtein(a.nm, b.nm) AS dist, a.n * b.n AS np
  FROM kept a JOIN kept b ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.nm < b.nm
), allp AS (
  SELECT dist, np FROM cross_p WHERE dist <= 2
  UNION ALL
  SELECT 0 AS dist, n * (n - 1) // 2 AS np FROM grp WHERE n >= 2
)
SELECT CAST(dist AS INTEGER) AS dist, CAST(SUM(np) AS BIGINT) AS n_pairs
FROM allp GROUP BY dist
"""


def _q_chunk_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — concat-then-chunk sequence packing into 512-token context
    windows per language stream: one running-sum window partitioned by
    lang (at 100 TB the group key adds a hash shard; see operator doc)."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "lang", "doc_id", text.token_count("text").cast("long").alias("n_tokens")
    )
    return corpus.chunk_pack(toks, budget=512, group_cols=["lang"])


_O_CHUNK_PACK = f"""
WITH t AS (
  SELECT lang, doc_id, CAST(len({_WS_SPLIT_SQL}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT *, SUM(n_tokens) OVER (
    PARTITION BY lang ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT lang, doc_id, n_tokens,
  CAST(cum - n_tokens AS BIGINT) AS start_offset,
  CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 512) AS BIGINT) AS first_chunk,
  CAST(FLOOR(CAST(cum - 1 AS DOUBLE) / 512) AS BIGINT) AS last_chunk
FROM c
"""


def _q_greedy_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — whole-document greedy bin packing (512-token bins) per
    language via applyInPandas; the oracle replays the identical greedy
    recurrence as a recursive CTE, so the sequential-state operator is
    still hash-checked, not just row-counted."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "lang", "doc_id", text.token_count("text").cast("long").alias("n_tokens")
    )
    return corpus.greedy_pack(toks, budget=512, group_cols=["lang"])


_O_GREEDY_PACK = f"""
WITH RECURSIVE t AS (
  SELECT lang, doc_id, CAST(len({_WS_SPLIT_SQL}) AS BIGINT) AS n_tokens,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
), rec AS (
  SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin_id,
    n_tokens AS bin_fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.rn, t.doc_id, t.n_tokens,
    CASE WHEN rec.bin_fill + t.n_tokens > 512
         THEN rec.bin_id + 1 ELSE rec.bin_id END,
    CASE WHEN rec.bin_fill + t.n_tokens > 512
         THEN t.n_tokens ELSE rec.bin_fill + t.n_tokens END
  FROM rec JOIN t ON t.lang = rec.lang AND t.rn = rec.rn + 1
)
SELECT lang, doc_id, n_tokens, bin_id, bin_fill FROM rec
"""


def _q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — PII scrub audit. The synthetic docs carry no PII, so the
    query plants deterministic emails (doc_id % 7 = 0) and phone numbers
    (doc_id % 11 = 0) IDENTICALLY in both engines, then redacts; the md5
    of the redacted text pins the exact replacement behavior."""
    docs = load_table(spark, sf, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"), F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 555-867-530"),
                    (F.col("doc_id") % 10).cast("string"), F.lit(" today"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = corpus.redact_pii(aug)
    return out.select(
        "doc_id", "n_emails", "n_phones", F.md5("redacted_text").alias("redacted_md5")
    )


_O_PII_REDACT = """
WITH aug AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
         ELSE '' END ||
    CASE WHEN doc_id % 11 = 0
         THEN ' call 555-867-530' || CAST(doc_id % 10 AS VARCHAR) || ' today'
         ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b')) AS BIGINT) AS n_phones,
  md5(regexp_replace(
        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b', '<PHONE>', 'g')) AS redacted_md5
FROM aug
"""


def _q_daily_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """G-family widening — trailing z-score anomaly detection: per market
    segment, each day's revenue against the mean/std of the prior 7 days
    (ROWS frame excluding the current row). The window runs over the
    POST-AGGREGATION series (segments × days — tiny), so the per-segment
    sort is trivial; the heavy table only ever does one groupBy. Variance
    via the sum/sum-of-squares identity with decimal-exact window sums so
    both engines do the identical float arithmetic; z floored to e4."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.to_date("o_orderdate").alias("day"))
        .agg(_dsum(F.col("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("day").rowsBetween(-7, -1)
    n = F.count(F.lit(1)).over(w)
    s = F.sum(F.col("revenue").cast("decimal(38,6)")).over(w).cast("double")
    ss = (
        F.sum((F.col("revenue") * F.col("revenue")).cast("decimal(38,6)"))
        .over(w)
        .cast("double")
    )
    mean = s / n
    var = (ss - n.cast("double") * mean * mean) / (n.cast("double") - 1)
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = (F.col("revenue") - mean) / std
    return (
        daily.select(
            "c_mktsegment", "day", "revenue", n.alias("_n"), std.alias("_std"), z.alias("_z")
        )
        .filter((F.col("_n") == 7) & (F.col("_std") > 0))
        .select(
            "c_mktsegment", "day", "revenue",
            F.floor(F.col("_z") * 10000).cast("long").alias("z_e4"),
            (F.abs(F.col("_z")) >= 2.0).alias("is_anomaly"),
        )
    )


_O_DAILY_ANOMALIES = """
WITH daily AS (
  SELECT c_mktsegment, CAST(o_orderdate AS DATE) AS day,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, CAST(o_orderdate AS DATE)
), win AS (
  SELECT c_mktsegment, day, revenue,
    COUNT(*) OVER w AS n,
    CAST(SUM(CAST(revenue AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s,
    CAST(SUM(CAST(revenue * revenue AS DECIMAL(38,6))) OVER w AS DOUBLE) AS ss
  FROM daily
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), scored AS (
  SELECT c_mktsegment, day, revenue, n,
    sqrt(GREATEST((ss - n * (s / n) * (s / n)) / (n - 1), 0.0)) AS std,
    (revenue - s / n) AS dev
  FROM win
)
SELECT c_mktsegment, day, revenue,
  CAST(FLOOR(dev / std * 10000) AS BIGINT) AS z_e4,
  (ABS(dev / std) >= 2.0) AS is_anomaly
FROM scored
WHERE n = 7 AND std > 0
"""


def _q_basket_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket affinity — top part pairs co-occurring in orders,
    with lift. Baskets come from ONE groupBy (collect_set, bounded by
    lines-per-order); in-basket pair expansion reuses the LSH bucket
    trick — no self-join, so the fact table is scanned once. Lift's
    denominator terms join back via two broadcast-size aggregates; the
    order total is a cross-joined scalar in the same lazy plan. Top-50 by
    (support desc, ids) via TakeOrderedAndProject."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # ONE corpus-sized exchange (r18): collect_set dedups (order, part)
    # within each order, so the former distinct() pre-pass was a redundant
    # second corpus shuffle — and the per-order item sets, the per-part
    # order counts AND the order total are all functions of this single
    # aggregate. Checkpointed because three consumers (pair expansion +
    # two broadcast denominators) otherwise re-ran the whole subtree per
    # broadcast job: the before-plan scanned lineitem 4× with 4 corpus
    # exchanges (plans/r18/basket_pairs_before.txt).
    bs = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("_items"))
        .transform(_checkpoint, eager=False)
    )
    baskets = bs.filter(F.size("_items") >= 2)
    pair_structs = F.flatten(
        F.transform(
            F.col("_items"),
            lambda a: F.transform(
                F.filter(F.col("_items"), lambda b: b > a),
                lambda b: F.struct(a.alias("part_a"), b.alias("part_b")),
            ),
        )
    )
    pair_counts = (
        baskets.select(F.explode(pair_structs).alias("_p"))
        .groupBy(F.col("_p.part_a").alias("part_a"), F.col("_p.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    # per-part order count ≡ the former count over distinct (order, part)
    # pairs: _items is a set, so one explode of the materialized baskets
    # replaces a second corpus aggregation
    part_orders = (
        bs.select(F.explode("_items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # distinct-order total ≡ the group count: one row of bs per order
    n_orders = bs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (
        pair_counts.join(
            F.broadcast(part_orders.withColumnRenamed("l_partkey", "part_a")
                        .withColumnRenamed("cnt", "cnt_a")), on="part_a")
        .join(
            F.broadcast(part_orders.withColumnRenamed("l_partkey", "part_b")
                        .withColumnRenamed("cnt", "cnt_b")), on="part_b")
        .crossJoin(n_orders)
        .select(
            "part_a", "part_b", "support",
            F.floor(
                F.col("support").cast("double") * F.col("_n")
                / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double"))
                * 10000
            ).cast("long").alias("lift_e4"),
        )
    )
    order = [F.desc("support"), F.asc("part_a"), F.asc("part_b")]
    top = scored.orderBy(*order).limit(50)
    return top.withColumn("brank", F.row_number().over(Window.orderBy(*order)))


_O_BASKET_PAIRS = """
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
), pc AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM d GROUP BY l_partkey
), tot AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM d
)
SELECT part_a, part_b, support,
  CAST(FLOOR(CAST(support AS DOUBLE) * tot.n
       / (CAST(pa.cnt AS DOUBLE) * CAST(pb.cnt AS DOUBLE)) * 10000) AS BIGINT)
    AS lift_e4,
  CAST(ROW_NUMBER() OVER (ORDER BY support DESC, part_a ASC, part_b ASC) AS INT)
    AS brank
FROM pairs
JOIN pc pa ON part_a = pa.l_partkey
JOIN pc pb ON part_b = pb.l_partkey
CROSS JOIN tot
QUALIFY brank <= 50
"""


def _q_corpus_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — the end-to-end ingestion pipeline in batch form: scan-side
    enrichment (language ID, quality, fingerprint), quality gate, then
    exact-dedup keeping the min doc_id per fingerprint (the deterministic
    survivor rule, digest-only shuffle). The same composition runs as a
    stream in streaming/corpus_stream.py; this query is its oracle-checked
    batch twin."""
    from commerce_data_pipeline_spark.streaming import corpus_stream as CS

    docs = load_table(spark, sf, "documents")
    gated = CS.quality_gate(
        CS.enrich_documents(docs), min_quality_e4=5000, min_tokens=5
    ).select("doc_id", "lang_pred", "quality_e4", "n_tokens", "fp")
    keep = gated.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return gated.join(keep, on=["fp", "doc_id"], how="left_semi")


_O_CORPUS_INGEST = f"""
WITH t AS (
  SELECT doc_id, text, {_WS_SPLIT_SQL} AS ws FROM documents
), m AS (
  SELECT doc_id, text, ws,
    len(ws) AS n_tokens,
    CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
      / GREATEST(len(ws), 1) AS wl,
    CAST(len(list_filter(ws, w -> list_contains(
      ['the','a','an','and','or','of','to','in','is','it'], w))) AS DOUBLE)
      / GREATEST(len(ws), 1) AS sw,
    CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
      / GREATEST(length(text), 1) AS pr,
    len(list_filter(ws, w -> list_contains(['the','and','of','to','a'], w))) AS s_en,
    len(list_filter(ws, w -> list_contains(['der','die','das','und','ist'], w))) AS s_de,
    len(list_filter(ws, w -> list_contains(['el','la','de','que','y'], w))) AS s_es,
    len(list_filter(ws, w -> list_contains(['le','la','et','les','des'], w))) AS s_fr
  FROM t
), e AS (
  SELECT doc_id,
    CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         WHEN s_fr = GREATEST(s_en, s_de, s_es, s_fr) THEN 'fr'
         WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
         WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
         ELSE 'de' END AS lang_pred,
    CAST(FLOOR((0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              + 0.2 * (CASE WHEN wl >= 3.0 AND wl <= 10.0 THEN 1.0 ELSE 0.5 END)
              + 0.2 * LEAST(sw * 5.0, 1.0)
              + 0.2 * (1.0 - LEAST(pr * 2.0, 1.0))) * 10000) AS BIGINT) AS quality_e4,
    CAST(n_tokens AS BIGINT) AS n_tokens,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM m
), gated AS (
  SELECT * FROM e WHERE quality_e4 >= 5000 AND n_tokens >= 5
)
SELECT fp, doc_id, lang_pred, quality_e4, n_tokens
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM gated
) WHERE rn = 1
"""


def _q_semantic_only_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — near-duplicates the LEXICAL pipeline cannot see: the top
    embedding pairs (cosine, globally ranked) anti-joined against the
    MinHash/LSH candidate pairs of the same documents (doc_id aligns with
    vec_id in the testdata). This is the semantic-dedup story at 100 TB:
    lexical LSH first (cheap, catches verbatim/near-verbatim), embedding
    pass second, and only its EXTRA pairs are new information. Both
    inputs reuse the existing operators unchanged; the anti-join shuffles
    id pairs only."""
    # both inputs arrive as single small parquet files (1 split each);
    # scatter before the CPU-bound stages — md5-per-shingle minhashing and
    # the GEMM scoring would otherwise run on one core each. Real inputs
    # bring their own splits.
    emb = _scatter(load_table(spark, sf, "embeddings"))
    docs = _scatter(load_table(spark, sf, "documents").select("doc_id", "text"))
    epairs = similarity.near_dup_pairs(emb, threshold=0.3, top_pairs=100)
    lpairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_n=3)
    sem = epairs.join(lpairs, on=["id_a", "id_b"], how="left_anti")
    order = [F.desc("cosine_sim"), F.asc("id_a"), F.asc("id_b")]
    top = sem.orderBy(*order).limit(50)
    return top.select(
        "id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim"),
        F.row_number().over(Window.orderBy(*order)).alias("srank"),
    )


_O_SEMANTIC_ONLY_DUPS = f"""
WITH {_ora_lsh_ctes(16, 4, 3)},
lex AS (
  SELECT id_a, id_b FROM pairs WHERE id_a < 1000000 AND id_b < 1000000
), unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), sims AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_dot_product(a.u, b.u) AS sim
  FROM unit a JOIN unit b ON a.vec_id < b.vec_id
), etop AS (
  SELECT id_a, id_b, sim FROM sims WHERE sim >= 0.3
  QUALIFY ROW_NUMBER() OVER (ORDER BY sim DESC, id_a, id_b) <= 100
), sem AS (
  SELECT s.id_a, s.id_b, s.sim
  FROM etop s LEFT JOIN lex l ON s.id_a = l.id_a AND s.id_b = l.id_b
  WHERE l.id_a IS NULL
)
SELECT id_a, id_b, ROUND(sim, 4) AS cosine_sim,
  CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, id_a, id_b) AS INT) AS srank
FROM sem QUALIFY srank <= 50
"""


def _q_image_phash(spark: SparkSession, sf: str) -> DataFrame:
    """X5×X2 — perceptual hashes of the image subset of the synthetic
    media table, via the FUSED decode→pHash stage: one mapInPandas from
    payload to 8-byte hash, no pixel array crossing an Arrow boundary.
    Values derive from the stub decoder's md5-seeded pixels → no SQL
    oracle; rows-only check; fused/two-stage hash equality pinned in
    test_multimodal."""
    docs = load_table(spark, sf, "documents")
    media = multimodal.synthesize_media(docs)
    return multimodal.decode_and_phash(media)


def _q_image_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """X5×X2 — image near-dup pairs via pHash hamming buckets on a
    doubled corpus (copy offset ≡ 0 mod 144 keeps media_type and
    dimensions identical, so each image's copy is an exact perceptual
    dup at hamming 0). The base corpus is decoded+hashed ONCE (fused
    stage, checkpointed); the copies' hashes are derived by construction
    — same payload, same dims → same pHash — so the doubled corpus costs
    an id-shift, not a second decode pass. Bucketed candidates (exact
    pigeonhole: 5 blocks > max_hamming=4) + bit_count verify — the
    LSH/banding shape applied to images; rows-only check."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    media = multimodal.synthesize_media(docs)
    base = multimodal.decode_and_phash(media).transform(_checkpoint, eager=False)
    copies = base.withColumn("media_id", F.col("media_id") + F.lit(1_000_080))
    return multimodal.phash_pairs(base.unionAll(copies), max_hamming=4)


def _q_image_phash_md5(spark: SparkSession, sf: str) -> DataFrame:
    """X5×X2 — ORACLE-CHECKED pHash twin: fused decode→binarized-DCT
    integer hash (multimodal.decode_and_phash_int). Every intermediate is
    an int64 — md5-seeded stub pixels, ±1 cosine-sign basis, integer
    median threshold — so DuckDB reproduces the 63-bit hash exactly
    (same md5-derived-constants technique as ann_lsh_md5/simhash_md5).
    The float-DCT production path (image_phash) stays rows-only; fused
    equality with its two-stage form is pinned in test_multimodal."""
    docs = load_table(spark, sf, "documents")
    media = multimodal.synthesize_media(docs)
    return multimodal.decode_and_phash_int(media)


# The oracle recomputes the full chain: md5(text) → 16 seed bytes → 32×32
# downscaled integer pixels → factored binarized-DCT (t = B[:8]·P, then
# d = t·B[:8]ᵀ) → median threshold → 63-bit pack. All-integer, so every
# engine lands on identical bits; the basis sign is safe because |cos| ≥
# sin(π/64) ≈ 0.049 at every (k, n) — see _binarized_dct_basis.
_O_IMAGE_PHASH_MD5_BODY = """
WITH imgs AS (
  SELECT doc_id AS media_id,
         md5(COALESCE(text, '')) AS hx,
         CAST(64 + (doc_id % 16) * 8 AS BIGINT) AS w,
         CAST(64 + (doc_id % 9) * 8 AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 = 0
), seeds AS (
  SELECT media_id,
         CAST(j AS BIGINT) AS j,
         CAST(strpos('0123456789abcdef', substr(hx, 2*j + 1, 1)) * 16
              + strpos('0123456789abcdef', substr(hx, 2*j + 2, 1)) - 17 AS BIGINT) AS sv
  FROM imgs, LATERAL unnest(generate_series(0, 15)) AS tj(j)
), cells AS (
  SELECT media_id, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
         ((a * h) // 32) * w + ((b * w) // 32) AS idx
  FROM imgs,
       LATERAL unnest(generate_series(0, 31)) AS ta(a),
       LATERAL unnest(generate_series(0, 31)) AS tb(b)
), px AS (
  SELECT c.media_id, c.a, c.b,
         (s.sv * 2654435761 + c.idx * 97) % 256 AS v
  FROM cells c JOIN seeds s ON s.media_id = c.media_id AND s.j = c.idx % 16
), tstage AS (
  SELECT p.media_id, CAST(k1 AS BIGINT) AS k1, p.b,
         SUM(CASE WHEN cos(pi() * (p.a + 0.5) * k1 / 32.0) >= 0
             THEN p.v ELSE -p.v END) AS tv
  FROM px p, LATERAL unnest(generate_series(0, 7)) AS tk(k1)
  GROUP BY p.media_id, k1, p.b
), dstage AS (
  SELECT t.media_id, t.k1, CAST(k2 AS BIGINT) AS k2,
         SUM(CASE WHEN cos(pi() * (t.b + 0.5) * k2 / 32.0) >= 0
             THEN t.tv ELSE -t.tv END) AS dv
  FROM tstage t, LATERAL unnest(generate_series(0, 7)) AS tk2(k2)
  GROUP BY t.media_id, t.k1, k2
), bits AS (
  SELECT media_id, k1 * 8 + k2 - 1 AS bit_pos, dv
  FROM dstage WHERE NOT (k1 = 0 AND k2 = 0)
), meds AS (
  SELECT media_id, median(dv) AS med FROM bits GROUP BY media_id
)
SELECT b.media_id,
       CAST(SUM(CASE WHEN b.dv > m.med
            THEN (CAST(1 AS BIGINT) << CAST(b.bit_pos AS INT)) ELSE 0 END) AS BIGINT) AS phash
FROM bits b JOIN meds m USING (media_id)
GROUP BY b.media_id
"""

_O_IMAGE_PHASH_MD5 = _O_IMAGE_PHASH_MD5_BODY


def _q_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus — deterministic epoch-wise global shuffle (training-data
    ordering): md5(epoch:id) keys, hash-bucketed total order realized as
    one shuffle + per-bucket windows (no single-task global sort; see
    corpus.epoch_shuffle). Epoch 3 of the documents corpus."""
    docs = load_table(spark, sf, "documents").select("doc_id")
    return corpus.epoch_shuffle(docs, epoch=3, n_buckets=16)


_O_EPOCH_SHUFFLE = """
WITH keyed AS (
  SELECT doc_id,
    md5(concat('3', ':', CAST(doc_id AS VARCHAR))) AS skey
  FROM documents
), bucketed AS (
  -- first 32 key bits mod n_buckets, matching corpus.epoch_shuffle's
  -- conv(substr(key,1,8),16,10) % 16
  SELECT doc_id, skey,
    CAST(CAST(('0x' || substr(skey, 1, 8)) AS BIGINT) % 16 AS INT) AS bucket
  FROM keyed
)
SELECT doc_id, bucket,
  CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY skey, doc_id) AS BIGINT)
    AS pos_in_bucket
FROM bucketed
"""


def _q_media_features_md5(spark: SparkSession, sf: str) -> DataFrame:
    """X5 — ORACLE-CHECKED twin of the feature-extraction stage: the same
    `multimodal.extract_features` mapInPandas path (md5-digest-chain stub
    model), with the float features mapped back to their exact underlying
    digest BYTES (v = float32(b/255 − 0.5) recovers b exactly via
    floor((v+0.5)·255 + 0.5) — float32 has 2^-25 slack on values this
    small). At dim=16 the chain is a single md5 of payload[:64], so DuckDB
    replays the whole computation with integer outputs (byte sum + the
    first/last byte), pinning the Arrow-stage plumbing end-to-end where
    `media_features` itself is rows-only."""
    docs = load_table(spark, sf, "documents")
    media = multimodal.synthesize_media(docs)
    feats = multimodal.extract_features(media, dim=16)
    bytes_ = F.transform(
        F.col("embedding"),
        lambda v: F.floor((v.cast("double") + F.lit(0.5)) * 255 + F.lit(0.5)).cast("long"),
    )
    return feats.select(
        "media_id",
        "media_type",
        F.aggregate(bytes_, F.lit(0).cast("long"), lambda s, x: s + x).alias("byte_sum"),
        F.element_at(bytes_, 1).alias("b_first"),
        F.element_at(bytes_, 16).alias("b_last"),
    )


# DuckDB md5() only takes VARCHAR (hashing its UTF-8 bytes) and BLOBs
# can't be sliced, so the [:64]-byte truncation is done as a CHARACTER
# substr — byte-identical because the corpus is pure ASCII (asserted:
# octet_length(encode(text)) = length(text) for every row at every sf).
_O_MEDIA_FEATURES_MD5 = """
WITH media AS (
  SELECT doc_id AS media_id,
    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         ELSE 'video' END AS media_type,
    COALESCE(text, '') AS t
  FROM documents
), hx AS (
  SELECT media_id, media_type,
    md5(CASE WHEN length(t) = 0 THEN chr(0) ELSE substr(t, 1, 64) END) AS h
  FROM media
), bytes AS (
  SELECT media_id, media_type, j,
    CAST(16 * strpos('0123456789abcdef', substr(h, 2*j + 1, 1))
         + strpos('0123456789abcdef', substr(h, 2*j + 2, 1)) - 17 AS BIGINT) AS b
  FROM hx, LATERAL unnest(generate_series(0, 15)) AS tj(j)
)
SELECT media_id, media_type,
  CAST(SUM(b) AS BIGINT) AS byte_sum,
  CAST(SUM(CASE WHEN j = 0 THEN b END) AS BIGINT) AS b_first,
  CAST(SUM(CASE WHEN j = 15 THEN b END) AS BIGINT) AS b_last
FROM bytes GROUP BY media_id, media_type
"""


def _q_image_near_dup_md5(spark: SparkSession, sf: str) -> DataFrame:
    """X5×X2 — ORACLE-CHECKED image near-dup pairs: binarized-DCT integer
    hashes on the doubled corpus (copies at id+1,000,080 share payload and
    dims → guaranteed hamming-0 pairs), pigeonhole-blocked candidates
    (blocks=5 > max_hamming=4 → exact recall, 12/13-bit blocks so bucket
    count scales with the value space — max_hamming=8's 7-bit blocks cap
    at 128 buckets/block and OOM'd the 8× stress) + bit_count verify,
    under the default max_bucket=512 deterministic truncation. The SQL
    oracle replays the SAME blocking + ROW_NUMBER truncation + verify, so
    the value-hash check covers the entire bucketing/truncation/verify
    path the production pHash family uses — including which pairs are
    dropped when a bucket saturates."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    media = multimodal.synthesize_media(docs)
    base = multimodal.decode_and_phash_int(media).transform(_checkpoint, eager=False)
    copies = base.withColumn("media_id", F.col("media_id") + F.lit(1_000_080))
    return multimodal.phash_pairs(base.unionAll(copies), max_hamming=4)


# The oracle replays the OPERATOR'S algorithm, not just its ideal result:
# pigeonhole blocking (5 blocks of widths 13,13,13,13,12 = _block_bounds(64,5)),
# the deterministic max_bucket=512 truncation (ROW_NUMBER over (blk, bval)
# ordered by media_id — phash_pairs' sort_array slice), candidate dedup, and
# the bit_count verify. When no bucket saturates this reduces to the exact
# all-pairs answer; when one does, both engines drop the SAME pairs, so the
# truncation contract itself is value-hash-checked.
_O_IMAGE_NEAR_DUP_MD5 = f"""
WITH hashes AS ({_O_IMAGE_PHASH_MD5_BODY}
), doubled AS (
  SELECT media_id, phash FROM hashes
  UNION ALL
  SELECT media_id + 1000080 AS media_id, phash FROM hashes
), bvals AS (
  SELECT media_id, phash, blk,
    CASE blk
      WHEN 0 THEN (phash >> 0)  & 8191
      WHEN 1 THEN (phash >> 13) & 8191
      WHEN 2 THEN (phash >> 26) & 8191
      WHEN 3 THEN (phash >> 39) & 8191
      ELSE        (phash >> 52) & 4095
    END AS bval
  FROM doubled, (SELECT unnest(generate_series(0, 4)) AS blk)
), kept AS (
  SELECT media_id, phash, blk, bval FROM (
    SELECT media_id, phash, blk, bval,
      ROW_NUMBER() OVER (PARTITION BY blk, bval ORDER BY media_id, phash) AS rn
    FROM bvals
  ) WHERE rn <= 512
), cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
                  a.phash AS ha, b.phash AS hb
  FROM kept a JOIN kept b
    ON a.blk = b.blk AND a.bval = b.bval AND b.media_id > a.media_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 4
"""


def _q_image_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """X5×X2 — image near-dup CLUSTERS: the pHash hamming pairs (same
    blocked/truncated/verified chain as `image_near_dup_md5`) contracted
    to components by the alternating-star connected-components operator —
    what an image-dedup pipeline actually keys its keep/drop decisions
    on. Oracle = recursive-CTE transitive closure over the identically
    replayed pair stage."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    media = multimodal.synthesize_media(docs)
    base = multimodal.decode_and_phash_int(media).transform(_checkpoint, eager=False)
    copies = base.withColumn("media_id", F.col("media_id") + F.lit(1_000_080))
    pairs = multimodal.phash_pairs(base.unionAll(copies), max_hamming=4)
    comp = dedup.connected_components_alternating(
        pairs.select("id_a", "id_b")
    )
    return comp.select(F.col("id").alias("media_id"), "component")


_O_IMAGE_DUP_CLUSTERS = f"""
WITH RECURSIVE hashes AS ({_O_IMAGE_PHASH_MD5_BODY}
), doubled AS (
  SELECT media_id, phash FROM hashes
  UNION ALL
  SELECT media_id + 1000080 AS media_id, phash FROM hashes
), bvals AS (
  SELECT media_id, phash, blk,
    CASE blk
      WHEN 0 THEN (phash >> 0)  & 8191
      WHEN 1 THEN (phash >> 13) & 8191
      WHEN 2 THEN (phash >> 26) & 8191
      WHEN 3 THEN (phash >> 39) & 8191
      ELSE        (phash >> 52) & 4095
    END AS bval
  FROM doubled, (SELECT unnest(generate_series(0, 4)) AS blk)
), kept AS (
  SELECT media_id, phash, blk, bval FROM (
    SELECT media_id, phash, blk, bval,
      ROW_NUMBER() OVER (PARTITION BY blk, bval ORDER BY media_id, phash) AS rn
    FROM bvals
  ) WHERE rn <= 512
), cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
                  a.phash AS ha, b.phash AS hb
  FROM kept a JOIN kept b
    ON a.blk = b.blk AND a.bval = b.bval AND b.media_id > a.media_id
), vpairs AS (
  SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= 4
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM vpairs
), gnodes AS (
  SELECT DISTINCT src AS id FROM edges
), reach(id, r) AS (
  SELECT id, id FROM gnodes
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS media_id, MIN(r) AS component FROM reach GROUP BY id
"""


def _q_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """X4/corpus — C4/Gopher-style repetition quality signals: within-doc
    3-gram repetition ratio (scan-side HOFs) and most-frequent-token
    fraction (one doc-keyed shuffle)."""
    docs = load_table(spark, sf, "documents")
    return text.repetition_profile(docs)


def _q_lm_quality(spark: SparkSession, sf: str) -> DataFrame:
    """X4/corpus — corpus-LM quality scoring (perplexity proxy): per-doc
    mean unigram probability + OOV rate against the corpus's own top-1000
    vocabulary. Two-pass: word-keyed count shuffle, then a broadcast
    vocab join and one doc-keyed integer aggregation — all-integer
    arithmetic until two final exact divisions, so the SQL oracle lands on
    identical values."""
    docs = load_table(spark, sf, "documents")
    return text.unigram_typicality(docs, vocab_size=1000)


_O_LM_QUALITY = f"""
WITH tok AS (
  SELECT doc_id, unnest({_WS_SPLIT_SQL}) AS w FROM documents
), freq AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
), total AS (
  SELECT SUM(c) AS t FROM freq
), vocab AS (
  SELECT w, c FROM freq ORDER BY c DESC, w ASC LIMIT 1000
), scored AS (
  SELECT tok.doc_id,
    COUNT(*) AS n_words,
    SUM(COALESCE(v.c, 0)) AS sum_c,
    SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tok LEFT JOIN vocab v ON tok.w = v.w
  GROUP BY tok.doc_id
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  CAST(n_oov AS BIGINT) AS n_oov,
  CAST((n_oov * 1000000) // n_words AS BIGINT) AS oov_e6,
  CAST(FLOOR(CAST(sum_c AS DOUBLE) * 1000000000
       / (CAST(n_words AS DOUBLE) * CAST(t AS DOUBLE))) AS BIGINT) AS typicality_e9
FROM scored, total
"""


_O_TEXT_REPETITION = f"""
WITH t AS (
  SELECT doc_id, {_WS_SPLIT_SQL} AS ws FROM documents
), g AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(GREATEST(len(ws) - 2, 0) AS BIGINT) AS n_grams_total,
    CAST(CASE WHEN len(ws) >= 3
      THEN len(list_distinct(list_transform(generate_series(1, len(ws) - 2),
             i -> array_to_string(ws[i:i+2], ' '))))
      ELSE 0 END AS BIGINT) AS n_grams_distinct
  FROM t
), wc AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(ws) AS word FROM t)
  GROUP BY doc_id, word
), topw AS (
  SELECT doc_id, MAX(c) AS max_c FROM wc GROUP BY doc_id
)
SELECT g.doc_id, g.n_words, g.n_grams_total, g.n_grams_distinct,
  CAST(FLOOR(CASE WHEN g.n_grams_total > 0
    THEN 1.0 - CAST(g.n_grams_distinct AS DOUBLE) / g.n_grams_total
    ELSE 0.0 END * 1000000) AS BIGINT) AS rep_ratio_e6,
  CAST(FLOOR(CAST(COALESCE(topw.max_c, 0) AS DOUBLE)
    / GREATEST(g.n_words, 1) * 1000000) AS BIGINT) AS top_word_e6
FROM g LEFT JOIN topw USING (doc_id)
"""


def _q_approx_group_stats(spark: SparkSession, sf: str) -> DataFrame:
    """X6 — per-group sketch aggregates (HLL++ distinct docs + quantile
    sketch of document length per language): fixed-size mergeable state
    per group — the 100 TB profile report. Promoted (r6, VERDICT r5 #5)
    from rows-only to the `sketch_accuracy` contract: exact per-group
    values + in-tolerance booleans (HLL ±(5% + 2 abs slack for the
    ~70-doc language groups); quantile estimates inside the p±0.05
    exact discrete bounds — groups here are ≥64 docs so the bound is
    ≥3 rank positions wide, far above the sketch's ≤1-rank error).
    Accuracy against exact values also pinned in tests/test_sketches.py."""
    docs = load_table(spark, sf, "documents")
    q = F.percentile_approx("n_chars", [0.5, 0.9], 10000)

    def disc(p: float) -> F.Column:
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY n_chars)")

    agg = docs.groupBy("lang").agg(
        F.countDistinct("text").alias("exact_distinct_docs"),
        F.approx_count_distinct("text", rsd=0.01).alias("_est_docs"),
        F.element_at(q, 1).alias("_q50"),
        F.element_at(q, 2).alias("_q90"),
        disc(0.45).alias("_b45"), disc(0.55).alias("_b55"),
        disc(0.85).alias("_b85"), disc(0.95).alias("_b95"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "exact_distinct_docs",
        (
            F.abs(F.col("_est_docs") - F.col("exact_distinct_docs"))
            <= F.col("exact_distinct_docs") * F.lit(0.05) + F.lit(2.0)
        ).alias("hll_ok"),
        ((F.col("_q50") >= F.col("_b45")) & (F.col("_q50") <= F.col("_b55"))).alias("q50_ok"),
        ((F.col("_q90") >= F.col("_b85")) & (F.col("_q90") <= F.col("_b95"))).alias("q90_ok"),
    )


_O_APPROX_GROUP_STATS = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct_docs,
  TRUE AS hll_ok, TRUE AS q50_ok, TRUE AS q90_ok
FROM documents GROUP BY lang
"""
