"""Selection gates & record linkage: AUC (exact/banded), calibration/ECE, DSIR/MMR, blocked+SNM linkage, multi-pass union, best-match.

Mechanical split of queries.py (r10, VERDICT r9 directive #4); statement
text is unchanged — see the package __init__ docstring for the determinism
contract every query follows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.operators import (
    bloom,
    corpus,
    dedup,
    graph,
    linkage,
    profiling,
    selection,
    similarity,
    text,
)
from commerce_data_pipeline_spark.queries._shared import _cache_dir
from commerce_data_pipeline_spark.queries.dedup_text import _PAIRS_SQL_MW, _ensure_lsh_pairs, _ora_lsh_ctes
from commerce_data_pipeline_spark.queries.corpus import _WS_SPLIT_SQL
from commerce_data_pipeline_spark.queries._shared import (
    _ensure_bpe_merges,
    _ensure_bpe_vocab,
    _ensure_copurchase_pairs,
)
from commerce_data_pipeline_spark.queries.profiling_ml import _bpe_ms_sql
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint
from commerce_data_pipeline_spark.scatter import scatter as _scatter



def _q_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    """X3 spectral — matrix-free PCA power method, 3 iterations over the
    embeddings' second-moment operator (operators/similarity.
    pca_power_iteration): per round one scan-side integer dot, ONE
    dim-keyed aggregation, a 64-entry collect — the covariance matrix is
    never materialized. Fixed-point trajectory (e3 vectors, e6 direction,
    explicit FLOOR rescales) so the oracle replays all three rounds as
    unrolled CTE levels, like pagerank/kmeans/bpe before it. The
    single-file embeddings scan is ONE split, so scatter before the
    checkpointed fixed-point frame (the simhash/winnow precedent) — the
    per-round interpreted dot fold then runs on every core (r17 A/B
    warm: 3.4-4.1 s → 2.3-2.8 s; integer sums are order-free, output
    bit-identical). The scatter is GUARDED (r17 VERDICT #3): it only
    fires when the scan has fewer splits than cores — a multi-split
    production table skips the extra full exchange (which could even
    REDUCE parallelism when splits > defaultParallelism)."""
    emb = _scatter(load_table(spark, sf, "embeddings"))
    return similarity.pca_power_iteration(emb, rounds=3).orderBy("dim")


def _ora_pca_power(rounds: int = 3) -> str:
    ctes = [
        """xe AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS xi
  FROM embeddings
)""",
        """ex AS (
  SELECT vec_id, CAST(generate_subscripts(xi, 1) - 1 AS INT) AS dim, UNNEST(xi) AS x
  FROM xe
)""",
        "v1 AS (SELECT DISTINCT dim, CAST(1000000 AS BIGINT) AS val FROM ex)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""s{r} AS (
  SELECT e.vec_id,
    CAST(FLOOR(CAST(SUM(e.x * v.val) AS DOUBLE) / 1000000.0) AS BIGINT) AS s
  FROM ex e JOIN v{r} v USING (dim) GROUP BY e.vec_id
)"""
        )
        ctes.append(
            f"""u{r} AS (
  SELECT e.dim, CAST(SUM(s.s * e.x) AS BIGINT) AS u
  FROM ex e JOIN s{r} s USING (vec_id) GROUP BY e.dim
)"""
        )
        ctes.append(
            f"m{r} AS (SELECT GREATEST(MAX(ABS(u)), 1) AS m FROM u{r})"
        )
        ctes.append(
            f"""v{r + 1} AS (
  SELECT dim, CAST(FLOOR((CAST(u AS DOUBLE) / m) * 1000000.0) AS BIGINT) AS val
  FROM u{r}, m{r}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT dim, val AS v_e6 FROM v{rounds + 1} ORDER BY dim"
    )


def _q_degree_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """X12/X13 — log2-bucketed degree distribution of the full co-purchase
    graph (operators/graph.degree_histogram), from the shared persisted
    pair frame: the pre-flight skew audit for every wedge/join-shaped
    graph op. Buckets via the integer MSB position (floating log2 is not
    floor-exact); one node-keyed count + a ~30-group aggregation."""
    pairs = _ensure_copurchase_pairs(spark, sf)
    return graph.degree_histogram(pairs).orderBy("deg_bucket")


_O_DEGREE_HISTOGRAM = f"""
WITH {_PAIRS_SQL_MW.format(mw=1)},
deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
)
SELECT CAST(LENGTH(BIN(d)) - 1 AS INT) AS deg_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_nodes,
  CAST(MIN(d) AS BIGINT) AS min_deg,
  CAST(MAX(d) AS BIGINT) AS max_deg,
  CAST(SUM(d) AS BIGINT) AS sum_deg
FROM deg GROUP BY deg_bucket ORDER BY deg_bucket
"""


def _q_lsh_cost_plan(spark: SparkSession, sf: str) -> DataFrame:
    """X2 planning — LSH pair-expansion cost audit over the doubled corpus
    (operators/dedup.lsh_bucket_stats, same 16×4 band construction as the
    persisted pair stage): per band the bucket profile and the exact
    candidate-pair volume Σ c·(c-1)/2 the expansion would emit. The
    decide-before-you-shuffle step of a 100 TB dedup; summed across bands
    it upper-bounds the distinct pair count lsh_dedup_pairs produces."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    doubled = docs.unionAll(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    return dedup.lsh_bucket_stats(doubled).orderBy("band")


def _ora_lsh_cost_plan(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    return f"""WITH {_ora_lsh_ctes(num_hashes, bands, n)},
buckets AS (
  SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM band_rows GROUP BY band, bkey
)
SELECT band,
  CAST(COUNT(*) AS BIGINT) AS n_buckets,
  CAST(SUM(c) AS BIGINT) AS n_rows,
  CAST(MAX(c) AS BIGINT) AS max_bucket,
  CAST(COUNT(CASE WHEN c >= 2 THEN 1 END) AS BIGINT) AS n_collision_buckets,
  CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS candidate_pairs
FROM buckets GROUP BY band ORDER BY band
"""


def _q_bpe_compression(spark: SparkSession, sf: str) -> DataFrame:
    """X4 tokenizer evaluation — corpus compression per learned BPE merge
    (operators/text.bpe_compression): total symbol count after 0..3
    merges plus the saving vs the character baseline, the release metric
    (tokens per corpus = cost per epoch) of a tokenizer build. Shares
    bpe_train's loop; one extra vocabulary-sized aggregation per stage."""
    docs = load_table(spark, sf, "documents")
    merges, _cb = _ensure_bpe_merges(spark, sf, rounds=3)
    return text.bpe_compression(
        docs, rounds=3, vocab=_ensure_bpe_vocab(spark, sf), merges=merges
    ).orderBy("stage")


def _ora_bpe_compression(rounds: int = 3) -> str:
    ctes = [
        """w0 AS (
  SELECT string_split(w, '') AS syms, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents) WHERE length(w) >= 1 GROUP BY w
)"""
    ]
    for rnd in range(1, rounds + 1):
        prev = f"w{rnd - 1}"
        ctes.append(
            f"""t{rnd} AS (
  SELECT l, r FROM (
    SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
      SELECT cnt, syms[i] AS l, syms[i + 1] AS r
      FROM {prev}, LATERAL unnest(generate_series(1, len(syms) - 1)) AS u(i)
      WHERE len(syms) >= 2)
    GROUP BY l, r ORDER BY c DESC, l ASC, r ASC LIMIT 1)
)"""
        )
        ctes.append(
            f"""w{rnd} AS (
  SELECT flatten(list_transform(generate_series(1, len(syms)), i -> CASE
    WHEN {_bpe_ms_sql('i')} THEN [t.l || t.r]
    WHEN i >= 2 AND {_bpe_ms_sql('i - 1')} THEN []
    ELSE [syms[i]] END)) AS syms, cnt
  FROM {prev} CROSS JOIN t{rnd} t
)"""
        )
    totals = "\n  UNION ALL\n".join(
        f"  SELECT {r} AS stage, CAST(SUM(cnt * len(syms)) AS BIGINT) AS total_syms FROM w{r}"
        for r in range(0, rounds + 1)
    )
    ctes.append(f"tot AS (\n{totals}\n)")
    ctes.append("base AS (SELECT total_syms AS b FROM tot WHERE stage = 0)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT CAST(stage AS INT) AS stage, total_syms,"
        + " CAST(base.b - total_syms AS BIGINT) AS saved_vs_chars"
        + " FROM tot, base ORDER BY stage"
    )


def _q_bpe_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """X4 tokenizer last mile — the per-document token-id emission under
    the 3-merge learned table (operators/text.bpe_tokenize): train merges
    (bpe_train's attested loop), assign ids by final-symbol corpus
    frequency (count desc, sym asc — unique total order), then ONE
    map-only projection chain tokenizes every document (no shuffle in the
    emit path; merge rounds staged behind projection barriers). Output is
    (doc_id, n_tokens, token_ids) with token_ids a '-'-joined id string —
    exact, order-preserving, hash-comparable. The oracle replays training,
    the positional even-offset merge rule per document word, the id
    assignment, and the ordered reassembly."""
    docs = load_table(spark, sf, "documents")
    merges, codebook = _ensure_bpe_merges(spark, sf, rounds=3)
    return text.bpe_tokenize(docs, rounds=3, merges=merges, codebook=codebook)


def _ora_bpe_tokenize(rounds: int = 3) -> str:
    """Training CTEs (w0..w{r}, t1..t{r} — the _ora_bpe_compression
    levels) + per-doc-word replay d0..d{r} with the same positional rule,
    then frequency-ranked ids and string_agg ordered by (word_pos,
    sym_pos)."""
    ctes = [
        """w0 AS (
  SELECT string_split(w, '') AS syms, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents) WHERE length(w) >= 1 GROUP BY w
)"""
    ]
    for rnd in range(1, rounds + 1):
        prev = f"w{rnd - 1}"
        ctes.append(
            f"""t{rnd} AS (
  SELECT l, r FROM (
    SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
      SELECT cnt, syms[i] AS l, syms[i + 1] AS r
      FROM {prev}, LATERAL unnest(generate_series(1, len(syms) - 1)) AS u(i)
      WHERE len(syms) >= 2)
    GROUP BY l, r ORDER BY c DESC, l ASC, r ASC LIMIT 1)
)"""
        )
        ctes.append(
            f"""w{rnd} AS (
  SELECT flatten(list_transform(generate_series(1, len(syms)), i -> CASE
    WHEN {_bpe_ms_sql('i')} THEN [t.l || t.r]
    WHEN i >= 2 AND {_bpe_ms_sql('i - 1')} THEN []
    ELSE [syms[i]] END)) AS syms, cnt
  FROM {prev} CROSS JOIN t{rnd} t
)"""
        )
    ctes.append(
        f"""cb AS (
  SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, sym ASC) AS INT) AS id
  FROM (SELECT sym, CAST(SUM(cnt) AS BIGINT) AS n
        FROM (SELECT unnest(syms) AS sym, cnt FROM w{rounds}) GROUP BY sym)
)"""
    )
    ctes.append(
        """dw AS (
  SELECT doc_id, i AS word_pos, string_split(ws[i], '') AS syms FROM (
    SELECT doc_id,
      list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                  w -> length(w) >= 1) AS ws
    FROM documents),
  LATERAL unnest(generate_series(1, len(ws))) AS u(i)
)"""
    )
    prev = "dw"
    for rnd in range(1, rounds + 1):
        ctes.append(
            f"""d{rnd} AS (
  SELECT doc_id, word_pos,
    flatten(list_transform(generate_series(1, len(syms)), i -> CASE
      WHEN {_bpe_ms_sql('i')} THEN [t.l || t.r]
      WHEN i >= 2 AND {_bpe_ms_sql('i - 1')} THEN []
      ELSE [syms[i]] END)) AS syms
  FROM {prev} CROSS JOIN t{rnd} t
)"""
        )
        prev = f"d{rnd}"
    ctes.append(
        f"""toks AS (
  SELECT doc_id, word_pos, j AS sym_pos, syms[j] AS sym
  FROM {prev}, LATERAL unnest(generate_series(1, len(syms))) AS u(j)
)"""
    )
    ctes.append(
        """per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
    string_agg(CAST(cb.id AS VARCHAR), '-' ORDER BY word_pos, sym_pos) AS token_ids
  FROM toks JOIN cb USING (sym) GROUP BY doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT d.doc_id, CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,"
        + " COALESCE(p.token_ids, '') AS token_ids"
        + " FROM documents d LEFT JOIN per_doc p USING (doc_id)"
    )


def _q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """X4 tokenizer quality — per-source fertility (tokens per word) and
    chars-per-token under the learned 3-merge table
    (operators/text.tokenizer_fertility): the slice-level report a
    vocabulary build is judged on — an outlier source fragments into
    many tokens and is under-served by the vocab. Same training loop and
    map-only staged merge chain as bpe_tokenize (no id codebook), one
    ≤ n_sources-key agg; ratios are exact integer floor divisions. The
    oracle replays training, the positional merge rule per word, and the
    per-source integer arithmetic."""
    docs = load_table(spark, sf, "documents")
    merges, _cb = _ensure_bpe_merges(spark, sf, rounds=3)
    return text.tokenizer_fertility(docs, group_col="source", rounds=3, merges=merges)


def _ora_tokenizer_fertility(rounds: int = 3) -> str:
    """Training CTEs (t1..t{r}) + per-doc-word merge replay carrying
    (source, n_chars), then one source-keyed rollup over a distinct-source
    spine (sources whose docs have no words report 0s / NULL ratios)."""
    ctes = [
        """w0 AS (
  SELECT string_split(w, '') AS syms, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents) WHERE length(w) >= 1 GROUP BY w
)"""
    ]
    for rnd in range(1, rounds + 1):
        prev = f"w{rnd - 1}"
        ctes.append(
            f"""t{rnd} AS (
  SELECT l, r FROM (
    SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
      SELECT cnt, syms[i] AS l, syms[i + 1] AS r
      FROM {prev}, LATERAL unnest(generate_series(1, len(syms) - 1)) AS u(i)
      WHERE len(syms) >= 2)
    GROUP BY l, r ORDER BY c DESC, l ASC, r ASC LIMIT 1)
)"""
        )
        if rnd < rounds:
            ctes.append(
                f"""w{rnd} AS (
  SELECT flatten(list_transform(generate_series(1, len(syms)), i -> CASE
    WHEN {_bpe_ms_sql('i')} THEN [t.l || t.r]
    WHEN i >= 2 AND {_bpe_ms_sql('i - 1')} THEN []
    ELSE [syms[i]] END)) AS syms, cnt
  FROM {prev} CROSS JOIN t{rnd} t
)"""
            )
    ctes.append(
        """f0 AS (
  SELECT source, string_split(ws[i], '') AS syms,
    CAST(length(ws[i]) AS BIGINT) AS n_chars
  FROM (
    SELECT source,
      list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                  w -> length(w) >= 1) AS ws
    FROM documents),
  LATERAL unnest(generate_series(1, len(ws))) AS u(i)
)"""
    )
    prev = "f0"
    for rnd in range(1, rounds + 1):
        ctes.append(
            f"""f{rnd} AS (
  SELECT source, n_chars,
    flatten(list_transform(generate_series(1, len(syms)), i -> CASE
      WHEN {_bpe_ms_sql('i')} THEN [t.l || t.r]
      WHEN i >= 2 AND {_bpe_ms_sql('i - 1')} THEN []
      ELSE [syms[i]] END)) AS syms
  FROM {prev} CROSS JOIN t{rnd} t
)"""
        )
        prev = f"f{rnd}"
    ctes.append(
        f"""per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_w,
    CAST(SUM(n_chars) AS BIGINT) AS n_c,
    CAST(SUM(len(syms)) AS BIGINT) AS n_t
  FROM {prev} GROUP BY source
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT s.source,
  CAST(COALESCE(p.n_w, 0) AS BIGINT) AS n_words,
  CAST(COALESCE(p.n_c, 0) AS BIGINT) AS n_chars,
  CAST(COALESCE(p.n_t, 0) AS BIGINT) AS n_tokens,
  CAST(CASE WHEN COALESCE(p.n_w, 0) > 0
    THEN (1000000 * p.n_t) // p.n_w END AS BIGINT) AS fertility_e6,
  CAST(CASE WHEN COALESCE(p.n_t, 0) > 0
    THEN (1000000 * p.n_c) // p.n_t END AS BIGINT) AS chars_per_token_e6
FROM (SELECT DISTINCT source FROM documents) s
LEFT JOIN per_src p ON p.source = s.source
"""
    )


def _q_containment_topk(spark: SparkSession, sf: str) -> DataFrame:
    """X2 — exact n-gram CONTAINMENT top-50 over the sampled corpus
    (operators/dedup.ngram_containment_pairs): the asymmetric near-dup
    view (|A∩B|/|A|) that catches a document quoted inside a larger one —
    tiny Jaccard, containment ≈ 1. Same sampled pair space and plan shape
    as jaccard_topk; ranking by (max containment desc, ids) is unique."""
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    docs = _scatter(docs)
    pairs = dedup.ngram_containment_pairs(docs, shingle_n=1, min_containment=0.5)
    order = [
        F.desc(F.greatest(F.col("cont_a_e6"), F.col("cont_b_e6"))),
        F.asc("id_a"),
        F.asc("id_b"),
    ]
    top = pairs.orderBy(*order).limit(50)
    return top.withColumn("crank", F.row_number().over(Window.orderBy(*order))).select(
        "id_a", "id_b", "inter", "n_a", "n_b", "cont_a_e6", "cont_b_e6", "crank"
    )


_O_CONTAINMENT_TOPK = """
WITH sample_docs AS (
  SELECT doc_id, list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS ws
  FROM documents WHERE doc_id % 5 = 0
), sh AS (
  SELECT doc_id, unnest(ws) AS shingle FROM sample_docs
), sizes AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_sh FROM sample_docs
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), c AS (
  SELECT id_a, id_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
    CAST(FLOOR((inter * 1000000) / sa.n_sh) AS BIGINT) AS cont_a_e6,
    CAST(FLOOR((inter * 1000000) / sb.n_sh) AS BIGINT) AS cont_b_e6
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, inter, n_a, n_b, cont_a_e6, cont_b_e6,
  CAST(ROW_NUMBER() OVER (ORDER BY GREATEST(cont_a_e6, cont_b_e6) DESC, id_a, id_b) AS INT) AS crank
FROM c WHERE cont_a_e6 >= 500000 OR cont_b_e6 >= 500000
QUALIFY crank <= 50
"""


def _q_lang_id_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """X4/X13 evaluation — Cohen's kappa between the marker-word
    language-ID prediction and the stored lang label
    (operators/profiling.label_agreement): the better-than-chance check
    for a weak labeler, run as one (actual, pred) count + marginal
    products summed through DECIMAL(18,12). The heuristic's quality
    becomes a pinned, falsifiable number instead of an assumption."""
    docs = load_table(spark, sf, "documents")
    pred = docs.select(
        F.col("lang").alias("actual"), text.language_id("text").alias("pred")
    )
    return profiling.label_agreement(pred, "actual", "pred")


_O_LANG_ID_AGREEMENT = """
WITH t AS (
  SELECT lang AS actual,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
), scored AS (
  SELECT actual,
    len(list_filter(ws, w -> list_contains(['the','and','of','to','a'], w))) AS s_en,
    len(list_filter(ws, w -> list_contains(['der','die','das','und','ist'], w))) AS s_de,
    len(list_filter(ws, w -> list_contains(['el','la','de','que','y'], w))) AS s_es,
    len(list_filter(ws, w -> list_contains(['le','la','et','les','des'], w))) AS s_fr
  FROM t
), pred AS (
  SELECT actual,
    CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         WHEN s_fr = GREATEST(s_en, s_de, s_es, s_fr) THEN 'fr'
         WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
         WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
         ELSE 'de' END AS pred
  FROM scored
), conf AS (
  SELECT actual AS a, pred AS p, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY actual, pred
), totals AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN a = p THEN n ELSE 0 END) AS BIGINT) AS n_agree
  FROM conf
), rm AS (SELECT a, CAST(SUM(n) AS BIGINT) AS ra FROM conf GROUP BY a),
cm AS (SELECT p, CAST(SUM(n) AS BIGINT) AS cb FROM conf GROUP BY p),
pe AS (
  SELECT SUM(CAST((CAST(ra AS DOUBLE) / t.n_rows) * (CAST(cb AS DOUBLE) / t.n_rows)
             AS DECIMAL(18,12))) AS pe_dec
  FROM rm JOIN cm ON rm.a = cm.p, totals t
)
SELECT t.n_rows, t.n_agree,
  CAST(FLOOR((CAST(t.n_agree AS DOUBLE) / t.n_rows) * 1000000.0) AS BIGINT) AS po_e6,
  CAST(FLOOR(COALESCE(CAST(pe.pe_dec AS DOUBLE), 0.0) * 1000000.0) AS BIGINT) AS pe_e6,
  CAST(FLOOR(((CAST(t.n_agree AS DOUBLE) / t.n_rows)
              - COALESCE(CAST(pe.pe_dec AS DOUBLE), 0.0))
             / NULLIF(1.0 - COALESCE(CAST(pe.pe_dec AS DOUBLE), 0.0), 0.0)
             * 1000000.0) AS BIGINT) AS kappa_e6
FROM totals t, pe
"""


def _q_seed_expansion(spark: SparkSession, sf: str) -> DataFrame:
    """X12/X11 — seed-set expansion via personalized PageRank
    (operators/graph.personalized_pagerank): teleport mass pinned to one
    brand's parts, 3 integer-exact rounds over the shared co-purchase
    pair frame — the graph analog of importance-weighted data selection
    (grow a trusted seed set into a ranked candidate pool). The rank
    frontier stays sparse (seeds' 3-hop neighborhood); top-100 by
    (rank desc, node)."""
    pairs = _ensure_copurchase_pairs(spark, sf)
    part = load_table(spark, sf, "part")
    seeds = part.filter(F.col("p_brand") == "Brand#12").select(
        F.col("p_partkey").alias("node")
    )
    ranks = graph.personalized_pagerank(pairs, seeds, rounds=3)
    order = [F.desc("rank"), F.asc("node")]
    top = ranks.orderBy(*order).limit(100)
    return top.withColumn("rnk", F.row_number().over(Window.orderBy(*order)))


def _ora_seed_expansion(rounds: int = 3, brand: str = "Brand#12") -> str:
    ctes = [
        _PAIRS_SQL_MW.format(mw=1),
        """ew AS (
  SELECT e.src, e.dst, e.w, o.ow FROM edges e
  JOIN (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src) o USING (src)
)""",
        f"""seeds AS (
  SELECT DISTINCT p_partkey AS node FROM part
  WHERE p_brand = '{brand}' AND p_partkey IN (SELECT src FROM edges)
)""",
        "r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM seeds)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""r{r} AS (
  SELECT node, CAST(SUM(x) AS BIGINT) AS rank FROM (
    SELECT e.dst AS node, (85 * p.rank * e.w) // (100 * e.ow) AS x
    FROM r{r - 1} p JOIN ew e ON e.src = p.node
    UNION ALL
    SELECT node, CAST(150000000 AS BIGINT) FROM seeds)
  GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, rank,
  CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS INT) AS rnk
FROM r{rounds} QUALIFY rnk <= 100"""
    )


def _q_embedding_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """X3×X13 composition — broken-vector detection: per-label MAD
    (Hampel, k=2) outliers on the integer squared norm of each embedding
    (e3 fixed-point scan-side sum of squares — exact in both engines).
    Abnormal norms are the classic symptom of truncated/zeroed/double-
    scaled vectors upstream; this runs the SAME group_outliers operator
    as price_outliers on an embedding-space statistic, witnessing the
    audit family's generality. Outlier rows only, deterministic order."""
    emb = load_table(spark, sf, "embeddings")
    sq = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    base = emb.select("vec_id", "label", sq.alias("sq_e6"))
    out = profiling.group_outliers(base, "sq_e6", "label", "vec_id", k=2.0)
    return (
        out.filter(F.col("is_outlier"))
        .orderBy(F.desc("dev"), F.asc("vec_id"))
        .limit(100)
    )


_O_EMBEDDING_OUTLIERS = """
WITH n AS (
  SELECT vec_id, label,
    CAST(list_sum(list_transform(embedding,
      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
           * CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))) AS DOUBLE) AS v
  FROM embeddings
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY v, vec_id) AS rn,
         COUNT(*) OVER (PARTITION BY label) AS cnt
  FROM n
), med AS (
  SELECT label, v AS med FROM r WHERE rn = (cnt + 1) // 2
), d AS (
  SELECT n.vec_id, n.label, n.v, m.med, ABS(n.v - m.med) AS dev
  FROM n JOIN med m USING (label)
), r2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY dev, vec_id) AS rn2,
         COUNT(*) OVER (PARTITION BY label) AS cnt2
  FROM d
), mad AS (
  SELECT label, dev AS mad FROM r2 WHERE rn2 = (cnt2 + 1) // 2
)
SELECT d.vec_id, d.label, d.v AS sq_e6, d.med, d.dev, m2.mad,
       (d.dev > 2.0 * m2.mad) AS is_outlier
FROM d JOIN mad m2 USING (label)
WHERE d.dev > 2.0 * m2.mad
ORDER BY d.dev DESC, d.vec_id ASC LIMIT 100
"""


def _q_heldout_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """X4/X11 evaluation — the generalization gap of the perplexity
    filter: estimate the interpolated bigram LM from the TRAIN split
    only (hash split, corpus.train_val_test_split) and score every
    split under it (text.bigram_lm_scores with model_df) — train-vs-val
    NLL is the held-out evidence a perplexity threshold needs before it
    means anything. Unseen bigrams keep only smoothed backoff mass
    (never dropped, never -inf). One per-split summary row."""
    docs = load_table(spark, sf, "documents")
    assigned = corpus.train_val_test_split(docs).transform(_checkpoint, eager=False)
    # model_filter (not model_df): the train slice is a row-subset of
    # the scored corpus, so the model types derive from the shared
    # per-doc gram counts — one corpus explode instead of two (r16)
    scored = text.bigram_lm_scores(
        assigned, model_filter=F.col("split") == "train"
    )
    return (
        scored.join(assigned.select("doc_id", "split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.sum("nll_e6").cast("long").alias("nll_e6"),
        )
        .withColumn(
            "corpus_avg_nll_e6", F.expr("nll_e6 div n_bigrams").cast("long")
        )
        .orderBy("split")
    )


_O_HELDOUT_PERPLEXITY = f"""
WITH base AS (
  SELECT doc_id, {_WS_SPLIT_SQL} AS words,
    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 10000 < 1000 THEN 'val'
         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 10000 < 2000 THEN 'test'
         ELSE 'train' END AS split
  FROM documents
), occ AS (
  SELECT doc_id, split, words[i] AS w1, words[i + 1] AS w2
  FROM base, LATERAL unnest(generate_series(1, len(words) - 1)) AS g(i)
  WHERE len(words) >= 2
), types AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM occ WHERE split = 'train' GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM types GROUP BY w1
), c2t AS (
  SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM types GROUP BY w2
), tv AS (
  SELECT CAST(SUM(c12) AS BIGINT) AS t, CAST(COUNT(DISTINCT w2) AS BIGINT) AS v
  FROM types
), stypes AS (
  SELECT DISTINCT w1, w2 FROM occ
), scored AS (
  SELECT st.w1, st.w2,
    CAST(FLOOR(1000000.0 * ln(
      0.9 * COALESCE(CAST(ty.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE), 0.0)
      + 0.1 * ((CAST(COALESCE(c2t.c2, 0) AS DOUBLE) + 1.0)
               / (CAST(tv.t AS DOUBLE) + CAST(tv.v AS DOUBLE)))
    )) AS BIGINT) AS term_e6
  FROM stypes st
  LEFT JOIN types ty ON ty.w1 = st.w1 AND ty.w2 = st.w2
  LEFT JOIN c1 ON c1.w1 = st.w1
  LEFT JOIN c2t ON c2t.w2 = st.w2, tv
), agg AS (
  SELECT o.doc_id, o.split, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(s.term_e6) AS BIGINT) AS ll
  FROM occ o JOIN scored s ON o.w1 = s.w1 AND o.w2 = s.w2
  GROUP BY o.doc_id, o.split
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
  CAST(SUM(-ll) AS BIGINT) AS nll_e6,
  CAST(SUM(-ll) // SUM(n_bigrams) AS BIGINT) AS corpus_avg_nll_e6
FROM agg GROUP BY split ORDER BY split
"""


def _q_bloom_fpr(spark: SparkSession, sf: str) -> DataFrame:
    """X8×X6 — measured Bloom false-positive rate vs the theoretical
    (1 − e^{−kn/m})^k bound (operators/bloom.bloom_fpr_audit): 20k
    synthetic probe keys guaranteed absent from the inserted shingle set
    (probes have no spaces; shingles do), every hit a reproducible false
    positive of the md5-derived positions. The sketch-accuracy contract
    applied to the decontamination filter."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    bits = bloom.bloom_pack(bloom.bloom_build(bench, shingle_n=3))
    return bloom.bloom_fpr_audit(bench, bits, shingle_n=3)


_O_BLOOM_FPR = f"""
WITH toks AS (
  SELECT doc_id, {_WS_SPLIT_SQL} AS words FROM documents WHERE doc_id % 37 = 0
), sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> array_to_string(words[i:i+2], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(shingles) AS s FROM sh
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_inserted FROM bench
), setbits AS (
  SELECT DISTINCT
    (CAST(('0x' || substr(md5(b.s), 1, 15)) AS BIGINT)
     + t.j * CAST(('0x' || substr(md5(b.s), 16, 15)) AS BIGINT)) % 131072 AS pos
  FROM bench b, LATERAL unnest(generate_series(0, 2)) t(j)
), probes AS (
  SELECT 'absent_probe_' || CAST(i AS VARCHAR) AS key FROM range(20000) t(i)
), probe_hits AS (
  SELECT p.key,
    SUM(CASE WHEN
      (CAST(('0x' || substr(md5(p.key), 1, 15)) AS BIGINT)
       + t.j * CAST(('0x' || substr(md5(p.key), 16, 15)) AS BIGINT)) % 131072
        IN (SELECT pos FROM setbits) THEN 1 ELSE 0 END) = 3 AS inb
  FROM probes p, LATERAL unnest(generate_series(0, 2)) t(j)
  GROUP BY p.key
), h AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
         CAST(SUM(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM probe_hits
)
SELECT n.n_inserted, h.n_probes, h.n_hits,
  CAST(FLOOR((CAST(h.n_hits AS DOUBLE) / CAST(h.n_probes AS DOUBLE)) * 1000000.0)
       AS BIGINT) AS fpr_e6,
  CAST(FLOOR(POWER(1.0 - EXP(-(3.0 * CAST(n.n_inserted AS DOUBLE)) / 131072.0), 3.0)
       * 1000000.0) AS BIGINT) AS bound_e6,
  (CAST(h.n_hits AS DOUBLE) / CAST(h.n_probes AS DOUBLE))
    <= 2.0 * POWER(1.0 - EXP(-(3.0 * CAST(n.n_inserted AS DOUBLE)) / 131072.0), 3.0)
    AS fpr_ok
FROM n, h
"""


def _q_dup_cluster_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """X2/X13 — duplicate-cluster SIZE distribution: the corpus-health
    release metric behind any dedup run ("how duplicated is this corpus,
    and is the mass in pairs or in mega-clusters?"). Components from the
    shared persisted LSH pair stage, bucketed by the integer MSB of the
    cluster size (degree_histogram's log2 technique — floating floor(log2)
    is not exact at powers of two). Mega-cluster buckets predict
    canonical-selection cost and flag template/boilerplate infestations."""
    comps = dedup.connected_components_alternating(_ensure_lsh_pairs(spark, sf))
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("_sz")
    )
    bucket = (F.length(F.conv(F.col("_sz").cast("string"), 10, 2)) - 1).cast("int")
    return (
        sizes.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("_sz").cast("long").alias("n_docs"),
            F.min("_sz").cast("long").alias("min_size"),
            F.max("_sz").cast("long").alias("max_size"),
        )
        .orderBy("size_bucket")
    )


def _ora_dup_cluster_histogram(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    return f"""
WITH RECURSIVE {_ora_lsh_ctes(num_hashes, bands, n)},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS id FROM edges
), reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
), comp AS (
  SELECT id, MIN(r) AS component FROM reach GROUP BY id
), sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS sz FROM comp GROUP BY component
)
SELECT CAST(LENGTH(BIN(sz)) - 1 AS INT) AS size_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_clusters,
  CAST(SUM(sz) AS BIGINT) AS n_docs,
  CAST(MIN(sz) AS BIGINT) AS min_size,
  CAST(MAX(sz) AS BIGINT) AS max_size
FROM sizes GROUP BY size_bucket ORDER BY size_bucket
"""


def _q_snm_name_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Linkage — sorted-neighborhood candidate pairs over part names
    (operators/linkage.snm_pairs, window 4, Levenshtein ≤ 2), aggregated
    to (dist, n_pairs): the second classic ER candidate generator next to
    blocking — linear (window−1)·n candidate volume with NO block-skew
    term; production matchers union both passes. Distinct pairs before
    the count (a pair can be sort-adjacent at several offsets)."""
    part = load_table(spark, sf, "part")
    pairs = linkage.snm_pairs(part, "p_partkey", "p_name", window=4, max_dist=2)
    return (
        pairs.distinct()
        .groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("dist")
    )


_O_SNM_NAME_PAIRS = """
WITH n AS (
  SELECT p_partkey AS id,
    trim(regexp_replace(lower(p_name), '\\s+', ' ', 'g')) AS nm
  FROM part
), r AS (
  SELECT id, nm, ROW_NUMBER() OVER (ORDER BY nm, id) AS rn FROM n
), cand AS (
  SELECT DISTINCT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b,
    CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
  FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
)
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM cand WHERE dist <= 2 GROUP BY dist ORDER BY dist
"""


def _ensure_multipass_cand(spark: SparkSession, sf: str) -> DataFrame:
    """Build-once handle for the multi-pass candidate pairs of part names
    at this sf (linkage.multi_pass_candidates, max_block=256, window=4,
    dist ≤ 2). Two registry queries consume the identical frame — the
    provenance histogram and the reciprocal best-match filter — so the
    candidate generation (blocked pass + SNM global rank) runs ONCE per
    sf, not once per query (the `_ensure_copurchase_pairs` pattern).
    int/boolean columns roundtrip parquet exactly, so the oracles don't
    change; bit-parity vs the inline build is pinned in
    tests/test_linkage.py. The generation parameters are baked into the
    cache-dir name (the `ivf_sqrt` precedent): a future parameter bump
    must miss this cache rather than silently serve 256-truncated pairs
    against an oracle replaying the new contract."""
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    path = _cache_dir("multipass_cand_d2w4b256", sf)
    fs = HadoopFS(spark, path)
    if not fs.exists(join_path(path, "pairs", "_SUCCESS")):
        part = load_table(spark, sf, "part")
        linkage.multi_pass_candidates(
            part, "p_partkey", "p_name", max_dist=2, window=4, max_block=256
        ).write.mode("overwrite").parquet(join_path(path, "pairs"))
    return spark.read.parquet(join_path(path, "pairs"))


def _q_multi_pass_name_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Linkage — multi-pass candidate generation over part names
    (operators/linkage.multi_pass_candidates): blocked ∪ SNM with
    per-pass provenance, the production ER recipe both pass docstrings
    promise. max_block=256 keeps the record-level blocked pass bounded
    on this heavily-duplicated name space (64 distinct names over the
    whole table — the canonicalize-first note in the operator doc);
    the oracle replays the identical ≤256-by-id truncation, both pass
    joins, and the pair-level union/dedup, then both aggregate to
    (dist, from_block, from_snm, n_pairs) — the provenance histogram
    showing each pass's unique contribution (blind-spot complement).
    Candidates come from the shared persisted build
    (`_ensure_multipass_cand`; bit-parity vs inline pinned)."""
    pairs = _ensure_multipass_cand(spark, sf)
    return (
        pairs.groupBy("dist", "from_block", "from_snm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("dist", "from_block", "from_snm")
    )


_O_MULTI_PASS_NAME_PAIRS = r"""
WITH n AS (
  SELECT p_partkey AS id,
    trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS nm
  FROM part
), blk AS (
  SELECT id, nm, string_split(nm, ' ')[1] AS b1, len(string_split(nm, ' ')) AS b2
  FROM n
), kept AS (
  SELECT id, nm, b1, b2 FROM blk
  QUALIFY row_number() OVER (PARTITION BY b1, b2 ORDER BY id) <= 256
), bp AS (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
  FROM kept a JOIN kept b ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.id < b.id
  WHERE levenshtein(a.nm, b.nm) <= 2
), r AS (
  SELECT id, nm, ROW_NUMBER() OVER (ORDER BY nm, id) AS rn FROM n
), sp AS (
  SELECT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b,
    CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
  FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
  WHERE levenshtein(a.nm, b.nm) <= 2
), u AS (
  SELECT id_a, id_b, dist, TRUE AS blk, FALSE AS snm FROM bp
  UNION ALL
  SELECT id_a, id_b, dist, FALSE AS blk, TRUE AS snm FROM sp
), pairs AS (
  SELECT id_a, id_b, CAST(MIN(dist) AS INT) AS dist,
    MAX(blk) AS from_block, MAX(snm) AS from_snm
  FROM u GROUP BY id_a, id_b
)
SELECT dist, from_block, from_snm, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def _q_best_match_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Linkage — reciprocal best-match filtering over the multi-pass
    candidates (operators/linkage.best_match_pairs): each part keeps
    only its mutual-best partner (min dist, tie toward the smaller
    partner id) — the one-to-one precision step before clustering.
    Aggregated to (dist, n_pairs, n_both_passes); the oracle replays
    the directed argmin (ROW_NUMBER over (dist, partner)) and the
    mutual join on top of the full multi-pass union. Candidates come
    from the shared persisted build (`_ensure_multipass_cand`)."""
    surv = linkage.best_match_pairs(_ensure_multipass_cand(spark, sf))
    return (
        surv.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                (F.col("from_block") & F.col("from_snm")).cast("long")
            ).alias("n_both_passes"),
        )
        .orderBy("dist")
    )


_O_BEST_MATCH_PAIRS = r"""
WITH n AS (
  SELECT p_partkey AS id,
    trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS nm
  FROM part
), blk AS (
  SELECT id, nm, string_split(nm, ' ')[1] AS b1, len(string_split(nm, ' ')) AS b2
  FROM n
), kept AS (
  SELECT id, nm, b1, b2 FROM blk
  QUALIFY row_number() OVER (PARTITION BY b1, b2 ORDER BY id) <= 256
), bp AS (
  SELECT a.id AS id_a, b.id AS id_b,
    CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
  FROM kept a JOIN kept b ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.id < b.id
  WHERE levenshtein(a.nm, b.nm) <= 2
), r AS (
  SELECT id, nm, ROW_NUMBER() OVER (ORDER BY nm, id) AS rn FROM n
), sp AS (
  SELECT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b,
    CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
  FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
  WHERE levenshtein(a.nm, b.nm) <= 2
), u AS (
  SELECT id_a, id_b, dist, TRUE AS blk, FALSE AS snm FROM bp
  UNION ALL
  SELECT id_a, id_b, dist, FALSE AS blk, TRUE AS snm FROM sp
), pairs AS (
  SELECT id_a, id_b, CAST(MIN(dist) AS INT) AS dist,
    MAX(blk) AS from_block, MAX(snm) AS from_snm
  FROM u GROUP BY id_a, id_b
), directed AS (
  SELECT id_a AS id, id_b AS p, dist FROM pairs
  UNION ALL
  SELECT id_b AS id, id_a AS p, dist FROM pairs
), best AS (
  SELECT id, p FROM directed
  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, p) = 1
), mutual AS (
  SELECT a.id AS id_a, a.p AS id_b
  FROM best a JOIN best b ON a.p = b.id AND b.p = a.id
), surv AS (
  SELECT pr.* FROM pairs pr
  JOIN mutual m ON pr.id_a = m.id_a AND pr.id_b = m.id_b
)
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(CASE WHEN from_block AND from_snm THEN 1 ELSE 0 END) AS BIGINT)
    AS n_both_passes
FROM surv GROUP BY dist ORDER BY dist
"""


def _q_ranking_auc(spark: SparkSession, sf: str) -> DataFrame:
    """X11 selection — exact ROC AUC acceptance gate
    (operators/selection.ranking_auc): does document length (n_chars)
    rank English docs above the rest? Label = (lang = 'en'), score =
    n_chars — a real tie-heavy integer score. The Mann-Whitney U2
    arithmetic (2·negs_below + ties half-credit), the decimal floor
    division, and the distinct-score prefix sum are all replayed by the
    oracle; tie/degenerate-group semantics pinned in
    tests/test_selection.py."""
    docs = load_table(spark, sf, "documents").select(
        (F.col("lang") == "en").alias("is_en"), "n_chars"
    )
    return selection.ranking_auc(docs, "is_en", "n_chars")


def _q_ranking_auc_banded(spark: SparkSession, sf: str) -> DataFrame:
    """X11 — banded ROC AUC with falsifiable error bound
    (operators/selection.ranking_auc_banded): the 100 TB twin of
    `ranking_auc` — 9 percentile_disc decile boundaries broadcast,
    scan-side banding, Mann-Whitney arithmetic over ≤ 10 rows, and the
    bound Σ np·nn/(2PN) computed from the same aggregate (plus the
    one-ulp floor slack). The oracle replays the boundary rank
    arithmetic (ROW_NUMBER + CEIL(0.i·n), winsorized precedent), the
    banding, and both decimal divisions; exact-vs-banded containment is
    pinned in tests/test_selection.py + test_properties.py."""
    docs = load_table(spark, sf, "documents").select(
        (F.col("lang") == "en").alias("is_en"), "n_chars"
    )
    return selection.ranking_auc_banded(docs, "is_en", "n_chars", n_bands=10)


_O_RANKING_AUC_BANDED = (
    """
WITH t AS (
  SELECT (lang = 'en') AS y, n_chars AS s FROM documents
), ranked AS (
  SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn, COUNT(*) OVER () AS n FROM t
), b AS (
  SELECT
"""
    + ",\n".join(
        f"    MAX(CASE WHEN rn = CAST(CEIL(0.{i} * n) AS BIGINT) THEN s END) AS b{i}"
        for i in range(1, 10)
    )
    + """
  FROM ranked
), banded AS (
  SELECT 1 """
    + " ".join(f"+ (CASE WHEN t.s > b.b{i} THEN 1 ELSE 0 END)" for i in range(1, 10))
    + """ AS band, t.y
  FROM t, b
), per AS (
  SELECT band,
    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np,
    SUM(CASE WHEN y THEN 0 ELSE 1 END) AS nn
  FROM banded GROUP BY band
), c AS (
  SELECT np, nn, SUM(nn) OVER (ORDER BY band) AS cumn FROM per
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
  CAST(CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
    (1000000 * SUM(np * (2 * (cumn - nn) + nn))) // (2 * SUM(np) * SUM(nn))
  END AS BIGINT) AS auc_banded_e6,
  CAST(CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
    (1000000 * SUM(np * nn) + 2 * SUM(np) * SUM(nn) - 1)
      // (2 * SUM(np) * SUM(nn)) + 1
  END AS BIGINT) AS max_err_e6
FROM c
"""
)


def _q_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """X11 — reliability diagram of the per-source length percentile as a
    'this looks English' confidence (operators/selection.calibration_report
    over calibrate_scores): the calibration companion to ranking_auc —
    AUC audits the RANKING of the same signal, this audits whether the
    calibrated percentile MEANS its number. One window shuffle
    (calibrate), one doc-keyed label join, one ≤ 10-key binning agg;
    every output is a single floored integer division replayed by the
    oracle (PERCENT_RANK + common-denominator gap arithmetic)."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    cal = selection.calibrate_scores(
        docs.select("doc_id", "source", "n_chars"), "n_chars"
    )
    lab = docs.select("doc_id", (F.col("lang") == "en").alias("is_en"))
    return selection.calibration_report(
        cal.join(lab, "doc_id"), "is_en", "calib_e6", n_bins=10
    )


_O_CALIBRATION_BINS = """
WITH c AS (
  SELECT (lang = 'en') AS y,
    CAST(FLOOR(1000000 * PERCENT_RANK() OVER (
      PARTITION BY source ORDER BY n_chars, doc_id)) AS BIGINT) AS conf
  FROM documents
), b AS (
  SELECT CAST(LEAST(conf * 10 // 1000000, 9) AS INT) AS bin, y, conf FROM c
), per AS (
  SELECT bin, COUNT(*) AS n,
    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np, SUM(conf) AS sc
  FROM b GROUP BY bin
)
SELECT bin, CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
  CAST((1000000 * np) // n AS BIGINT) AS acc_e6,
  CAST((1000000 * sc) // (n * 1000000) AS BIGINT) AS avg_conf_e6,
  CAST((1000000 * ABS(np * 1000000 - sc)) // (n * 1000000) AS BIGINT) AS gap_e6
FROM per ORDER BY bin
"""


_O_RANKING_AUC = """
WITH per AS (
  SELECT n_chars AS score,
    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
  FROM documents GROUP BY 1
), c AS (
  SELECT np, nn, SUM(nn) OVER (ORDER BY score) AS cumn FROM per
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
  CAST(CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
    (1000000 * SUM(np * (2 * (cumn - nn) + nn))) // (2 * SUM(np) * SUM(nn))
  END AS BIGINT) AS auc_e6
FROM c
"""


def _ensure_quality_ledger(spark: SparkSession, sf: str):
    """Build-once handle for a QualityGateLedger over the documents table
    at this sf (VERDICT r9 directive #3: the ledger's append/merge
    plumbing gets a driver-attested oracle, not just pytest). Two
    parquet appends split by doc_id parity exercise the cross-run merge
    path; a _LEDGER_READY marker makes the build idempotent (the bench
    harness runs every query twice — a second ingest would double-count,
    this is a metrics ledger, not a dedup ledger). A partial build
    (dir present, marker absent) is wiped and redone."""
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path
    from commerce_data_pipeline_spark.sources.ledger import QualityGateLedger

    root = _cache_dir("quality_gate", sf)
    bins = join_path(root, "bins")
    marker = join_path(root, "_LEDGER_READY")
    fs = HadoopFS(spark, root)
    ledger = QualityGateLedger(spark, bins, n_bins=10, conf_scale=1_000_000)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        docs = load_table(spark, sf, "documents").select(
            "doc_id", "source", "lang", "n_chars"
        )
        cal = selection.calibrate_scores(
            docs.select("doc_id", "source", "n_chars"), "n_chars"
        )
        lab = docs.select("doc_id", (F.col("lang") == "en").alias("is_en"))
        scored = cal.join(lab, "doc_id").transform(_checkpoint)  # two ingests
        ledger.ingest(scored.filter(F.col("doc_id") % 2 == 0), "is_en", "calib_e6")
        ledger.ingest(scored.filter(F.col("doc_id") % 2 == 1), "is_en", "calib_e6")
        fs.write_bytes(marker, b"ready\n")
    return ledger


def _q_quality_gate_report(spark: SparkSession, sf: str) -> DataFrame:
    """X11 — cross-run quality-gate ledger report
    (sources/ledger.QualityGateLedger): ingest the calibrated
    'looks-English' confidence (calibration_bins' exact signal) in TWO
    doc_id-parity batches, then report over the MERGED history —
    (n, n_pos, n_neg, auc_banded_e6, max_err_e6, ece_e6). Because bin
    aggregates are exactly mergeable sums-of-sums, the oracle replays a
    ONE-PASS binning over all documents plus the (already-attested)
    banded-AUC and integer-ECE arithmetic: a value-hash match here
    attests the append→config-check→merge plumbing end to end. State is
    O(n_bins) per ingest; the report never rescans raw history."""
    return _ensure_quality_ledger(spark, sf).report()


_O_QUALITY_GATE_REPORT = """
WITH c AS (
  SELECT (lang = 'en') AS y,
    CAST(FLOOR(1000000 * PERCENT_RANK() OVER (
      PARTITION BY source ORDER BY n_chars, doc_id)) AS BIGINT) AS conf
  FROM documents
), b AS (
  SELECT CAST(LEAST(conf * 10 // 1000000, 9) AS INT) AS bin, y, conf FROM c
), per AS (
  SELECT bin, COUNT(*) AS n,
    SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np,
    SUM(CASE WHEN y THEN 0 ELSE 1 END) AS nn,
    SUM(conf) AS sc
  FROM b GROUP BY bin
), cum AS (
  SELECT n, np, nn, sc, SUM(nn) OVER (ORDER BY bin) AS cumn FROM per
)
SELECT CAST(SUM(n) AS BIGINT) AS n,
  CAST(SUM(np) AS BIGINT) AS n_pos,
  CAST(SUM(nn) AS BIGINT) AS n_neg,
  CAST(CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
    (1000000 * SUM(np * (2 * (cumn - nn) + nn))) // (2 * SUM(np) * SUM(nn))
  END AS BIGINT) AS auc_banded_e6,
  CAST(CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
    (1000000 * SUM(np * nn) + 2 * SUM(np) * SUM(nn) - 1)
      // (2 * SUM(np) * SUM(nn)) + 1
  END AS BIGINT) AS max_err_e6,
  CAST((1000000 * SUM(ABS(np * 1000000 - sc)))
    // (SUM(n) * 1000000) AS BIGINT) AS ece_e6
FROM cum
"""


def _q_fisher_dims(spark: SparkSession, sf: str) -> DataFrame:
    """X11 — one-vs-rest Fisher separation audit over labeled embeddings
    (operators/selection.fisher_separation): top-10 dimensions separating
    label 0 from the rest, every value exact integer arithmetic over
    e6-quantized coordinates (num/den ratio of per-class count/sum/sumsq
    — the docstring derivation), so the oracle replays it bit for bit
    with HUGEINT. One posexplode scan, one 64-key agg with map-side
    combine; rank over 64 rows."""
    emb = load_table(spark, sf, "embeddings").select("label", "embedding")
    return selection.fisher_separation(emb, target_label=0, top_k=10)


_O_FISHER_DIMS = """
WITH x AS (
  SELECT label,
    unnest(range(len(embedding))) AS dim,
    unnest(embedding) AS v
  FROM embeddings
), q AS (
  SELECT dim, (label = 0) AS is0,
    CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS xq
  FROM x
), per AS (
  SELECT dim,
    SUM(CASE WHEN is0 THEN 1 ELSE 0 END) AS n0,
    SUM(CASE WHEN NOT is0 THEN 1 ELSE 0 END) AS n1,
    SUM(CASE WHEN is0 THEN xq ELSE 0 END) AS s0,
    SUM(CASE WHEN NOT is0 THEN xq ELSE 0 END) AS s1,
    SUM(CASE WHEN is0 THEN xq*xq ELSE 0 END) AS q0,
    SUM(CASE WHEN NOT is0 THEN xq*xq ELSE 0 END) AS q1
  FROM q GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
  CAST(CASE WHEN ((n0*q0 - s0*s0)*n1*n1 + (n1*q1 - s1*s1)*n0*n0) > 0 THEN
    (1000000 * (s0*n1 - s1*n0) * (s0*n1 - s1*n0))
      // ((n0*q0 - s0*s0)*n1*n1 + (n1*q1 - s1*s1)*n0*n0)
  END AS BIGINT) AS fisher_e6
FROM per
ORDER BY fisher_e6 DESC NULLS LAST, dim ASC LIMIT 10
"""
