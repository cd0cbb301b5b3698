"""Training-data ops I (SURVEY §2d): exact/MinHash/LSH/SimHash dedup, banded pairs, text stats/fingerprints, doc clustering, graph pin queries.

Mechanical split of queries.py (r10, VERDICT r9 directive #4); statement
text is unchanged — see the package __init__ docstring for the determinism
contract every query follows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.scatter import scatter as _scatter
from commerce_data_pipeline_spark.operators import (
    dedup,
    graph,
    profiling,
    search,
    similarity,
    temporal,
    text,
)
from commerce_data_pipeline_spark.operators.analytics import (
    association_rules as analytics_association_rules,
    sequence_violations as analytics_sequence_violations,
    session_funnel as analytics_session_funnel,
)
from commerce_data_pipeline_spark.queries._shared import _cache_dir
from commerce_data_pipeline_spark.queries._shared import _ensure_copurchase_pairs



# --------------------------------------------------------------------------
# Training-data pipeline operators over documents/embeddings (SURVEY §2d)
# --------------------------------------------------------------------------

def _q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """X1 — exact dedup. The corpus is unioned with itself so the operator
    provably collapses duplicates (the raw corpus is all-distinct)."""
    docs = load_table(spark, sf, "documents")
    doubled = docs.unionAll(docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    return dedup.exact_dedup(doubled).select("doc_id", "n_chars")


_O_DEDUP_EXACT = """
WITH doubled AS (
  SELECT doc_id, text, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, n_chars FROM documents
)
SELECT MIN(doc_id) AS doc_id, ANY_VALUE(n_chars) AS n_chars
FROM doubled
GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
"""


def _q_minhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    """X2 — MinHash signatures (8 hashes over 3-word shingles), the exact
    md5-based construction the LSH dedup banding uses."""
    docs = load_table(spark, sf, "documents")
    return dedup.minhash_signature(docs, num_hashes=8, shingle_n=3)


def _ora_minhash(num_hashes: int = 8, n: int = 3) -> str:
    comps = ",\n  ".join(
        f"list_min(list_transform(vs, v -> ({a} * v + {b}) % {dedup.MINHASH_PRIME})) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.minhash_coeffs(num_hashes))
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {n}
      THEN list_distinct(list_transform(generate_series(1, len(words) - {n} + 1),
             i -> array_to_string(words[i:i+{n}-1], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
), vals AS (
  SELECT doc_id,
    list_transform(shingles,
      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483648) AS vs
  FROM sh
)
SELECT doc_id, {comps} FROM vals
"""


def _q_minhash_estimate_audit(spark: SparkSession, sf: str) -> DataFrame:
    """X2 accuracy contract — exact n-gram Jaccard vs the 8-component
    MinHash estimate over every overlapping sampled pair
    (operators/dedup.minhash_estimate_audit): the ann_recall analog for
    the dedup family — E[est] = J in theory, this pins what k=8 delivers
    on this corpus. Same sampled pair space as jaccard_topk; signatures
    are the attested minhash_signature construction; every number is an
    integer floor (jacc_e6, est_e6, |err|, MAE), so the oracle replays
    it bit for bit."""
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    docs = _scatter(docs)
    return dedup.minhash_estimate_audit(
        docs, num_hashes=8, shingle_n=3
    )


def _ora_minhash_estimate_audit(num_hashes: int = 8, n: int = 3) -> str:
    comps = ",\n    ".join(
        f"list_min(list_transform(vs, v -> ({a} * v + {b}) % {dedup.MINHASH_PRIME})) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.minhash_coeffs(num_hashes))
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents WHERE doc_id % 5 = 0
), shs AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {n}
      THEN list_distinct(list_transform(generate_series(1, len(words) - {n} + 1),
             i -> array_to_string(words[i:i+{n}-1], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
), sh AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shs
), sizes AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh FROM shs WHERE len(shingles) > 0
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), vals AS (
  SELECT doc_id,
    list_transform(shingles,
      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483648) AS vs
  FROM shs
), sig AS (
  SELECT doc_id,
    {comps}
  FROM vals
), errs AS (
  SELECT ABS(
      (1000000 * ({match_sum})) // {num_hashes}
      - (1000000 * inter) // (sa2.n_sh + sb2.n_sh - inter)
    ) AS err
  FROM inter
  JOIN sizes sa2 ON sa2.doc_id = id_a
  JOIN sizes sb2 ON sb2.doc_id = id_b
  JOIN sig sa ON sa.doc_id = id_a
  JOIN sig sb ON sb.doc_id = id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(CASE WHEN COUNT(*) > 0 THEN SUM(err) // COUNT(*) END AS BIGINT) AS mae_e6,
  CAST(MAX(err) AS BIGINT) AS max_err_e6
FROM errs
"""


def _q_jaccard_topk(spark: SparkSession, sf: str) -> DataFrame:
    """X2 — exact n-gram Jaccard: 50 most-similar sampled-doc pairs.
    Sampling (doc_id % 5 = 0) bounds the quadratic pair space; ranking by
    (jaccard desc, ids) is unique."""
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    # single-file input → 1 split; scatter before the CPU-bound shingle
    # hashing (real inputs bring their own splits)
    docs = _scatter(docs)
    pairs = dedup.ngram_jaccard_pairs(docs, shingle_n=1, threshold=0.0)
    order = [F.desc("jaccard"), F.asc("id_a"), F.asc("id_b")]
    # orderBy+limit → TakeOrderedAndProject (per-task heaps); the global
    # rank window then sees only the 50 survivors, never the full pair set
    top = pairs.orderBy(*order).limit(50)
    return (
        top.withColumn("jrank", F.row_number().over(Window.orderBy(*order)))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"), "jrank")
    )


_O_JACCARD_TOPK = """
WITH sample_docs AS (
  SELECT doc_id, list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS ws
  FROM documents WHERE doc_id % 5 = 0
), sh AS (
  SELECT doc_id, unnest(ws) AS shingle FROM sample_docs
), sizes AS (
  SELECT doc_id, len(ws) AS n_sh FROM sample_docs
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), j AS (
  SELECT id_a, id_b,
    CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard,
  CAST(ROW_NUMBER() OVER (ORDER BY jaccard DESC, id_a, id_b) AS INT) AS jrank
FROM j QUALIFY jrank <= 50
"""


def _q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """X2 — 64-bit SimHash per document (xxhash64 → no SQL oracle;
    rows-only check, unit-tested for self-consistency instead). The
    single-file corpus scans as ONE split, so scatter before the
    CPU-bound per-word hash fold (the jaccard_topk precedent)."""
    docs = load_table(spark, sf, "documents")
    return dedup.simhash(_scatter(docs))


def _q_simhash_md5(spark: SparkSession, sf: str) -> DataFrame:
    """X2 — 32-bit SimHash from md5-derived word hashes: same construction
    as `simhash` but cross-engine reproducible → oracle-checked."""
    docs = load_table(spark, sf, "documents")
    return dedup.simhash_md5(docs, bits=32)


def _ora_simhash_md5(bits: int = 32) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> {b}) & 1) = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
    list_transform(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
      w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)) AS hs
  FROM documents
)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM t
"""


def _q_similarity_topk(spark: SparkSession, sf: str) -> DataFrame:
    """X3 — brute-force cosine top-5 for a deterministic query sample.
    Queries broadcast against a single corpus scan."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank"
    )


_O_SIMILARITY_TOPK = """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, u AS qu FROM unit WHERE vec_id % 20 = 0
), sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    list_dot_product(q.qu, c.u) AS sim
  FROM q JOIN unit c ON c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
FROM sims QUALIFY rank <= 5
"""


def _q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """X2 (embedding family) — 20 most-similar vector pairs corpus-wide.
    Per-batch local top-20 pruning keeps the candidate set tiny; the global
    window ranks only batches×20 rows."""
    emb = load_table(spark, sf, "embeddings")
    pairs = similarity.near_dup_pairs(emb, threshold=-1.0, top_pairs=20)
    w = Window.orderBy(F.desc("cosine_sim"), F.asc("id_a"), F.asc("id_b"))
    return (
        pairs.withColumn("prank", F.row_number().over(w))
        .filter(F.col("prank") <= 20)
        .select("id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim"), "prank")
    )


_O_EMBEDDING_NEAR_DUP = """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), sims AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_dot_product(a.u, b.u) AS sim
  FROM unit a JOIN unit b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(sim, 4) AS cosine_sim,
  CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, id_a, id_b) AS INT) AS prank
FROM sims QUALIFY prank <= 20
"""


def _q_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """X4 — corpus token statistics grouped by declared language."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(
            "lang",
            text.token_count("text").alias("toks"),
            text.bpe_token_count("text").alias("btoks"),
            F.col("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            F.sum("btoks").alias("total_bpe_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
    )


_O_TEXT_STATS = """
WITH t AS (
  SELECT lang, n_chars,
    len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks,
    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS btoks
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(toks) AS BIGINT) AS total_tokens,
  CAST(SUM(btoks) AS BIGINT) AS total_bpe_tokens,
  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM t GROUP BY lang
"""


def _q_text_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """X4 — per-document fingerprint + token counts (map-only pass)."""
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        dedup.fingerprint("text").alias("fingerprint"),
        text.token_count("text").cast("long").alias("n_tokens"),
        text.char_count("text").cast("long").alias("n_chars_exact"),
    )


_O_TEXT_FINGERPRINTS = """
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
  CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_exact
FROM documents
"""


def _q_approx_stats(spark: SparkSession, sf: str) -> DataFrame:
    """X6 — multi-quantile + HLL sketch surface, promoted (r6, VERDICT r5
    #5) from a rows-only check to the `sketch_accuracy` contract: raw
    sketch estimates can never value-match a DuckDB oracle, but the exact
    values CAN, plus booleans asserting each estimate lands within its
    documented tolerance (HLL rsd=0.01 → ±5%; percentile_approx
    accuracy=10000 → rank error ≤ n/1e4, widened to the p±0.02 exact
    discrete bounds, which a drifting sketch would escape). Covers the
    three-quantile tail (q50/q95/q99) where `sketch_accuracy` pins q50.
    The exact distinct count is its own aggregate, as in `sketch_accuracy`."""
    ev = load_table(spark, sf, "events")
    q = F.percentile_approx("value", [0.5, 0.95, 0.99], 10000)

    def disc(p: float) -> F.Column:
        return F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY value)")

    exact = ev.select("user_id").distinct().agg(F.count("user_id").alias("exact_users"))
    sketches = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_est_users"),
        F.element_at(q, 1).alias("_q50"),
        F.element_at(q, 2).alias("_q95"),
        F.element_at(q, 3).alias("_q99"),
        disc(0.48).alias("_b48"), disc(0.52).alias("_b52"),
        disc(0.93).alias("_b93"), disc(0.97).alias("_b97"),
        disc(0.98).alias("_b98"), disc(1.00).alias("_b100"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return exact.crossJoin(sketches).select(
        "exact_users",
        "n_events",
        (
            F.abs(F.col("_est_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("hll_ok"),
        ((F.col("_q50") >= F.col("_b48")) & (F.col("_q50") <= F.col("_b52"))).alias("q50_ok"),
        ((F.col("_q95") >= F.col("_b93")) & (F.col("_q95") <= F.col("_b97"))).alias("q95_ok"),
        ((F.col("_q99") >= F.col("_b98")) & (F.col("_q99") <= F.col("_b100"))).alias("q99_ok"),
    )


_O_APPROX_STATS = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  TRUE AS hll_ok, TRUE AS q50_ok, TRUE AS q95_ok, TRUE AS q99_ok
FROM events
"""


def _q_sketch_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """X6 — sketch-vs-exact accuracy contract, oracle-checkable.

    The sketches themselves (HLL++ via ``approx_count_distinct``, GK
    quantiles via ``percentile_approx``) are approximate by construction,
    so their raw estimates can never value-match a DuckDB oracle.  What CAN
    be pinned cross-engine is the *accuracy contract*: this query computes
    both the exact values (exact distinct count, exact discrete quantile
    bounds) and the sketch estimates, and emits the exact values plus
    boolean ``*_ok`` columns asserting the estimate lands within the
    documented tolerance (HLL++ rsd=0.01 → ±5% comfortably covers the
    99.7% confidence band; percentile_approx accuracy=10000 → rank error
    ≤ N/10000, widened to the p±1% exact value bounds).  The oracle
    computes the same exact values and literal TRUEs — if a sketch ever
    drifts outside tolerance the booleans flip and the value-hash breaks.
    This is the same technique as the md5-twin ANN queries: re-express the
    nondeterministic surface as a deterministic, falsifiable contract.
    Exact twins of the reference's promised-but-unbuilt profiling layer
    (reference README 'analytics'; SURVEY §2 X6)."""
    ev = load_table(spark, sf, "events")
    q = F.percentile_approx("value", [0.5], 10000)
    # the exact distinct count is its own aggregate (distinct, then a
    # count that skips NULL like countDistinct): inside one agg with the
    # sketches, countDistinct plans an Expand that routes every HLL++ and
    # GK update through a per-user aggregation
    exact = ev.select("user_id").distinct().agg(F.count("user_id").alias("exact_users"))
    sketches = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_est_users"),
        F.element_at(q, 1).alias("_est_q50"),
        F.expr(
            "percentile_disc(0.49) WITHIN GROUP (ORDER BY value)"
        ).alias("_q49"),
        F.expr(
            "percentile_disc(0.51) WITHIN GROUP (ORDER BY value)"
        ).alias("_q51"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return exact.crossJoin(sketches).select(
        "exact_users",
        "n_events",
        (
            F.abs(F.col("_est_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("hll_ok"),
        (
            (F.col("_est_q50") >= F.col("_q49"))
            & (F.col("_est_q50") <= F.col("_q51"))
        ).alias("q50_ok"),
    )


_O_SKETCH_ACCURACY = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  TRUE AS hll_ok,
  TRUE AS q50_ok
FROM events
"""


def _q_above_brand_avg_parts(spark: SparkSession, sf: str) -> DataFrame:
    """§2e/§4 — correlated scalar subquery through the SQL surface:
    Catalyst decorrelates it into an aggregate + join (RewriteCorrelated
    ScalarSubquery); verify via .explain — no per-row subquery execution."""
    load_table(spark, sf, "part").createOrReplaceTempView("_part_v")
    return spark.sql(
        """
        SELECT p_brand,
               COUNT(*) AS n_above,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        FROM _part_v p
        WHERE p_retailprice > (
            SELECT AVG(p2.p_retailprice) FROM _part_v p2 WHERE p2.p_brand = p.p_brand
        )
        GROUP BY p_brand
        """
    )


_O_ABOVE_BRAND_AVG_PARTS = """
SELECT p_brand, COUNT(*) AS n_above,
  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM part p
WHERE p_retailprice > (
  SELECT AVG(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
)
GROUP BY p_brand
"""


def _q_priciest_item_per_order(spark: SparkSession, sf: str) -> DataFrame:
    """§2e — argmax aggregates (max_by/min_by): per order, the line number
    of its most/least expensive item. Tie-break folded into the ordering
    struct (price, -linenumber) so both engines pick identically."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.max_by(
            "l_linenumber", F.struct(F.col("l_extendedprice"), (-F.col("l_linenumber")).alias("_n"))
        ).alias("max_price_line"),
        F.min_by(
            "l_linenumber", F.struct(F.col("l_extendedprice"), F.col("l_linenumber"))
        ).alias("min_price_line"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# oracle computes the same argmax via window ranking (DuckDB's arg_max has
# no composite tie-break); tie-breaks align: max → (price DESC, line ASC),
# min → (price ASC, line ASC)
_O_PRICIEST_ITEM_PER_ORDER = """
WITH ranked AS (
  SELECT l_orderkey, l_linenumber,
    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rmax,
    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      ORDER BY l_extendedprice ASC, l_linenumber ASC) AS rmin
  FROM lineitem
)
SELECT l_orderkey,
  MAX(CASE WHEN rmax = 1 THEN l_linenumber END) AS max_price_line,
  MAX(CASE WHEN rmin = 1 THEN l_linenumber END) AS min_price_line,
  COUNT(*) AS n_lines
FROM ranked GROUP BY l_orderkey
"""


def _q_customer_segments_setops(spark: SparkSession, sf: str) -> DataFrame:
    """§2e set operations: UNION / INTERSECT / EXCEPT over customer key
    sets (buyers in 1996 vs 1997), labeled and unioned into one result.
    Each year's key set feeds FOUR set-op consumers — without lineage
    truncation every consumer re-scans orders and re-runs the distinct
    (8 scans / 8 distinct aggs witnessed in PLANS.md through r14); the
    lazy checkpoint materializes each buyer set once, so the fact table
    is scanned once per year and the set operators work over the ~|keys|
    materialized frames (the multi-consumer rule, r13 precedent)."""
    from commerce_data_pipeline_spark.checkpoint import checkpoint as _ckpt

    o = load_table(spark, sf, "orders")

    def buyers(year: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01"))
            )
            .select("o_custkey")
            .distinct()
            .transform(_ckpt, eager=False)
        )

    b96, b97 = buyers(1996), buyers(1997)
    both = b96.intersect(b97).withColumn("segment", F.lit("retained"))
    churned = b96.exceptAll(b97).distinct().withColumn("segment", F.lit("churned"))
    new = b97.exceptAll(b96).distinct().withColumn("segment", F.lit("new"))
    either = b96.union(b97).distinct().withColumn("segment", F.lit("any"))
    return both.unionAll(churned).unionAll(new).unionAll(either)


_O_SETOPS = """
WITH b96 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
), b97 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_custkey, 'retained' AS segment FROM (SELECT * FROM b96 INTERSECT SELECT * FROM b97)
UNION ALL
SELECT o_custkey, 'churned' FROM (SELECT * FROM b96 EXCEPT SELECT * FROM b97)
UNION ALL
SELECT o_custkey, 'new' FROM (SELECT * FROM b97 EXCEPT SELECT * FROM b96)
UNION ALL
SELECT o_custkey, 'any' FROM (SELECT * FROM b96 UNION SELECT * FROM b97)
"""


def _q_event_type_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """§2e pivot: daily event counts pivoted to one column per event type.
    Explicit value list → single-pass pivot (no distinct-values pre-query)."""
    ev = load_table(spark, sf, "events")
    types = ["view", "click", "cart", "purchase", "refund"]
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    out = (
        ev.groupBy(day)
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves missing cells null; normalize to 0 for the oracle
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types]
    )


_O_EVENT_TYPE_PIVOT = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
  COUNT(*) FILTER (WHERE event_type = 'cart') AS n_cart,
  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
  COUNT(*) FILTER (WHERE event_type = 'refund') AS n_refund
FROM events GROUP BY 1
"""


def _q_asof_view_before_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (union+window, one shuffle): each purchase picks the
    user's latest view at-or-before it. The view side is deduped to unique
    (user, ts) — max event_id — so tie-breaks are engine-independent."""
    ev = load_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    out = temporal.asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["view_event_id"],
    )
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.col("view_event_id_matched").alias("view_event_id"),
        F.unix_micros("ts_matched").alias("view_ts_us"),
    )


_O_ASOF_VIEW_BEFORE_PURCHASE = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts, MAX(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.user_id, p.event_id, epoch_us(p.ts) AS purchase_ts_us,
  v.view_event_id, epoch_us(v.ts) AS view_ts_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def _q_band_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Band (interval) join: same-user event pairs within 60 s of each
    other, via the 3-cell bucketed equi-join (no quadratic theta join)."""
    ev = load_table(spark, sf, "events").select("user_id", "event_id", "ts")
    pairs = temporal.band_join(ev, ev, on="user_id", band_seconds=60)
    return (
        pairs.filter(F.col("a_event_id") < F.col("b_event_id"))
        .select(
            "user_id",
            F.col("a_event_id").alias("id_a"),
            F.col("b_event_id").alias("id_b"),
            F.abs(F.unix_micros("a_ts") - F.unix_micros("b_ts")).alias("dt_us"),
        )
    )


_O_BAND_PAIRS = """
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
  abs(epoch_us(a.ts) - epoch_us(b.ts)) AS dt_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
"""


def _q_text_profile(spark: SparkSession, sf: str) -> DataFrame:
    """X4 — full text-analysis profile: token counts, quality ratios,
    marker-word language ID. Ratios are emitted as floor(x·10⁴) integers:
    floor of an identical IEEE double is unambiguous cross-engine, where
    round() half-way behavior could differ on exact small-denominator
    fractions (e.g. 1/32)."""
    docs = load_table(spark, sf, "documents")

    def e4(c):
        return F.floor(c * 10000).cast("long")

    return docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        text.bpe_token_count("text").cast("long").alias("n_bpe_tokens"),
        e4(text.mean_word_length("text")).alias("mean_word_len_e4"),
        e4(text.stopword_ratio("text")).alias("stopword_ratio_e4"),
        e4(text.punct_ratio("text")).alias("punct_ratio_e4"),
        e4(text.quality_score("text")).alias("quality_e4"),
        text.language_id("text").alias("lang_pred"),
    )


# mirrors text.LANG_MARKERS / text.STOPWORDS / text.quality_score exactly
_O_TEXT_PROFILE = """
WITH t AS (
  SELECT doc_id, text,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
), m AS (
  SELECT doc_id, text, ws,
    len(ws) AS n_tokens,
    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe,
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
)
SELECT doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
  CAST(FLOOR(wl * 10000) AS BIGINT) AS mean_word_len_e4,
  CAST(FLOOR(sw * 10000) AS BIGINT) AS stopword_ratio_e4,
  CAST(FLOOR(pr * 10000) AS BIGINT) AS punct_ratio_e4,
  CAST(FLOOR((0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
            + 0.2 * (CASE WHEN wl >= 3.0 AND wl <= 10.0 THEN 1.0 ELSE 0.5 END)
            + 0.2 * LEAST(sw * 5.0, 1.0)
            + 0.2 * (1.0 - LEAST(pr * 2.0, 1.0))) * 10000) AS BIGINT) AS quality_e4,
  CASE WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
       WHEN s_fr = GREATEST(s_en, s_de, s_es, s_fr) THEN 'fr'
       WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
       WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
       ELSE 'de' END AS lang_pred
FROM m
"""


def _q_lsh_dedup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """X2 — MinHash+LSH banded candidate pairs. The corpus is doubled
    (id+10⁶, identical text) so every document provably pairs with its
    twin: an exact duplicate agrees on all bands. 16 hashes × 4 bands.
    Served from the family's build-once persisted pair frame
    (`_ensure_lsh_pairs` — bit-identical by md5/integer determinism)."""
    return _ensure_lsh_pairs(spark, sf)


def _ensure_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Build-once handle for the doubled-corpus LSH candidate pairs
    (16 hashes × 4 bands, 3-shingles) — the pair stage five X2 queries
    run identically (pairs, clusters ×2, canonical records, dup-source
    matrix). All arithmetic is md5/integer-deterministic, so the
    persisted (id_a, id_b) frame is bit-identical to a fresh build; a
    100 TB dedup runs the shingle→minhash→band pipeline once and every
    downstream consumer reads the pair list."""
    import os

    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    path = _cache_dir("lsh_pairs", sf)
    fs = HadoopFS(spark, path)
    if not fs.exists(join_path(path, "pairs", "_SUCCESS")):
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        doubled = docs.unionAll(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        )
        doubled = _scatter(doubled)
        dedup.minhash_lsh_pairs(
            doubled, num_hashes=16, bands=4, shingle_n=3
        ).write.mode("overwrite").parquet(join_path(path, "pairs"))
    return spark.read.parquet(join_path(path, "pairs"))


def _ora_lsh_ctes(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    """Shared CTE chain: doubled corpus → shingles → signatures → band rows
    → distinct candidate pairs (used by both the pairs and clusters oracles)."""
    r = num_hashes // bands
    comps = ",\n    ".join(
        f"list_min(list_transform(vs, v -> ({a} * v + {b}) % {dedup.MINHASH_PRIME})) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.minhash_coeffs(num_hashes))
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"mh_{b * r + i}" for i in range(r))
        + ")) AS bkey FROM sig"
        for b in range(bands)
    )
    return f"""doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
), toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM doubled
), sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {n}
      THEN list_distinct(list_transform(generate_series(1, len(words) - {n} + 1),
             i -> array_to_string(words[i:i+{n}-1], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
), vals AS (
  SELECT doc_id,
    list_transform(shingles,
      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483648) AS vs
  FROM sh
), sig AS (
  SELECT doc_id, {comps} FROM vals
), band_rows AS (
{band_rows}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band_rows a JOIN band_rows b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
)"""


def _ora_lsh_pairs(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    return f"WITH {_ora_lsh_ctes(num_hashes, bands, n)}\nSELECT id_a, id_b FROM pairs"


def _q_dup_source_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """X2 audit — cross-source duplication matrix: the LSH candidate
    pairs (same doubled-corpus setup as `lsh_dedup_pairs`) annotated
    with each side's source and counted per unordered source pair —
    'which sources duplicate which' (mirror/leakage detection). Two
    thin joins + a ≤|sources|² groupBy; the corpus is never re-touched
    past the pair stage (operators/dedup.py:pair_group_matrix)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
    doubled = docs.unionAll(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    pairs = _ensure_lsh_pairs(spark, sf)
    return dedup.pair_group_matrix(pairs, doubled.select("doc_id", "source"))


def _ora_dup_source_matrix() -> str:
    return f"""WITH {_ora_lsh_ctes()},
meta AS (
  SELECT doc_id, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, source FROM documents
)
SELECT LEAST(a.source, b.source) AS source_a,
       GREATEST(a.source, b.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs p JOIN meta a ON p.id_a = a.doc_id JOIN meta b ON p.id_b = b.doc_id
GROUP BY 1, 2
"""


def _ora_dedup_clusters(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    """Transitive closure of the candidate-pair graph via recursive CTE:
    each node's component = min reachable id — the oracle for the Spark
    min-label-propagation `connected_components`."""
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
)
SELECT id, MIN(r) AS component FROM reach GROUP BY id
"""


def _q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """X2 — near-dup CLUSTERS over the LSH candidate pairs, via the DEFAULT
    clustering path: the alternating large/small-star algorithm (O(log n)
    rounds on any graph shape — half the cost of min-label propagation on
    this workload and diameter-independent). Oracle = recursive-CTE
    transitive closure of the same graph."""
    return dedup.connected_components_alternating(_ensure_lsh_pairs(spark, sf))


def _q_dedup_clusters_alt(spark: SparkSession, sf: str) -> DataFrame:
    """X2 — same clusters via the explicit min-label-propagation option
    (O(component diameter) rounds — the clique-optimized variant, kept as
    `dedup_by_components(method="propagation")`). Same oracle as
    `dedup_clusters` — the two implementations must agree bit-for-bit."""
    return dedup.connected_components(_ensure_lsh_pairs(spark, sf))


_PAIRS_SQL_MW = """d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), capped AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT l_orderkey, l_partkey,
      ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM d)
  WHERE rn <= 64
), upairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS w
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {mw}
), edges AS (
  SELECT pa AS src, pb AS dst, w FROM upairs
  UNION ALL
  SELECT pb AS src, pa AS dst, w FROM upairs
)"""


def _ensure_text_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the persisted inverted text index of the
    documents table at this sf (operators/search.build_text_index):
    postings partitioned by term_bucket + the 1-row stats frame. The
    production shape — tokenize 100 TB once, prune per query."""
    import os

    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    path = _cache_dir("text_idx", sf)
    fs = HadoopFS(spark, path)
    if not fs.exists(join_path(path, "stats", "_SUCCESS")):
        search.build_text_index(load_table(spark, sf, "documents"), path)
    return path


def _q_bm25_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """X7 — the SAME BM25 top-25 served from the PERSISTED inverted text
    index (postings partitioned by term_bucket → the probe prunes to the
    query terms' directories; `_bm25_score_tail` is the one scoring
    expression both paths share). Bit-identical to `bm25_search` by
    construction, so it shares its oracle — the IVF
    ann_ivf/ann_ivf_indexed pattern applied to lexical search."""
    path = _ensure_text_index(spark, sf)
    return search.bm25_query_index(spark, path, ["dup", "vector", "spark"], k=25)


def _q_part_communities(spark: SparkSession, sf: str) -> DataFrame:
    """X12 graph — deterministic synchronous label propagation (3 fixed
    rounds, weighted-majority labels, min-label ties) over the part
    co-purchase graph: reproducible community detection, the rounds
    unrolled identically by the SQL oracle
    (operators/graph.label_propagation)."""
    return graph.label_propagation(
        None, rounds=3, undirected_pairs=_ensure_copurchase_pairs(spark, sf)
    ).orderBy("node")


def _ora_part_communities(rounds: int = 3) -> str:
    base = _PAIRS_SQL_MW.format(mw=1)
    prev = "l0"
    stages = [f"l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"]
    for i in range(1, rounds + 1):
        stages.append(f"""v{i} AS (
  SELECT e.src, p.label, SUM(e.w) AS tw
  FROM edges e JOIN {prev} p ON p.node = e.dst
  GROUP BY e.src, p.label
), l{i} AS (
  SELECT src AS node, label FROM (
    SELECT src, label,
      ROW_NUMBER() OVER (PARTITION BY src ORDER BY tw DESC, label ASC) AS rn
    FROM v{i}) WHERE rn = 1
)""")
        prev = f"l{i}"
    return (
        "WITH " + base + ",\n" + ",\n".join(stages)
        + f"\nSELECT node, label FROM {prev} ORDER BY node"
    )


def _q_part_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """X12 graph — triangle census of the weight-thresholded co-purchase
    graph (min_weight=2 keeps wedge volume Σ deg² bounded; the unfiltered
    graph's hubs would wedge-explode — exactly the knob the operator
    documents): triangles, wedges, global clustering coefficient
    (operators/graph.triangle_stats)."""
    edges = graph.symmetrize_pairs(_ensure_copurchase_pairs(spark, sf), min_weight=2)
    return graph.triangle_stats(edges)


_O_PART_TRIANGLES = f"""
WITH {_PAIRS_SQL_MW.format(mw=2)},
und AS (
  SELECT pa AS a, pb AS b FROM upairs
), deg AS (
  SELECT k, COUNT(*) AS d FROM (
    SELECT a AS k FROM und UNION ALL SELECT b AS k FROM und) t(k) GROUP BY k
), wed AS (
  SELECT CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM und e1 JOIN und e2 ON e2.a = e1.b
       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), ne AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
  CASE WHEN n_wedges > 0
    THEN CAST(FLOOR(n_triangles * 3000000.0 / n_wedges) AS BIGINT)
    ELSE CAST(0 AS BIGINT) END AS global_cc_e6
FROM wed, ne, tri
"""


def _q_also_bought(spark: SparkSession, sf: str) -> DataFrame:
    """X12/commerce — "bought X, also bought Y": per item, top-3
    co-purchased items by (weight desc, item asc) over the thresholded
    co-purchase graph; one per-key window over the aggregated edge list
    (operators/graph.top_co_occurrences)."""
    edges = graph.symmetrize_pairs(_ensure_copurchase_pairs(spark, sf), min_weight=2)
    return graph.top_co_occurrences(edges, k=3).orderBy("item", "rnk")


_O_ALSO_BOUGHT = f"""
WITH {_PAIRS_SQL_MW.format(mw=2)}
SELECT src AS item, dst AS reco, w AS weight, rnk FROM (
  SELECT src, dst, w,
    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) AS INT) AS rnk
  FROM edges)
WHERE rnk <= 3 ORDER BY item, rnk
"""


def _q_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """P profiling — equi-width histogram of order value per priority
    (bin = floor(price/25000)): the distribution companion to
    table_profile's min/max (operators/profiling.value_histogram)."""
    orders = load_table(spark, sf, "orders")
    return profiling.value_histogram(
        orders, "o_totalprice", 25000.0, group_col="o_orderpriority"
    ).orderBy("o_orderpriority", "bin")


_O_PRICE_HISTOGRAM = """
SELECT o_orderpriority,
  CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bin,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) * 25000.0 AS bin_lo
FROM orders WHERE o_totalprice IS NOT NULL
GROUP BY o_orderpriority, FLOOR(o_totalprice / 25000.0)
ORDER BY o_orderpriority, bin
"""


def _q_burst_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal — generic interval join (overlapping windows, which the
    as-of merge can't express): the 10 busiest hours become 2-hour burst
    windows [hour, hour+2h), and every event inside any window joins via
    the bucketed equi-join plan (operators/temporal.interval_join —
    coarse-bucket explode + exact range filter, never a per-key
    cartesian). Output: per burst window, event + user counts."""
    ev = load_table(spark, sf, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    hour = 3_600_000_000
    busiest = (
        ev.groupBy(F.expr(f"ts_us div {hour}").alias("_h"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), F.asc("_h"))
        .limit(10)
        .select(
            (F.col("_h") * F.lit(hour)).alias("start_us"),
            (F.col("_h") * F.lit(hour) + F.lit(2 * hour)).alias("end_us"),
        )
    )
    joined = temporal.interval_join(
        ev.select("ts_us", "user_id"), busiest, "ts_us",
        bucket_us=1_800_000_000,
    )
    return (
        joined.groupBy("start_us")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("start_us")
    )


_O_BURST_WINDOW_EVENTS = """
WITH ev AS (
  SELECT epoch_us(ts) AS ts_us, user_id FROM events
), busiest AS (
  SELECT h * 3600000000 AS start_us, h * 3600000000 + 7200000000 AS end_us
  FROM (
    SELECT ts_us // 3600000000 AS h, COUNT(*) AS n FROM ev GROUP BY 1
    ORDER BY n DESC, h ASC LIMIT 10)
)
SELECT b.start_us, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM ev e JOIN busiest b ON e.ts_us >= b.start_us AND e.ts_us < b.end_us
GROUP BY b.start_us ORDER BY b.start_us
"""


_ALLOWED_TRANSITIONS = [
    ("signup", "view"), ("signup", "click"),
    ("view", "view"), ("view", "click"), ("view", "purchase"),
    ("click", "view"), ("click", "click"), ("click", "purchase"),
    ("purchase", "view"), ("purchase", "click"),
    ("error", "view"),
]


def _q_sequence_violations(spark: SparkSession, sf: str) -> DataFrame:
    """G/P audit — event-order state machine check: per-user consecutive
    transitions not in the allowed set (purchase with no preceding
    view/click, error loops, re-signups…) counted per (prev, next) pair
    — the triage list instrumentation QA works from
    (operators/analytics.sequence_violations)."""
    ev = load_table(spark, sf, "events")
    return analytics_sequence_violations(
        ev, _ALLOWED_TRANSITIONS, tiebreak_cols=("event_id",)
    )


_O_SEQUENCE_VIOLATIONS = """
WITH trans AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
  QUALIFY prev_type IS NOT NULL
), allowed(prev_type, next_type) AS (
  VALUES ('signup','view'), ('signup','click'),
         ('view','view'), ('view','click'), ('view','purchase'),
         ('click','view'), ('click','click'), ('click','purchase'),
         ('purchase','view'), ('purchase','click'),
         ('error','view')
)
SELECT t.prev_type, t.next_type, CAST(COUNT(*) AS BIGINT) AS n
FROM trans t LEFT JOIN allowed a
  ON a.prev_type = t.prev_type AND a.next_type = t.next_type
WHERE a.prev_type IS NULL
GROUP BY t.prev_type, t.next_type
ORDER BY n DESC, t.prev_type ASC, t.next_type ASC
"""


def _q_session_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """G1×G2 — the funnel measured WITHIN 30-minute sessions: a session
    completes view→click→purchase only with the steps in order inside
    the session (operators/analytics.session_funnel); the honest
    conversion number vs the cross-history funnel's June-purchase-
    credits-January-view overstatement."""
    ev = load_table(spark, sf, "events")
    return analytics_session_funnel(
        ev, ["view", "click", "purchase"], tiebreak_cols=("event_id",)
    )


_O_SESSION_FUNNEL = """
WITH marked AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
    CASE WHEN LAG(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_type, us,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ss
  FROM marked
), s1 AS (
  SELECT user_id, ss, MIN(us) AS done FROM sess
  WHERE event_type = 'view' GROUP BY user_id, ss
), s2 AS (
  SELECT e.user_id, e.ss, MIN(e.us) AS done
  FROM sess e JOIN s1 ON s1.user_id = e.user_id AND s1.ss = e.ss
  WHERE e.event_type = 'click' AND e.us > s1.done GROUP BY e.user_id, e.ss
), s3 AS (
  SELECT e.user_id, e.ss, MIN(e.us) AS done
  FROM sess e JOIN s2 ON s2.user_id = e.user_id AND s2.ss = e.ss
  WHERE e.event_type = 'purchase' AND e.us > s2.done GROUP BY e.user_id, e.ss
)
SELECT 1 AS step, 'view' AS step_name, CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_sessions
UNION ALL
SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
UNION ALL
SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
"""


def _q_association_rules(spark: SparkSession, sf: str) -> DataFrame:
    """X12/commerce — association rules over the co-purchase pairs
    (support ≥ 2): confidence and lift per directed rule, e6-floored on
    integer operands (operators/analytics.association_rules; pair
    supports come from the family's persisted aggregate)."""
    li = load_table(spark, sf, "lineitem")
    return analytics_association_rules(
        li, "l_orderkey", "l_partkey",
        pairs=_ensure_copurchase_pairs(spark, sf),
    ).orderBy("antecedent", "consequent")


_O_ASSOCIATION_RULES = f"""
WITH {_PAIRS_SQL_MW.format(mw=2)},
baskets AS (
  SELECT l_orderkey AS b, COUNT(*) AS sz FROM capped GROUP BY l_orderkey HAVING COUNT(*) >= 2
), item_counts AS (
  SELECT c.l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS n_b
  FROM capped c JOIN baskets k ON k.b = c.l_orderkey
  GROUP BY c.l_partkey
), total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS B FROM baskets
)
SELECT e.src AS antecedent, e.dst AS consequent, e.w,
  CAST(FLOOR(e.w * 1000000.0 / na.n_b) AS BIGINT) AS conf_e6,
  CAST(FLOOR(CAST(e.w AS DOUBLE) * t.B * 1000000.0
             / (CAST(na.n_b AS DOUBLE) * nb.n_b)) AS BIGINT) AS lift_e6
FROM edges e
JOIN item_counts na ON na.item = e.src
JOIN item_counts nb ON nb.item = e.dst
CROSS JOIN total t
ORDER BY antecedent, consequent
"""


def _q_bpe_first_merge(spark: SparkSession, sf: str) -> DataFrame:
    """X4 tokenizer bootstrap — the first BPE merge decision: corpus-wide
    adjacent character-pair frequencies (Sennrich et al. 2016), top-20
    with lexicographic tie-break. Scan-side pair explosion + ONE
    pair-keyed count (operators/text.bpe_pair_counts)."""
    docs = load_table(spark, sf, "documents")
    return text.bpe_pair_counts(docs, top=20)


_O_BPE_FIRST_MERGE = r"""
WITH w AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents
), pairs AS (
  SELECT substr(w, i, 1) AS left_ch, substr(w, i + 1, 1) AS right_ch
  FROM w, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i)
  WHERE length(w) >= 2
), counted AS (
  SELECT left_ch, right_ch, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM pairs GROUP BY left_ch, right_ch
)
SELECT left_ch, right_ch, pair_count,
  CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, left_ch ASC, right_ch ASC) AS INT) AS rnk
FROM counted QUALIFY rnk <= 20
"""


def _q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """X4×X1 — per-document n-gram novelty: fraction of a doc's distinct
    3-grams first seen (min doc_id) in that doc. One gram-keyed MIN
    shuffle + one doc-keyed count; ratio floors to e6 before emit
    (operators/text.ngram_novelty)."""
    docs = load_table(spark, sf, "documents")
    return text.ngram_novelty(docs, n=3)


_O_NGRAM_NOVELTY = r"""
WITH toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> array_to_string(words[i:i+2], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
), grams AS (
  SELECT doc_id, unnest(shingles) AS g FROM sh
), first AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
), per_doc AS (
  SELECT gr.doc_id, COUNT(*) AS n_grams,
    SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM grams gr JOIN first f ON f.g = gr.g
  GROUP BY gr.doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  CAST(n_novel AS BIGINT) AS n_novel,
  CAST(FLOOR(n_novel * 1000000.0 / n_grams) AS BIGINT) AS novelty_e6
FROM per_doc
"""


def _q_winsorized_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """P/X9 robust stats — per-priority winsorized order revenue: values
    clamp to the group's exact discrete [p5, p95] before an e2-floored
    integer sum, so corrupt extremes can't drag the aggregate
    (operators/profiling.winsorize_summary). Bounds = percentile_disc,
    i.e. the value at rank ceil(p·n) — the oracle replays that rank
    arithmetic directly rather than trusting any quantile builtin."""
    orders = load_table(spark, sf, "orders")
    return profiling.winsorize_summary(
        orders, "o_totalprice", "o_orderpriority"
    ).orderBy("o_orderpriority")


_O_WINSORIZED_REVENUE = """
WITH ranked AS (
  SELECT o_orderpriority AS g, o_totalprice AS v,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), bounds AS (
  SELECT g,
    MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN v END) AS lo,
    MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN v END) AS hi,
    MAX(n) AS n
  FROM ranked GROUP BY g
)
SELECT r.g AS o_orderpriority,
  CAST(MAX(b.n) AS BIGINT) AS n_rows,
  CAST(SUM(CASE WHEN r.v < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_low,
  CAST(SUM(CASE WHEN r.v > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_high,
  CAST(SUM(CAST(FLOOR(LEAST(GREATEST(r.v, b.lo), b.hi) * 100.0) AS BIGINT)) AS BIGINT)
    AS winsorized_sum_e2
FROM ranked r JOIN bounds b ON b.g = r.g
GROUP BY r.g ORDER BY r.g
"""


def _q_sliding_counts(spark: SparkSession, sf: str) -> DataFrame:
    """G/streaming twin — 1-hour sliding windows at a 30-minute slide
    over events (each event lands in exactly 2 windows): the batch twin
    of a `window(ts, '1 hour', '30 minutes')` streaming aggregation,
    with epoch-aligned starts both engines derive by integer division."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start_us")
    )


_O_SLIDING_COUNTS = """
WITH assigned AS (
  SELECT user_id,
    ((epoch_us(ts) // 1800000000) * 1800000000 - offs) AS window_start_us
  FROM events, LATERAL unnest([CAST(0 AS BIGINT), CAST(1800000000 AS BIGINT)]) AS t(offs)
)
SELECT window_start_us, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM assigned GROUP BY window_start_us ORDER BY window_start_us
"""


def _q_fd_check(spark: SparkSession, sf: str) -> DataFrame:
    """P-family data-quality — functional-dependency audit (deequ shape):
    four hypothesized FDs checked in one output, two that hold (key →
    attribute) and two that don't (the violation counts are the signal).
    One pass PER SOURCE TABLE (operators/profiling.fd_violations_multi,
    r12 VERDICT #6): each table is scanned once and shuffles once on
    (fd, det) for all its FDs — 2 scans / ~5 shuffles total, down from
    the per-FD shape's 4 scans / 12."""
    orders = load_table(spark, sf, "orders")
    docs = load_table(spark, sf, "documents")
    out = profiling.fd_violations_multi(
        orders,
        [
            (["o_orderkey"], "o_orderdate", None),
            (["o_custkey"], "o_orderpriority", None),
        ],
    ).unionByName(
        profiling.fd_violations_multi(
            docs,
            [(["doc_id"], "lang", None), (["lang"], "source", None)],
        )
    )
    # column order matches the per-FD operator's summary row
    return out.select(
        "fd", "n_classes", "n_violating_classes", "max_dependents",
        "rows_in_violating",
    ).orderBy("fd")


_O_FD_CHECK = """
WITH fd AS (
  SELECT 'o_orderkey->o_orderdate' AS fd, o_orderkey AS det,
         CAST(o_orderdate AS VARCHAR) AS dep FROM orders
), c1 AS (
  SELECT fd, det, COUNT(DISTINCT dep) AS nd, COUNT(*) AS n FROM fd GROUP BY fd, det
), fd2 AS (
  SELECT 'o_custkey->o_orderpriority' AS fd, o_custkey AS det, o_orderpriority AS dep FROM orders
), c2 AS (
  SELECT fd, det, COUNT(DISTINCT dep) AS nd, COUNT(*) AS n FROM fd2 GROUP BY fd, det
), fd3 AS (
  SELECT 'doc_id->lang' AS fd, doc_id AS det, lang AS dep FROM documents
), c3 AS (
  SELECT fd, det, COUNT(DISTINCT dep) AS nd, COUNT(*) AS n FROM fd3 GROUP BY fd, det
), fd4 AS (
  SELECT 'lang->source' AS fd, lang AS det, source AS dep FROM documents
), c4 AS (
  SELECT fd, det, COUNT(DISTINCT dep) AS nd, COUNT(*) AS n FROM fd4 GROUP BY fd, det
), allc AS (
  SELECT fd, nd, n FROM c1 UNION ALL SELECT fd, nd, n FROM c2
  UNION ALL SELECT fd, CAST(nd AS BIGINT), n FROM c3
  UNION ALL SELECT fd, CAST(nd AS BIGINT), n FROM c4
)
SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_classes,
  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_classes,
  CAST(MAX(nd) AS BIGINT) AS max_dependents,
  CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) AS rows_in_violating
FROM allc GROUP BY fd ORDER BY fd
"""


def _q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """P-family CDC audit — snapshot diff of two deterministic order
    snapshots (old = orders before 1998-03-01; new = orders after
    1992-06-01 with urgent orders repriced +10%): added/removed/changed/
    unchanged counts keyed by o_orderkey. Only (key, digest) pairs
    shuffle into the one full-outer merge
    (operators/profiling.snapshot_diff); the oracle verifies the same
    counts by direct column comparison — the digest is an internal
    transport, not a cross-engine value."""
    orders = load_table(spark, sf, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("1998-03-01").cast("date"))
    new = orders.filter(
        F.col("o_orderdate") >= F.lit("1992-06-01").cast("date")
    ).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") * F.lit(1.1)
        ).otherwise(F.col("o_totalprice")),
    )
    return profiling.snapshot_diff(
        old, new, ["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )


_O_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate < DATE '1998-03-01'
), new AS (
  SELECT o_orderkey, o_orderstatus,
    CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.1
         ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderdate >= DATE '1992-06-01'
), merged AS (
  SELECT o.o_orderkey AS ko, n.o_orderkey AS kn,
    (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
     OR o.o_totalprice IS DISTINCT FROM n.o_totalprice) AS diff
  FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
)
SELECT
  CAST(SUM(CASE WHEN ko IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(SUM(CASE WHEN kn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(SUM(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL AND diff THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(SUM(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL AND NOT diff THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM merged
"""


def _q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """X4 — tokenizer-coverage audit (operators/text.vocab_coverage):
    top-20 corpus-frequency vocabulary (unique (count desc, word asc)
    order via global_rank's range exchange — never a single-partition
    window), broadcast back onto the token stream, per-source OOV rate as
    an exact floored e6 ratio. The oracle replays the vocabulary cut with
    the same ORDER BY ... LIMIT and the same integer division."""
    docs = load_table(spark, sf, "documents").select("source", "text")
    return text.vocab_coverage(docs, vocab_size=20)


_O_VOCAB_COVERAGE = """
WITH tok AS (
  SELECT source,
    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (SELECT w, COUNT(*) AS n FROM tok GROUP BY w)
  ORDER BY n DESC, w ASC LIMIT 20
)
SELECT t.source,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST((1000000 * SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS oov_rate_e6
FROM tok t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.source
"""


# --- r13: cross-run BandLedger + compaction proof (r12 VERDICT #5) ---------


def _ensure_band_ledger(spark: SparkSession, sf: str) -> str:
    """Build-once handle for a BandLedger that has LIVED the full
    retention lifecycle (sources/ledger.py): two history runs committed
    (doc_id % 3 == 1, then % 3 == 2), a REPLAYED commit of run 1 (the
    duplicate band rows a crashed-and-retried ingest leaves behind),
    then `compact()` — distinct (band, bkey, doc_id) rewrite behind the
    rename-aside swap. The layout the query reads is the COMPACTED one,
    so its green oracle row attests that compaction preserved history
    bit-exactly (16 hashes x 4 bands x 3-shingles, the X2 family
    parameters; all arithmetic md5/integer-deterministic)."""
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path
    from commerce_data_pipeline_spark.sources.ledger import BandLedger

    root = _cache_dir("band_ledger", sf)
    marker = join_path(root, "_LEDGER_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        docs = _scatter(docs)
        led = BandLedger(
            spark, join_path(root, "bands"), num_hashes=16, bands=4, shingle_n=3
        )
        led.commit(docs.filter(F.col("doc_id") % 3 == 1))
        led.commit(docs.filter(F.col("doc_id") % 3 == 2))
        # replayed run-1 commit: duplicate rows compaction must fold
        led.commit(docs.filter(F.col("doc_id") % 3 == 1))
        led.compact()
        fs.write_bytes(marker, b"ready\n")
    return join_path(root, "bands")


def _q_ledger_cross_run_dups(spark: SparkSession, sf: str) -> DataFrame:
    """X2/P cross-run dedup state — `BandLedger.match_history` of a new
    batch (doc_id % 3 == 0) against the COMPACTED two-run history: every
    (new_id, old_id) band collision. One equi-join on (band, bkey)
    against a digest-only parquet scan; the history is never
    re-minhashed (it stores no text), which is what makes incremental
    ingestion O(batch) at 100 TB. The replayed commit in the scenario
    means a ledger WITHOUT the distinct-folding compaction would still
    return these pairs only via the output distinct — the oracle instead
    pins the whole chain: shingle → minhash → band keys → cross-run
    collision, replayed declaratively over `documents`."""
    from commerce_data_pipeline_spark.sources.ledger import BandLedger

    path = _ensure_band_ledger(spark, sf)
    led = BandLedger(spark, path, num_hashes=16, bands=4, shingle_n=3)
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    batch = _scatter(docs.filter(F.col("doc_id") % 3 == 0))
    return led.match_history(batch).orderBy("new_id", "old_id")


def _ora_ledger_cross_run_dups(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    """DuckDB replay: band rows over ALL documents (same expressions as
    `_ora_lsh_ctes`, without the corpus doubling), then the cross-run
    collision join — batch side doc_id % 3 = 0, history side != 0."""
    r = num_hashes // bands
    comps = ",\n    ".join(
        f"list_min(list_transform(vs, v -> ({a} * v + {b}) % {dedup.MINHASH_PRIME})) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.minhash_coeffs(num_hashes))
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"mh_{b * r + i}" for i in range(r))
        + ")) AS bkey FROM sig"
        for b in range(bands)
    )
    return f"""WITH toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {n}
      THEN list_distinct(list_transform(generate_series(1, len(words) - {n} + 1),
             i -> array_to_string(words[i:i+{n}-1], ' ')))
      ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
), vals AS (
  SELECT doc_id,
    list_transform(shingles,
      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483648) AS vs
  FROM sh
), sig AS (
  SELECT doc_id, {comps} FROM vals
), band_rows AS (
{band_rows}
)
SELECT DISTINCT b.doc_id AS new_id, h.doc_id AS old_id
FROM band_rows b
JOIN band_rows h ON b.band = h.band AND b.bkey = h.bkey
WHERE b.doc_id % 3 = 0 AND h.doc_id % 3 <> 0
ORDER BY new_id, old_id
"""


# --- r16: FingerprintLedger cross-run lifecycle (exact-dedup twin of the
# BandLedger row above) ------------------------------------------------------


def _ensure_fp_ledger(spark: SparkSession, sf: str) -> str:
    """Build-once handle for a FingerprintLedger that has LIVED the full
    retention lifecycle (sources/ledger.py): two history runs ingested
    (doc_id % 3 == 1, then % 3 == 2 — the second filtered against the
    first, so only unseen content is committed), a REPLAYED raw commit
    of run 1's fingerprints (the duplicate digests a crashed-and-retried
    ingest leaves behind), then `compact()` — distinct digests rewritten
    in one file-set per prefix behind the rename-aside swap. The layout
    the query reads is the COMPACTED one, so its green oracle row
    attests that compaction preserved membership bit-exactly (the
    ledger's retention IS its identity — digests are never dropped).
    Marker-idempotent."""
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path
    from commerce_data_pipeline_spark.sources.ledger import FingerprintLedger

    root = _cache_dir("fp_ledger", sf)
    marker = join_path(root, "_LEDGER_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        docs = _scatter(docs)
        led = FingerprintLedger(spark, join_path(root, "fps"), prefix_chars=2)
        led.ingest(docs.filter(F.col("doc_id") % 3 == 1))
        led.ingest(docs.filter(F.col("doc_id") % 3 == 2))
        # replayed run-1 commit: duplicate digests compaction must fold
        led.commit(led.with_fingerprint(docs.filter(F.col("doc_id") % 3 == 1)))
        led.compact()
        fs.write_bytes(marker, b"ready\n")
    return join_path(root, "fps")


def _q_ledger_fp_new(spark: SparkSession, sf: str) -> DataFrame:
    """X1/P cross-run EXACT-dedup state — `FingerprintLedger.filter_new`
    of a new crawl batch against the COMPACTED two-run history. The
    batch is the production shape: genuinely new pages (doc_id % 3 ==
    0), RE-CRAWLS of already-admitted pages (every 10th run-1 doc,
    re-keyed +1e6 — same content, new crawl id; the history anti-join
    must suppress them), and intra-batch duplicate fetches (every 10th
    new page again at +2e6; the min-doc-id collapse must fold them).
    The history side is a digest-only parquet scan — no text is ever
    re-read or re-hashed, which is what makes incremental exact dedup
    O(batch) at 100 TB; the anti-join shuffles (digest, id) pairs only.
    The replayed commit in the scenario means a ledger WITHOUT the
    distinct-folding compaction would serve the same MEMBERSHIP answer
    — the oracle pins exactly that contract: fingerprint → intra-batch
    min-id collapse → history anti-join, replayed declaratively over
    `documents`."""
    from commerce_data_pipeline_spark.sources.ledger import FingerprintLedger

    path = _ensure_fp_ledger(spark, sf)
    led = FingerprintLedger(spark, path, prefix_chars=2)
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    new_pages = docs.filter(F.col("doc_id") % 3 == 0)
    recrawls = docs.filter(
        (F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 30 == 1)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    refetches = docs.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 30 == 0)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000))
    batch = _scatter(new_pages.unionByName(recrawls).unionByName(refetches))
    return led.filter_new(batch).select("doc_id", "fp").orderBy("doc_id")


_O_LEDGER_FP_NEW = """
WITH batch_rows AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
  WHERE doc_id % 3 = 1 AND doc_id % 30 = 1
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents
  WHERE doc_id % 3 = 0 AND doc_id % 30 = 0
), f AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM batch_rows
), batch AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM f GROUP BY fp
), hist AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT b.doc_id, b.fp
FROM batch b LEFT JOIN hist h USING (fp)
WHERE h.fp IS NULL
ORDER BY doc_id
"""
