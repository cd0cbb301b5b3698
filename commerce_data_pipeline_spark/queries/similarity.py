"""Training-data ops II: ANN (brute/IVF/LSH/PQ), persisted vector indexes, recall eval, canonical docs, k-anonymity.

Mechanical split of queries.py (r10, VERDICT r9 directive #4); statement
text is unchanged — see the package __init__ docstring for the determinism
contract every query follows.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from commerce_data_pipeline_spark.catalog import load_table, local_frame
from commerce_data_pipeline_spark.scatter import scatter as _scatter
from commerce_data_pipeline_spark.operators import (
    corpus,
    dedup,
    multimodal,
    profiling,
    similarity,
)
from commerce_data_pipeline_spark.queries._shared import _cache_dir
from commerce_data_pipeline_spark.queries.dedup_text import _ensure_lsh_pairs, _ora_lsh_ctes



def _q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """P-family privacy audit — k-anonymity (k=5) of customers over the
    quasi-identifier (nation, market segment, account-balance bucket):
    equivalence classes smaller than k are the re-identification
    worklist. One keyed count + filter (operators/profiling.k_anonymity);
    the balance bucket floors to 1000s so both engines bin identically."""
    cust = load_table(spark, sf, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    )
    return profiling.k_anonymity(
        cust, ["c_nationkey", "c_mktsegment", "bal_bucket"], k=5
    ).orderBy("c_nationkey", "c_mktsegment", "bal_bucket")


_O_K_ANONYMITY = """
SELECT c_nationkey, c_mktsegment,
  CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
  CAST(COUNT(*) AS BIGINT) AS class_size,
  CAST(5 - COUNT(*) AS BIGINT) AS deficit
FROM customer
GROUP BY c_nationkey, c_mktsegment, FLOOR(c_acctbal / 1000.0)
HAVING COUNT(*) < 5
ORDER BY c_nationkey, c_mktsegment, bal_bucket
"""


def _q_canonical_docs(spark: SparkSession, sf: str) -> DataFrame:
    """X2×X11 — canonical-record selection: the step after clustering
    that a production dedup actually ships. Clusters come from the same
    doubled-corpus LSH + connected-components chain as `dedup_clusters`;
    each cluster keeps its best-quality member (quality = n_chars here,
    ties → lowest doc_id — the shifted copy always loses to its
    original). One join + one component-keyed argmax aggregation on top
    of the cluster table (operators/dedup.canonical_records)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    doubled = docs.unionAll(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    clusters = dedup.connected_components_alternating(_ensure_lsh_pairs(spark, sf))
    return dedup.canonical_records(clusters, doubled, "doc_id", "n_chars").orderBy(
        "component"
    )


def _ora_canonical_docs(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    """`_ora_dedup_clusters`'s transitive closure extended with the
    argmax: per component, the member with (max n_chars, min doc_id)."""
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
), doubled_q AS (
  SELECT doc_id, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, n_chars FROM documents
), members AS (
  SELECT c.component, c.id, d.n_chars,
    ROW_NUMBER() OVER (PARTITION BY c.component
                       ORDER BY d.n_chars DESC, c.id ASC) AS rn
  FROM comp c JOIN doubled_q d ON d.doc_id = c.id
)
SELECT component,
  MAX(CASE WHEN rn = 1 THEN id END) AS canonical_id,
  MAX(CASE WHEN rn = 1 THEN n_chars END) AS canonical_quality,
  CAST(COUNT(*) AS BIGINT) AS n_members
FROM members GROUP BY component ORDER BY component
"""


def _q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """X3 scale path — IVF-routed ANN top-5 with √N-scaled centroids
    (auto_n_centroids: lists hold ~√N vectors, so per-query probe work
    grows as √N instead of N — the fix for the 8× stress super-linearity,
    where fixed 16 centroids blew candidates up 129×). Fully
    deterministic → oracle-checkable, unlike LSH whose xxhash64 buckets
    have no DuckDB equivalent; the oracle replays the same power-of-two
    rule in integer SQL.

    The centroid/assignment frames come from the build-once shared index
    (`_ensure_ivf_index`) — the whole IVF family reads ONE materialized
    assignment instead of each query re-counting + re-assigning the
    corpus (bit-identical by the float64-parquet roundtrip, pinned in
    tests/test_similarity.py; the inline build stays exercised there and
    by ann_recall/semantic_dedup, which construct their own layouts)."""
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    path = _ensure_ivf_index(spark, sf)
    inverted = spark.read.parquet(join_path(path, "inverted"))
    centroids = spark.read.parquet(join_path(path, "centroids"))
    emb = load_table(spark, sf, "embeddings")
    # bounded query workload (the hard_negatives anchor contract): the
    # query set is a fixed input, not a slice that grows with the corpus
    # — covers every sf0.01 vector, so the oracle hash is unchanged
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    out = similarity.ivf_topk(
        emb, queries, k=5, n_probe=4, centroids=centroids, inverted=inverted
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank"
    )


def _ensure_ivf_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the persisted √N IVF index of the embeddings
    table at this sf. Every query that needs the (vec_id → centroid_id)
    assignment or the inverted lists goes through here instead of
    re-counting + re-sampling centroids per call — at 100 TB the index is
    built once and probed millions of times (operators/index.py)."""
    import os

    from commerce_data_pipeline_spark.operators import index as ivf_index

    # cache dir versioned by layout rule: "ivf_sqrt" = √N auto centroids
    # (a stale fixed-16 index under the old "ivf" dir must not serve this)
    path = _cache_dir("ivf_sqrt", sf)
    if not ivf_index.index_exists(spark, path):
        ivf_index.build_ivf_index(load_table(spark, sf, "embeddings"), path)
    return path


def _ensure_pq_index(spark: SparkSession, sf: str) -> tuple:
    """Build-once handle for the PQ layout (m=4, ksub=16, dim=64) of the
    embeddings table at this sf: persisted codebooks + encoded codes.
    Encoding is the expensive half of every PQ query (corpus × codebook
    argmin); at 100 TB codes are written once next to the corpus and
    every ADC query reads them — this mirrors that, so the PQ family
    stops re-encoding per call. float64 sub_vecs and int codes roundtrip
    parquet exactly → ADC sims bit-identical to the inline build."""
    import os

    from commerce_data_pipeline_spark.operators import similarity as _sim
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    path = _cache_dir("pq_m4k16", sf)
    fs = HadoopFS(spark, path)
    if not fs.exists(join_path(path, "encoded", "_SUCCESS")):
        emb = load_table(spark, sf, "embeddings")
        u = _sim.with_unit_vector(emb, "embedding", "unit")
        cb = _sim.pq_codebooks(u, m=4, ksub=16, dim=64)
        cb.write.mode("overwrite").parquet(join_path(path, "codebooks"))
        cb_r = spark.read.parquet(join_path(path, "codebooks"))
        _sim.pq_encode(u, cb_r, m=4, dim=64).write.mode("overwrite").parquet(
            join_path(path, "encoded")
        )
    return (
        spark.read.parquet(join_path(path, "codebooks")),
        spark.read.parquet(join_path(path, "encoded")),
    )


def _q_ann_ivf_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """X3 production shape — the SAME IVF search served from a PERSISTED
    index (parquet inverted file partitioned by centroid_id + centroid
    table): built once per sf under .cache/, reused by every later call.
    Bit-identical to `ann_ivf` by construction (same helpers), so it
    shares its oracle. Probes prune to the probed centroids' partitions."""
    from commerce_data_pipeline_spark.operators import index as ivf_index

    path = _ensure_ivf_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    out = ivf_index.ivf_query(spark, path, queries, k=5, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank"
    )


def _ensure_upsert_ivf_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the UPSERT/DELETE lifecycle index (VERDICT
    r11 #5): a deterministic mutation scenario over the embeddings table
    exercising every maintenance path of operators/index.py —

      1. BUILD at gen 0 over the INITIAL corpus (vec_id % 17 != 3);
      2. UPSERT (tombstone@0 + append@1): the held-out slice
         (vec_id % 17 == 3, new inserts) plus REPLACEMENTS for
         vec_id % 13 == 5 of the initial corpus, whose vectors are
         deterministically modified (array reversed — engine-exact in
         SQL via list_reverse);
      3. COMPACT — folds the upsert tombstones, partition-level rewrite;
      4. DELETE vec_id % 19 == 7 — tombstones that stay LIVE, so the
         query exercises the broadcast tombstone filter on top of the
         compacted layout.

    A _UPSERT_READY marker makes the scenario idempotent (the bench runs
    every query twice; replaying step 2 would double-tombstone and bump
    generations). A partial build is wiped and redone."""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    root = _cache_dir("ivf_upsert", sf)
    marker = join_path(root, "_UPSERT_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        emb = load_table(spark, sf, "embeddings")
        initial = emb.filter(F.col("vec_id") % 17 != 3)
        ivf_index.build_ivf_index(initial, root)
        new_rows = emb.filter(F.col("vec_id") % 17 == 3)
        repl = emb.filter(
            (F.col("vec_id") % 13 == 5) & (F.col("vec_id") % 17 != 3)
        ).withColumn("embedding", F.reverse("embedding"))
        ivf_index.upsert_into_ivf_index(new_rows.unionByName(repl), root)
        ivf_index.compact_ivf_index(spark, root)
        ivf_index.delete_from_ivf_index(
            emb.filter(F.col("vec_id") % 19 == 7).select("vec_id"), root
        )
        fs.write_bytes(marker, b"ready\n")
    return root


def _q_ann_ivf_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """X3 index maintenance — IVF search over a persisted index that has
    LIVED: build → upsert (inserts + vector replacements) → compaction →
    tombstone deletes (operators/index.py). The oracle replays the final
    visible state declaratively (current vector per id, deletions
    filtered, centroids frozen at the initial build), so a hash match
    attests the whole mutation lifecycle: generation visibility
    (replaced rows survive the tombstones that killed their old
    versions), partition-level compaction (bit-identical results), and
    the live broadcast tombstone filter."""
    from commerce_data_pipeline_spark.operators import index as ivf_index

    path = _ensure_upsert_ivf_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    out = ivf_index.ivf_query(spark, path, queries, k=5, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank"
    )


_O_ANN_IVF_UPSERT = """
WITH par AS (
  SELECT n, nc, GREATEST(n // nc, 1) AS step
  FROM (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id % 17 <> 3) t,
       LATERAL (
         SELECT MIN(CAST(1 AS BIGINT) << k) AS nc
         FROM unnest(generate_series(4, 31)) AS tk(k)
         WHERE ((CAST(1 AS BIGINT) << k) * (CAST(1 AS BIGINT) << k)) >= t.n
       ) l
), cent AS (
  -- centroids frozen at the INITIAL build: sampled from the pre-upsert
  -- corpus with ORIGINAL vectors
  SELECT CAST(vec_id // step AS INT) AS centroid_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS c_vec
  FROM embeddings, par
  WHERE vec_id % 17 <> 3 AND vec_id % step = 0 AND vec_id < step * nc
), vis AS (
  -- final visible corpus: deletes filtered, replaced ids carry the
  -- reversed vector (the upsert payload), everything else original
  SELECT vec_id,
    CASE WHEN vec_id % 13 = 5 AND vec_id % 17 <> 3
         THEN list_reverse(embedding) ELSE embedding END AS emb
  FROM embeddings WHERE vec_id % 19 <> 7
), unit AS (
  SELECT vec_id, list_transform(emb, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(emb, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM vis
), assign AS (
  SELECT v.vec_id AS neighbor_id, cent.centroid_id, v.u AS c_unit,
    ROW_NUMBER() OVER (PARTITION BY v.vec_id
      ORDER BY list_dot_product(v.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit v CROSS JOIN cent
), inv AS (
  SELECT neighbor_id, centroid_id, c_unit FROM assign WHERE r = 1
), qunit AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 2500
), probes AS (
  SELECT q.vec_id AS query_id, cent.centroid_id, q.u AS q_unit,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      ORDER BY list_dot_product(q.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM qunit q CROSS JOIN cent
), pr AS (
  SELECT query_id, centroid_id, q_unit FROM probes WHERE r <= 4
), sims AS (
  SELECT query_id, neighbor_id, list_dot_product(q_unit, c_unit) AS sim
  FROM inv JOIN pr USING (centroid_id)
  WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
FROM sims QUALIFY rank <= 5
"""


def _ensure_split_ivf_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the LIST-SPLIT lifecycle index: build over
    the full embeddings table, then ONE `rebalance_ivf_index` pass with
    max_list_size = 1.3× the expected list size ((13·step) div 10 — the
    engine-exact skew threshold) and n_splits=2, so the lists the
    deterministic assignment skews past 1.3× are split with locally
    re-sampled centroids. Marker-idempotent (the bench runs every query
    twice; a second rebalance would split further)."""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.operators.similarity import auto_n_centroids
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    root = _cache_dir("ivf_split", sf)
    marker = join_path(root, "_SPLIT_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        emb = load_table(spark, sf, "embeddings")
        total = emb.count()
        nc = auto_n_centroids(total)
        step = max(1, total // nc)
        ivf_index.build_ivf_index(emb, root, corpus_count=total)
        ivf_index.rebalance_ivf_index(
            spark, root, max_list_size=(13 * step) // 10, n_splits=2
        )
        fs.write_bytes(marker, b"ready\n")
    return root


def _q_ann_ivf_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """X3 index maintenance, SPLIT lifecycle — IVF search over a
    persisted index whose oversized lists (>1.3× expected size) were
    split with locally re-sampled centroids
    (operators/index.rebalance_ivf_index): the drift REMEDIATION to
    `ivf_assignment_profile`'s signal. The oracle replays the split
    declaratively — initial build, size census, id-stride seed
    selection inside each oversized list, local argmax reassignment,
    then the probe over the refined centroid table — so a hash match
    attests the whole remediation path. (Built in r12; enters the
    driver window in r13 per the never-attested-in-window protocol.)"""
    from commerce_data_pipeline_spark.operators import index as ivf_index

    path = _ensure_split_ivf_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    out = ivf_index.ivf_query(spark, path, queries, k=5, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank"
    )


def _ora_ann_ivf_rebalance(n_splits: int = 2) -> str:
    """SQL replay of build → split → probe. Seed positions inside each
    oversized list: 1 + (j·sz) div n_splits, members id-sorted; new ids
    maxid + 1 + i·n_splits + j in (oversized-id, seed-position) order;
    reassignment = argmax dot among the list's OWN seeds (ties → smaller
    new id). Mirrors operators/index.rebalance_ivf_index exactly."""
    seed_pos = ", ".join(f"1 + ({j} * sz) // {n_splits}" for j in range(n_splits))
    return f"""
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), par AS (
  SELECT n, nc, GREATEST(n // nc, 1) AS step
  FROM (SELECT COUNT(*) AS n FROM embeddings) t,
       LATERAL (
         SELECT MIN(CAST(1 AS BIGINT) << k) AS nc
         FROM unnest(generate_series(4, 31)) AS tk(k)
         WHERE ((CAST(1 AS BIGINT) << k) * (CAST(1 AS BIGINT) << k)) >= t.n
       ) l
), cent0 AS (
  SELECT CAST(vec_id // step AS INT) AS centroid_id, u AS c_vec
  FROM unit, par WHERE vec_id % step = 0 AND vec_id < step * nc
), assign AS (
  SELECT c.vec_id AS neighbor_id, cent0.centroid_id, c.u AS c_unit,
    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      ORDER BY list_dot_product(c.u, cent0.c_vec) DESC, cent0.centroid_id) AS r
  FROM unit c CROSS JOIN cent0
), inv AS (
  SELECT neighbor_id, centroid_id, c_unit FROM assign WHERE r = 1
), big AS (
  SELECT centroid_id, ROW_NUMBER() OVER (ORDER BY centroid_id) - 1 AS i
  FROM (SELECT centroid_id, COUNT(*) AS c FROM inv GROUP BY centroid_id), par
  WHERE c > (13 * step) // 10
), maxid AS (SELECT MAX(centroid_id) AS m FROM cent0
), mem AS (
  SELECT inv.neighbor_id, inv.centroid_id, inv.c_unit, big.i,
    ROW_NUMBER() OVER (PARTITION BY inv.centroid_id ORDER BY inv.neighbor_id) AS pos,
    COUNT(*) OVER (PARTITION BY inv.centroid_id) AS sz
  FROM inv JOIN big USING (centroid_id)
), seeds AS (
  SELECT centroid_id AS old_id, i,
    ROW_NUMBER() OVER (PARTITION BY centroid_id ORDER BY pos) - 1 AS j,
    c_unit AS c_vec
  FROM mem WHERE pos IN ({seed_pos})
), news AS (
  SELECT CAST(m + 1 + i * {n_splits} + j AS INT) AS centroid_id, c_vec, old_id
  FROM seeds, maxid
), reas AS (
  SELECT neighbor_id, centroid_id, c_unit FROM (
    SELECT m.neighbor_id, n.centroid_id, m.c_unit,
      ROW_NUMBER() OVER (PARTITION BY m.neighbor_id
        ORDER BY list_dot_product(m.c_unit, n.c_vec) DESC, n.centroid_id) AS rr
    FROM mem m JOIN news n ON n.old_id = m.centroid_id) WHERE rr = 1
), inv2 AS (
  SELECT neighbor_id, centroid_id, c_unit FROM inv
  WHERE centroid_id NOT IN (SELECT centroid_id FROM big)
  UNION ALL
  SELECT neighbor_id, centroid_id, c_unit FROM reas
), cent2 AS (
  SELECT centroid_id, c_vec FROM cent0
  WHERE centroid_id NOT IN (SELECT centroid_id FROM big)
  UNION ALL
  SELECT centroid_id, c_vec FROM news
), probes AS (
  SELECT q.vec_id AS query_id, cent2.centroid_id, q.u AS q_unit,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      ORDER BY list_dot_product(q.u, cent2.c_vec) DESC, cent2.centroid_id) AS r
  FROM unit q CROSS JOIN cent2 WHERE q.vec_id % 20 = 0 AND q.vec_id < 2500
), pr AS (
  SELECT query_id, centroid_id, q_unit FROM probes WHERE r <= 4
), sims AS (
  SELECT query_id, neighbor_id, list_dot_product(q_unit, c_unit) AS sim
  FROM inv2 JOIN pr USING (centroid_id)
  WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
FROM sims QUALIFY rank <= 5
"""


_O_ANN_IVF = """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), par AS (
  -- √N centroid rule (similarity.auto_n_centroids): smallest power of two
  -- nc >= 16 with nc² >= n — integer-exact in every engine
  SELECT n, nc, GREATEST(n // nc, 1) AS step
  FROM (SELECT COUNT(*) AS n FROM embeddings) t,
       LATERAL (
         SELECT MIN(CAST(1 AS BIGINT) << k) AS nc
         FROM unnest(generate_series(4, 31)) AS tk(k)
         WHERE ((CAST(1 AS BIGINT) << k) * (CAST(1 AS BIGINT) << k)) >= t.n
       ) l
), cent AS (
  SELECT CAST(vec_id // step AS INT) AS centroid_id, u AS c_vec
  FROM unit, par WHERE vec_id % step = 0 AND vec_id < step * nc
), assign AS (
  SELECT c.vec_id AS neighbor_id, cent.centroid_id, c.u AS c_unit,
    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      ORDER BY list_dot_product(c.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit c CROSS JOIN cent
), inv AS (
  SELECT neighbor_id, centroid_id, c_unit FROM assign WHERE r = 1
), probes AS (
  SELECT q.vec_id AS query_id, cent.centroid_id, q.u AS q_unit,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      ORDER BY list_dot_product(q.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit q CROSS JOIN cent WHERE q.vec_id % 20 = 0 AND q.vec_id < 2500
), pr AS (
  SELECT query_id, centroid_id, q_unit FROM probes WHERE r <= 4
), sims AS (
  SELECT query_id, neighbor_id, list_dot_product(q_unit, c_unit) AS sim
  FROM inv JOIN pr USING (centroid_id)
  WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
FROM sims QUALIFY rank <= 5
"""


def _q_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """X3 — measured recall@5 of the IVF ANN path against exact brute
    force, per query: the 'measure, don't guess' harness for ANN quality
    as a first-class query. Integer overlap counts and an exact integer
    division — the oracle composes the ann_ivf and similarity_topk CTEs
    and lands on identical values."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    exact = similarity.brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = (
        similarity.ivf_topk(emb, queries, k=5, n_probe=4)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(ivf, on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"))
        .select(
            "query_id",
            F.lit(5).cast("long").alias("k"),
            F.col("n_overlap").cast("long").alias("n_overlap"),
            F.expr("(n_overlap * 1000000) div 5").cast("long").alias("recall_e6"),
        )
    )


_O_ANN_RECALL = """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), par AS (
  -- √N centroid rule (similarity.auto_n_centroids): smallest power of two
  -- nc >= 16 with nc² >= n — integer-exact in every engine
  SELECT n, nc, GREATEST(n // nc, 1) AS step
  FROM (SELECT COUNT(*) AS n FROM embeddings) t,
       LATERAL (
         SELECT MIN(CAST(1 AS BIGINT) << k) AS nc
         FROM unnest(generate_series(4, 31)) AS tk(k)
         WHERE ((CAST(1 AS BIGINT) << k) * (CAST(1 AS BIGINT) << k)) >= t.n
       ) l
), cent AS (
  SELECT CAST(vec_id // step AS INT) AS centroid_id, u AS c_vec
  FROM unit, par WHERE vec_id % step = 0 AND vec_id < step * nc
), assign AS (
  SELECT c.vec_id AS neighbor_id, cent.centroid_id, c.u AS c_unit,
    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      ORDER BY list_dot_product(c.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit c CROSS JOIN cent
), inv AS (
  SELECT neighbor_id, centroid_id, c_unit FROM assign WHERE r = 1
), probes AS (
  SELECT q.vec_id AS query_id, cent.centroid_id, q.u AS q_unit,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      ORDER BY list_dot_product(q.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit q CROSS JOIN cent WHERE q.vec_id % 20 = 0
), pr AS (
  SELECT query_id, centroid_id, q_unit FROM probes WHERE r <= 4
), ivf_sims AS (
  SELECT query_id, neighbor_id, list_dot_product(q_unit, c_unit) AS sim
  FROM inv JOIN pr USING (centroid_id)
  WHERE neighbor_id <> query_id
), ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM ivf_sims
  ) WHERE rank <= 5
), exact_sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_dot_product(q.u, c.u) AS sim
  FROM unit q JOIN unit c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % 20 = 0
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM exact_sims
  ) WHERE rank <= 5
)
SELECT e.query_id,
  CAST(5 AS BIGINT) AS k,
  CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_overlap,
  CAST((COUNT(i.neighbor_id) * 1000000) // 5 AS BIGINT) AS recall_e6
FROM exact e LEFT JOIN ivf i
  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


def _q_ivf_profile(spark: SparkSession, sf: str) -> DataFrame:
    """X3 — IVF index health: per-centroid list size + assignment-cosine
    profile (the rebuild-cadence / drift signal for a persisted ANN
    index). Per-vector sims floor to integers before the centroid-level
    aggregation, so the oracle reproduces the means exactly. Reads the
    family's build-once shared index (`_ensure_ivf_index`) — profiling a
    persisted index is exactly this operator's production shape."""
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    path = _ensure_ivf_index(spark, sf)
    inverted = spark.read.parquet(join_path(path, "inverted"))
    centroids = spark.read.parquet(join_path(path, "centroids"))
    emb = load_table(spark, sf, "embeddings")
    return similarity.ivf_assignment_profile(
        emb, centroids=centroids, inverted=inverted
    )


_O_IVF_PROFILE = """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), par AS (
  -- √N centroid rule (similarity.auto_n_centroids): smallest power of two
  -- nc >= 16 with nc² >= n — integer-exact in every engine
  SELECT n, nc, GREATEST(n // nc, 1) AS step
  FROM (SELECT COUNT(*) AS n FROM embeddings) t,
       LATERAL (
         SELECT MIN(CAST(1 AS BIGINT) << k) AS nc
         FROM unnest(generate_series(4, 31)) AS tk(k)
         WHERE ((CAST(1 AS BIGINT) << k) * (CAST(1 AS BIGINT) << k)) >= t.n
       ) l
), cent AS (
  SELECT CAST(vec_id // step AS INT) AS centroid_id, u AS c_vec
  FROM unit, par WHERE vec_id % step = 0 AND vec_id < step * nc
), assign AS (
  SELECT c.vec_id, cent.centroid_id,
    list_dot_product(c.u, cent.c_vec) AS s,
    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      ORDER BY list_dot_product(c.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit c CROSS JOIN cent
), best AS (
  SELECT vec_id, centroid_id,
    CAST(FLOOR(s * 1000000) AS BIGINT) AS sim_e6
  FROM assign WHERE r = 1
)
SELECT centroid_id,
  CAST(COUNT(*) AS BIGINT) AS list_size,
  CAST(FLOOR(CAST(SUM(sim_e6) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_sim_e6,
  CAST(MIN(sim_e6) AS BIGINT) AS min_sim_e6,
  CAST(MAX(sim_e6) AS BIGINT) AS max_sim_e6
FROM best GROUP BY centroid_id
"""


def _q_ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    """X3 — product-quantization ANN with ADC scoring (4 subspaces × 16
    codes over 64 dims): corpus stored as 4 codes/vector, queries exact,
    sims from a broadcast lookup table. Deterministic sampled codebooks +
    fixed-order partial-sim folds → full value-hash oracle. Codebooks +
    codes come from the build-once persisted PQ layout
    (`_ensure_pq_index`) — the production shape: encode once, ADC-query
    many times (inline encode stays pinned in tests/test_similarity.py)."""
    cb, enc = _ensure_pq_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    out = similarity.pq_topk(
        emb, queries, k=5, m=4, ksub=16, dim=64, codebooks=cb, encoded=enc
    )
    return out.select(
        "query_id", "neighbor_id", F.round("pq_sim", 4).alias("pq_sim"), "rank"
    )


_O_ANN_PQ = """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), par AS (
  SELECT GREATEST(COUNT(*) // 16, 1) AS step FROM embeddings
), samp AS (
  SELECT CAST(vec_id // step AS INT) AS code, u
  FROM unit, par WHERE vec_id % step = 0 AND vec_id < step * 16
), subspaces AS (
  SELECT unnest(generate_series(0, 3)) AS s
), cb AS (
  SELECT s, code, samp.u[s*16+1 : s*16+16] AS sub_vec FROM samp, subspaces
), enc0 AS (
  SELECT c.vec_id, cb.s, cb.code,
    list_sum(list_transform(generate_series(1, 16),
      i -> (c.u[cb.s*16+i] - cb.sub_vec[i]) * (c.u[cb.s*16+i] - cb.sub_vec[i]))) AS dist
  FROM unit c CROSS JOIN cb
), enc AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, code ASC) AS rn
    FROM enc0
  ) WHERE rn = 1
), lut AS (
  SELECT q.vec_id AS query_id, cb.s, cb.code,
    list_sum(list_transform(generate_series(1, 16),
      i -> q.u[cb.s*16+i] * cb.sub_vec[i])) AS psim
  FROM unit q CROSS JOIN cb WHERE q.vec_id % 20 = 0
), sims AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
    list_sum(list(l.psim ORDER BY l.s)) AS pq_sim
  FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
)
SELECT query_id, neighbor_id, ROUND(pq_sim, 4) AS pq_sim,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pq_sim DESC, neighbor_id ASC) AS INT) AS rank
FROM sims QUALIFY rank <= 5
"""


def _q_cluster_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus×X3 — cluster-balanced sampling: assign every embedding to
    its nearest deterministic centroid (the IVF inverted-file assignment)
    then take exactly 8 per cluster via bottom-k-of-hash — semantic
    rebalancing of a training corpus (uniform coverage across embedding
    clusters instead of raw frequency). Pure composition of existing
    operators: ivf_invert ∘ fixed_size_sample; cluster count follows the
    √N rule (auto_n_centroids), same as the ANN family.

    The nearest-centroid assignment is served from the persisted IVF
    index (`_ensure_ivf_index`): the inverted file IS the
    (vec_id, centroid_id) table, already materialized, partitioned by
    centroid_id — no per-call corpus count(), no centroid rebuild, no
    assignment GEMM. Bit-identical to the inline build by construction
    (the index is built with the same √N helpers), so the oracle is
    unchanged."""
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    path = _ensure_ivf_index(spark, sf)
    assigned = spark.read.parquet(join_path(path, "inverted")).select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("centroid_id").cast("int").alias("centroid_id"),
    )
    sample = corpus.fixed_size_sample(
        assigned, k=8, stratum_col="centroid_id", id_col="vec_id"
    )
    return sample.select("centroid_id", "vec_id")


_O_CLUSTER_SAMPLE = """
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), par AS (
  -- √N centroid rule (similarity.auto_n_centroids): smallest power of two
  -- nc >= 16 with nc² >= n — integer-exact in every engine
  SELECT n, nc, GREATEST(n // nc, 1) AS step
  FROM (SELECT COUNT(*) AS n FROM embeddings) t,
       LATERAL (
         SELECT MIN(CAST(1 AS BIGINT) << k) AS nc
         FROM unnest(generate_series(4, 31)) AS tk(k)
         WHERE ((CAST(1 AS BIGINT) << k) * (CAST(1 AS BIGINT) << k)) >= t.n
       ) l
), cent AS (
  SELECT CAST(vec_id // step AS INT) AS centroid_id, u AS c_vec
  FROM unit, par WHERE vec_id % step = 0 AND vec_id < step * nc
), assign AS (
  SELECT c.vec_id, cent.centroid_id,
    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      ORDER BY list_dot_product(c.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit c CROSS JOIN cent
), best AS (
  SELECT vec_id, centroid_id FROM assign WHERE r = 1
), s AS (
  SELECT centroid_id, vec_id,
    ROW_NUMBER() OVER (PARTITION BY centroid_id
      ORDER BY (CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1073741824) ASC, vec_id ASC) AS rn
  FROM best
)
SELECT centroid_id, vec_id FROM s WHERE rn <= 8
"""


def _q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """X3 scale path — random-hyperplane LSH ANN (8 planes × 4 tables),
    Gaussian plane family (seeded PCG64). Promoted (r6, VERDICT r5 #5)
    from rows-only to a full value-hash oracle: the planes are
    deterministic CONSTANTS, so `_ora_ann_lsh` regenerates the identical
    matrix at oracle-construction time and inlines every float as a
    DOUBLE literal — DuckDB then reproduces each bucket bit (sign of a
    dot against the same float64 constants) and every cosine (same
    fold on identical unit vectors), the `ann_lsh_md5` technique with
    full-precision literals instead of ±1. Recall-vs-brute-force stays
    pinned in tests/test_similarity.py."""
    emb = load_table(spark, sf, "embeddings")
    # single small parquet file → 1 input split; scatter before the
    # CPU-bound Python bucketing stage (real inputs bring their own splits)
    emb = _scatter(emb)
    out = similarity.rp_lsh_self_topk(
        emb, lambda vid: vid % 20 == 0, k=5, dim=64, n_planes=8, n_tables=4
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank"
    )


_ANN_LSH_MD5_PLANES = 8
_ANN_LSH_MD5_TABLES = 2


def _q_ann_lsh_md5(spark: SparkSession, sf: str) -> DataFrame:
    """X3 — RP-LSH ANN with md5-derived Rademacher planes: the
    oracle-checked twin of `ann_lsh` (same bucket/join/score plan; the
    plane matrix is ±1 constants both engines derive from md5 — the
    `simhash`→`simhash_md5` trick applied to LSH). Same GEMM execution as
    the fast path — only the plane family differs."""
    emb = load_table(spark, sf, "embeddings")
    emb = _scatter(emb)
    planes = similarity.md5_rademacher_planes(64, _ANN_LSH_MD5_PLANES, _ANN_LSH_MD5_TABLES)
    out = similarity.rp_lsh_self_topk(
        emb,
        lambda vid: vid % 20 == 0,
        k=5,
        dim=64,
        n_planes=_ANN_LSH_MD5_PLANES,
        n_tables=_ANN_LSH_MD5_TABLES,
        planes=planes,
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine_sim", 4).alias("cosine_sim"), "rank"
    )


def _ora_ann_lsh_md5(dim: int = 64, n_planes: int = _ANN_LSH_MD5_PLANES,
                     n_tables: int = _ANN_LSH_MD5_TABLES) -> str:
    """Oracle for `ann_lsh_md5`: the SAME md5-derived ±1 plane constants
    are inlined as list literals, so DuckDB reproduces every bucket bit;
    candidates = pairs agreeing on any table's full sign pattern."""
    from commerce_data_pipeline_spark.operators.similarity import md5_rademacher_planes

    planes = md5_rademacher_planes(dim, n_planes, n_tables)

    def lit(col: list[float]) -> str:
        return "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in col) + "]"

    buckets = []
    for t in range(n_tables):
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(u, {lit(planes[t * n_planes + p])}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        buckets.append(f"({terms}) AS b{t}")
    bucket_match = " OR ".join(f"q.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), b AS (
  SELECT vec_id, u, {", ".join(buckets)} FROM unit
), cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_dot_product(q.u, c.u) AS sim
  FROM b q JOIN b c ON c.vec_id <> q.vec_id AND ({bucket_match})
  WHERE q.vec_id % 20 = 0
)
SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
FROM cand QUALIFY rank <= 5
"""


def _ora_ann_lsh(dim: int = 64, n_planes: int = 8, n_tables: int = 4,
                 seed0: int = 1000) -> str:
    """Oracle for `ann_lsh`: regenerate the seeded PCG64 Gaussian plane
    matrix (the same one `_bucketize_np` builds per task) and inline each
    plane as full-precision DOUBLE literals; bucket bits and cosines then
    replay exactly in DuckDB (see `_ora_ann_lsh_md5` for the technique —
    only the plane family differs)."""
    import numpy as np

    tables = [
        np.random.default_rng(seed0 + t).standard_normal((dim, n_planes))
        for t in range(n_tables)
    ]

    def lit(col) -> str:
        return "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in col) + "]"

    buckets = []
    for t in range(n_tables):
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(u, {lit(tables[t][:, p])}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        buckets.append(f"({terms}) AS b{t}")
    bucket_match = " OR ".join(f"q.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
WITH unit AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), b AS (
  SELECT vec_id, u, {", ".join(buckets)} FROM unit
), cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_dot_product(q.u, c.u) AS sim
  FROM b q JOIN b c ON c.vec_id <> q.vec_id AND ({bucket_match})
  WHERE q.vec_id % 20 = 0
)
SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine_sim,
  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
FROM cand QUALIFY rank <= 5
"""


def _q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """X5 — media table (binary payload + typed metadata) synthesized from
    the documents corpus; metadata/digest projection only — the payload
    column prunes out of the scan for this shape."""
    docs = load_table(spark, sf, "documents")
    return multimodal.media_metadata(multimodal.synthesize_media(docs))


_O_MULTIMODAL_META = """
SELECT doc_id AS media_id,
  (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS media_type,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  md5(text) AS payload_md5,
  CAST(64 + (doc_id % 16) * 8 AS INT) AS width,
  CAST(64 + (doc_id % 9) * 8 AS INT) AS height,
  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 40 + 8 ELSE 1 END AS INT) AS n_frames,
  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 40 + 8 ELSE 1 END * 40 AS BIGINT) AS duration_ms
FROM documents
"""


def _q_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """X5 — video frame sampling (stride 4): one row per sampled frame with
    its byte-slice length (the slice itself is binary; the arithmetic length
    is the oracle-comparable witness that slicing is correct)."""
    docs = load_table(spark, sf, "documents")
    media = multimodal.synthesize_media(docs)
    frames = multimodal.sample_frames(media, stride=4)
    return frames.select(
        "media_id", "frame_index", F.octet_length("frame_bytes").cast("long").alias("frame_len")
    )


_O_FRAME_SAMPLE = """
WITH vids AS (
  SELECT doc_id AS media_id,
    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
    (doc_id % 40 + 8) AS n_frames
  FROM documents WHERE doc_id % 3 = 2
), fr AS (
  SELECT media_id, byte_len, n_frames,
    GREATEST(byte_len // n_frames, 1) AS fb,
    unnest(generate_series(0, n_frames - 1, 4)) AS frame_index
  FROM vids
)
SELECT media_id, CAST(frame_index AS INT) AS frame_index,
  CAST(LEAST(fb, GREATEST(byte_len - frame_index * fb, 0)) AS BIGINT) AS frame_len
FROM fr
"""


def _q_audio_windows(spark: SparkSession, sf: str) -> DataFrame:
    """X5 — overlapping audio windows (64-byte window, 32-byte hop over
    the synthetic payloads); arithmetic window lengths are the
    oracle-comparable witness of correct slicing."""
    docs = load_table(spark, sf, "documents")
    media = multimodal.synthesize_media(docs)
    w = multimodal.audio_windows(media, window_bytes=64, hop_bytes=32)
    return w.select("media_id", "window_index", "start_byte", "window_len")


_O_AUDIO_WINDOWS = """
WITH auds AS (
  SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS blen
  FROM documents WHERE doc_id % 3 = 1
), wins AS (
  SELECT media_id, blen,
    GREATEST(CAST(FLOOR((blen - 64) / 32.0) AS INT) + 1, 1) AS n_windows
  FROM auds
)
SELECT media_id,
  CAST(i AS INT) AS window_index,
  CAST(i * 32 AS BIGINT) AS start_byte,
  CAST(LEAST(64, GREATEST(blen - i * 32, 0)) AS BIGINT) AS window_len
FROM wins, LATERAL unnest(generate_series(0, n_windows - 1)) AS t(i)
"""


def _q_media_features(spark: SparkSession, sf: str) -> DataFrame:
    """X5 — Arrow-batched feature extraction over media payloads (stub
    embedding model, real mapInPandas plumbing). Digest-chain features are
    not SQL-expressible → rows-only check; determinism is unit-tested."""
    docs = load_table(spark, sf, "documents")
    media = multimodal.synthesize_media(docs)
    feats = multimodal.extract_features(media, dim=16)
    return feats.select(
        "media_id",
        "media_type",
        F.round(F.aggregate("embedding", F.lit(0.0), lambda s, x: s + x.cast("double")), 4).alias(
            "feat_sum"
        ),
    )


def _q_knn_label_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """X3/X11 — embedding-quality probe (operators/similarity.
    knn_label_agreement): exact-cosine 5-NN label self-consistency over
    the deterministic query sample (vec_id % 20), reduced per label via
    the SAME label_agreement_from_neighbors tail as the IVF twin to
    (n_queries, n_retrieved, n_hits, agreement_e6) — exact integer
    counts, denominator = retrieved count (r11: the n_queries·k
    denominator silently deflated on thin corpora); the only float is
    the tie-free cosine RANKING, which the attested similarity_topk
    already pins cross-engine. This is the documented quadratic/
    driver-bounded BASELINE; knn_label_agreement_ivf is the scale path.
    The oracle replays unit-normalize → dot → QUALIFY top-5 → label
    join → the same integer arithmetic."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.knn_label_agreement(emb, k=5, sample_mod=20)


_O_KNN_LABEL_AGREEMENT = """
WITH unit AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, label AS ql, u AS qu FROM unit WHERE vec_id % 20 = 0
), sims AS (
  SELECT q.query_id, q.ql, c.label AS nl,
    list_dot_product(q.qu, c.u) AS sim, c.vec_id AS neighbor_id
  FROM q JOIN unit c ON c.vec_id <> q.query_id
), topk AS (
  SELECT query_id, ql, nl,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM sims QUALIFY rnk <= 5
)
SELECT ql AS label,
  CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
  CAST(COUNT(*) AS BIGINT) AS n_retrieved,
  CAST(SUM(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
  CAST((1000000 * SUM(CASE WHEN nl = ql THEN 1 ELSE 0 END))
    // COUNT(*) AS BIGINT) AS agreement_e6
FROM topk GROUP BY ql
"""


def _q_knn_label_agreement_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """X3/X11 — the label self-consistency probe on its PRODUCTION scale
    path: neighbors come from the persisted √N IVF index (4 probes, the
    ann_ivf machinery) instead of the quadratic brute-force GEMM, then
    the same per-label agreement reduction
    (similarity.label_agreement_from_neighbors — denominator is the
    RETRIEVED count, so thin probed lists score what they returned).
    At 100 TB this is the audit you can actually run: probe work grows
    as √N, and the agreement join touches only the (queries × ≤k)
    neighbor frame. The oracle replays the deterministic centroid rule,
    assignment, probes, top-5, and the integer arithmetic."""
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    path = _ensure_ivf_index(spark, sf)
    inverted = spark.read.parquet(join_path(path, "inverted"))
    centroids = spark.read.parquet(join_path(path, "centroids"))
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    topk = similarity.ivf_topk(
        emb, queries, k=5, n_probe=4, centroids=centroids, inverted=inverted
    )
    return similarity.label_agreement_from_neighbors(topk, emb)


_O_KNN_LABEL_AGREEMENT_IVF = """
WITH unit AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), par AS (
  SELECT n, nc, GREATEST(n // nc, 1) AS step
  FROM (SELECT COUNT(*) AS n FROM embeddings) t,
       LATERAL (
         SELECT MIN(CAST(1 AS BIGINT) << k) AS nc
         FROM unnest(generate_series(4, 31)) AS tk(k)
         WHERE ((CAST(1 AS BIGINT) << k) * (CAST(1 AS BIGINT) << k)) >= t.n
       ) l
), cent AS (
  SELECT CAST(vec_id // step AS INT) AS centroid_id, u AS c_vec
  FROM unit, par WHERE vec_id % step = 0 AND vec_id < step * nc
), assign AS (
  SELECT c.vec_id AS neighbor_id, cent.centroid_id, c.u AS c_unit,
    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      ORDER BY list_dot_product(c.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit c CROSS JOIN cent
), inv AS (
  SELECT neighbor_id, centroid_id, c_unit FROM assign WHERE r = 1
), probes AS (
  SELECT q.vec_id AS query_id, cent.centroid_id, q.u AS q_unit,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      ORDER BY list_dot_product(q.u, cent.c_vec) DESC, cent.centroid_id) AS r
  FROM unit q CROSS JOIN cent WHERE q.vec_id % 20 = 0 AND q.vec_id < 2500
), pr AS (
  SELECT query_id, centroid_id, q_unit FROM probes WHERE r <= 4
), sims AS (
  SELECT query_id, neighbor_id, list_dot_product(q_unit, c_unit) AS sim
  FROM inv JOIN pr USING (centroid_id)
  WHERE neighbor_id <> query_id
), topk AS (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM sims QUALIFY rnk <= 5
), lab AS (
  SELECT t.query_id, ql.label AS ql, nl.label AS nl
  FROM topk t
  JOIN embeddings ql ON ql.vec_id = t.query_id
  JOIN embeddings nl ON nl.vec_id = t.neighbor_id
)
SELECT ql AS label,
  CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
  CAST(COUNT(*) AS BIGINT) AS n_retrieved,
  CAST(SUM(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
  CAST((1000000 * SUM(CASE WHEN nl = ql THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS agreement_e6
FROM lab GROUP BY ql
"""


# --- r13: fixed-n_probe recall audit over the SPLIT index (r12 VERDICT #3;
# --- registers in r14 per the never-attested-in-window protocol) -----------


def _q_ann_rebalance_recall(spark: SparkSession, sf: str) -> DataFrame:
    """X3 maintenance gate — `index.ivf_recall_audit` over the SPLIT
    index at the SERVING n_probe: recall@5 at fixed n_probe=4 vs exact
    brute force, one summary row. The number a production split decision
    must see (rebalance bit-identity holds only at n_probe ≥ the
    post-split centroid count; at fixed n_probe a split re-prices
    recall — STRESS.md r13 measured 0.520 → 0.230 at 8×). Composes the
    same persisted split lifecycle as `ann_ivf_rebalance`
    (`_ensure_split_ivf_index`) so a green row attests the audit
    arithmetic end to end over the refined routing."""
    from commerce_data_pipeline_spark.operators import index as ivf_index

    path = _ensure_split_ivf_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    return ivf_index.ivf_recall_audit(spark, path, emb, queries, k=5, n_probe=4)


def _ora_ann_rebalance_recall(n_splits: int = 2) -> str:
    """Composes `_ora_ann_ivf_rebalance`'s CTE chain (everything through
    the post-split routing + probe selection `pr`) with the exact
    brute-force top-5, the per-query overlap, and the integer-exact
    summary — string-composed from the rebalance oracle so the two
    replays cannot drift."""
    base = _ora_ann_ivf_rebalance(n_splits)
    head, sep, _ = base.partition("), sims AS (")
    if not sep:  # not an assert: must survive python -O (r15 ADVICE pattern)
        raise RuntimeError("rebalance oracle changed shape; update the recall composer")
    return (
        head
        + """), ivf_sims AS (
  SELECT query_id, neighbor_id, list_dot_product(q_unit, c_unit) AS sim
  FROM inv2 JOIN pr USING (centroid_id)
  WHERE neighbor_id <> query_id
), ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM ivf_sims
  ) WHERE rank <= 5
), exact_sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_dot_product(q.u, c.u) AS sim
  FROM unit q JOIN unit c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % 20 = 0 AND q.vec_id < 2500
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM exact_sims
  ) WHERE rank <= 5
), perq AS (
  SELECT e.query_id,
    SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
  FROM exact e LEFT JOIN ivf i USING (query_id, neighbor_id)
  GROUP BY e.query_id
), rec AS (
  SELECT query_id, (n_overlap * 1000000) // 5 AS recall_e6 FROM perq
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST(5 AS INT) AS k, CAST(4 AS INT) AS n_probe,
  CAST(SUM(recall_e6) // COUNT(*) AS BIGINT) AS mean_recall_e6,
  CAST(MIN(recall_e6) AS BIGINT) AS min_recall_e6
FROM rec
"""
    )


# --- r14: GATED rebalance lifecycle (r13 VERDICT #7; registers in r15 per
# --- the never-attested-in-window protocol) ---------------------------------


def _ensure_gated_ivf_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the GATED split lifecycle: build over the
    full embeddings table, then ONE `index.rebalance_with_gate` pass —
    the library-level default maintenance path (r13 VERDICT #2) — with a
    full-range budget (1e6: records the recall delta, never vetoes, so
    the lifecycle is deterministic at every sf whether the split helps
    or hurts). The gate's verdict inputs (pre/post mean recall@5 at the
    fixed serving n_probe=4, split count, and the scaled
    recommended_n_probe read back from the centroid_meta sidecar)
    persist as a one-row parquet report beside the index.
    Marker-idempotent (the bench runs every query twice; a second gated
    pass would split further and re-measure)."""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.operators.similarity import auto_n_centroids
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    root = _cache_dir("ivf_gate", sf)
    marker = join_path(root, "_GATE_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        emb = load_table(spark, sf, "embeddings")
        total = emb.count()
        nc = auto_n_centroids(total)
        step = max(1, total // nc)
        ivf_index.build_ivf_index(emb, root, corpus_count=total)
        queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
        out = ivf_index.rebalance_with_gate(
            spark, root, max_list_size=(13 * step) // 10,
            corpus=emb, queries=queries,
            max_recall_drop_e6=1_000_000,
            k=5, n_probe=4, n_splits=2,
        )
        # the 1.3×-expected threshold always catches the deterministic
        # assignment's skewed lists (the ann_ivf_rebalance contract, green
        # at sf0.001/0.01) — a no-op pass here would mean the fixture data
        # changed shape, and the report below would have no audits to cite.
        # Explicit raise, not assert: under `python -O` an assert strips
        # and a no-op pass would instead crash on int(None) in the report
        # row with a far less diagnosable error (r14 ADVICE).
        if not out["split_centroids"]:
            raise RuntimeError(
                "gate lifecycle expects the deterministic skew to split — "
                "a no-op pass means the fixture data changed shape"
            )
        local_frame(
            spark,
            [(
                int(out["pre"]["n_queries"]),
                int(len(out["split_centroids"])),
                int(out["pre"]["mean_recall_e6"]),
                int(out["post"]["mean_recall_e6"]),
                int(out["recommended_n_probe"]),
            )],
            "n_queries long, n_split int, pre_mean_recall_e6 long, "
            "post_mean_recall_e6 long, recommended_n_probe int",
        ).coalesce(1).write.mode("overwrite").parquet(join_path(root, "gate_report"))
        fs.write_bytes(marker, b"ready\n")
    return root


def _q_ann_rebalance_gate(spark: SparkSession, sf: str) -> DataFrame:
    """X3 maintenance gate END TO END — the verdict row a production
    split decision reads: `rebalance_with_gate` over a persisted build
    (pre-audit → split → post-audit → centroid_meta-scaled
    recommended_n_probe), with the admit/veto outcome derived for two
    reference budgets from the SAME measured numbers — 50000e-6 (a
    plausible production drop budget) and 0 (strict no-regression). A
    hash match attests the gate arithmetic, the audit replays on both
    routings, and the n_probe scaling rule
    (ceil(n_probe · new_centroids / base_centroids)) in one row.
    (Built in r14; enters the driver window in r15 per the
    never-attested-in-window protocol.)"""
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    root = _ensure_gated_ivf_index(spark, sf)
    rep = spark.read.parquet(join_path(root, "gate_report"))
    drop = F.col("pre_mean_recall_e6") - F.col("post_mean_recall_e6")
    return rep.select(
        "n_queries",
        F.lit(5).cast("int").alias("k"),
        F.lit(4).cast("int").alias("n_probe"),
        "n_split",
        "pre_mean_recall_e6",
        "post_mean_recall_e6",
        drop.cast("long").alias("drop_e6"),
        "recommended_n_probe",
        (drop <= 50000).alias("admitted_50000"),
        (drop <= 0).alias("admitted_0"),
    )


# --- r15: VETO-ROLLBACK lifecycle (r14 VERDICT #7; registers in r16 per
# --- the never-attested-in-window protocol) ---------------------------------


def _ensure_veto_ivf_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the VETOED gated-rebalance lifecycle: build
    over the full embeddings table, then ONE `rebalance_with_gate` pass
    with an impossible budget (-2·10⁶ e-6 — any measurable drop, even a
    negative one, exceeds it), so the gate ALWAYS vetoes and rolls the
    split back (r15 gate semantics). The verdict inputs persist as a
    one-row `veto_report` beside the index; `rolled_back` is derived
    from the POST-veto filesystem state (no rename-aside copy left,
    routing width back to the build-time base), so a broken rollback
    records False and hash-mismatches the oracle. The serving-equality
    proof is the query itself: top-5 over the restored index must equal
    the oracle's replay of the NEVER-SPLIT routing. Marker-idempotent."""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.operators.similarity import auto_n_centroids
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    root = _cache_dir("ivf_veto", sf)
    marker = join_path(root, "_VETO_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        emb = load_table(spark, sf, "embeddings")
        total = emb.count()
        nc = auto_n_centroids(total)
        step = max(1, total // nc)
        ivf_index.build_ivf_index(emb, root, corpus_count=total)
        queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
        try:
            ivf_index.rebalance_with_gate(
                spark, root, max_list_size=(13 * step) // 10,
                corpus=emb, queries=queries,
                max_recall_drop_e6=-2_000_000,
                k=5, n_probe=4, n_splits=2,
            )
        except ivf_index.RecallRegression as e:
            cur, base = ivf_index.centroid_counts(spark, root)
            rolled_back = (
                not fs.exists(join_path(root, "centroids") + "._rebal_old")
                and cur == base
            )
            local_frame(
                spark,
                [(
                    int(len(e.split)),
                    int(e.pre["mean_recall_e6"]),
                    int(e.post["mean_recall_e6"]),
                    bool(rolled_back),
                )],
                "n_split_attempted int, pre_mean_recall_e6 long, "
                "post_mean_recall_e6 long, rolled_back boolean",
            ).coalesce(1).write.mode("overwrite").parquet(
                join_path(root, "veto_report")
            )
        else:
            # same falsifiability posture as the gated fixture: the
            # deterministic skew always splits, so a non-veto means the
            # fixture data changed shape
            raise RuntimeError(
                "veto lifecycle expects the impossible budget to trip the "
                "gate — a pass means the fixture data changed shape"
            )
        fs.write_bytes(marker, b"ready\n")
    return root


def _q_ann_veto_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """X3 maintenance gate VETO END TO END — the rollback proof: top-5
    from an index whose oversized-list split the gate measured, REJECTED
    (impossible budget), and rolled back, joined with the persisted
    verdict inputs. The oracle replays the build routing WITHOUT any
    split — a hash match proves the restored index serves bit-identical
    pre-split results — and recomputes the vetoed pass's pre/post recall
    and split count from the rebalance CTE chain, so the verdict numbers
    are attested too. `rolled_back` comes from the post-veto filesystem
    audit, not a literal. (Built in r15; enters the driver window in r16
    per the never-attested-in-window protocol.)"""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    root = _ensure_veto_ivf_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    topk = ivf_index.ivf_query(spark, root, queries, k=5, n_probe=4)
    rep = spark.read.parquet(join_path(root, "veto_report"))
    return topk.crossJoin(F.broadcast(rep)).select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        "rank",
        "n_split_attempted",
        "pre_mean_recall_e6",
        "post_mean_recall_e6",
        (F.col("pre_mean_recall_e6") - F.col("post_mean_recall_e6"))
        .cast("long")
        .alias("drop_e6"),
        "rolled_back",
    )


def _ora_ann_veto_rollback(n_splits: int = 2) -> str:
    """Composes `_ora_ann_rebalance_gate`'s CTE chain (both routings, the
    brute-force exact top-5, the pre/post recall summaries) but returns
    the PRE-SPLIT routing's per-query top-5 rows — what a correctly
    rolled-back index must serve — cross-joined with the vetoed pass's
    verdict numbers. String-composed from the gate oracle so the replays
    cannot drift; `rolled_back` is TRUE here because the Spark side
    derives it from the filesystem audit a correct rollback satisfies."""
    base = _ora_ann_rebalance_gate(n_splits)
    head, sep, _ = base.rpartition("\nSELECT CAST(n_queries AS BIGINT)")
    if not sep:  # not an assert: must survive python -O (r15 ADVICE)
        raise RuntimeError("gate oracle changed shape; update the veto composer")
    return (
        head
        + """
SELECT t.query_id, t.neighbor_id, ROUND(t.sim, 4) AS cosine_sim,
  CAST(t.rank AS INT) AS rank,
  CAST(s.n_split AS INT) AS n_split_attempted,
  CAST(s.pre_mean AS BIGINT) AS pre_mean_recall_e6,
  CAST(s.post_mean AS BIGINT) AS post_mean_recall_e6,
  CAST(s.pre_mean - s.post_mean AS BIGINT) AS drop_e6,
  TRUE AS rolled_back
FROM (
  SELECT query_id, neighbor_id, sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM ivf0_sims
) t CROSS JOIN summ s
WHERE t.rank <= 5
"""
    )


def _ensure_selfheal_ivf_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the INTERRUPTED-COMMIT lifecycle (the r16
    commit-order contract, operators/index._commit_deferred_rebalance):
    build, run a deferred-cleanup split, then simulate the commit crash
    at its one ambiguous-looking point — the rename-aside centroid copy
    deleted, the retired partitions not yet reclaimed. Under the
    copy-FIRST commit order this window has no pending-swap marker and
    every leftover is unroutable, so a ROUTINE next maintenance pass
    must self-heal it: its step-(0) sweep reclaims exactly the retired
    lists and its size census finds nothing further to split. The
    audit numbers persist as a one-row `heal_report` beside the index;
    `healed` derives from the POST-pass filesystem state (zero
    unroutable partitions, live partitions == routing table), so a
    broken sweep records False and hash-mismatches the oracle.
    Marker-idempotent."""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.operators.similarity import auto_n_centroids
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    root = _cache_dir("ivf_selfheal", sf)
    marker = join_path(root, "_SELFHEAL_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        emb = load_table(spark, sf, "embeddings")
        total = emb.count()
        nc = auto_n_centroids(total)
        step = max(1, total // nc)
        ivf_index.build_ivf_index(emb, root, corpus_count=total)
        retired = ivf_index.rebalance_ivf_index(
            spark, root, max_list_size=(13 * step) // 10, n_splits=2,
            _defer_cleanup=True,
        )
        # the crash point: commit removed the aside copy (its FIRST
        # delete) and died before reclaiming any retired partition
        fs.delete(join_path(root, "centroids") + "._rebal_old")

        def _unroutable() -> int:
            routable = {
                int(r["centroid_id"])
                for r in spark.read.parquet(join_path(root, "centroids"))
                .select("centroid_id")
                .collect()
            }
            return sum(
                1
                for e in fs.listdir(join_path(root, "inverted"))
                if e.startswith("centroid_id=")
                and int(e.split("=", 1)[1]) not in routable
            )

        leftover_before = _unroutable()
        # the routine next pass: nothing is oversized any more, so the
        # ONLY work is the step-(0) sweep of the crash debris
        further = ivf_index.rebalance_ivf_index(
            spark, root, max_list_size=10_000_000, n_splits=2
        )
        leftover_after = _unroutable()
        healed = leftover_after == 0 and not further
        local_frame(
            spark,
            [(
                int(len(retired)),
                int(leftover_before),
                int(leftover_after),
                bool(healed),
            )],
            "n_split int, leftover_before int, leftover_after int, "
            "healed boolean",
        ).coalesce(1).write.mode("overwrite").parquet(
            join_path(root, "heal_report")
        )
        fs.write_bytes(marker, b"ready\n")
    return root


def _q_ann_commit_selfheal(spark: SparkSession, sf: str) -> DataFrame:
    """X3 maintenance crash recovery END TO END — the interrupted-commit
    proof: top-5 from an index whose admitted split's commit crashed
    after the rename-aside delete (the r16 copy-FIRST order), healed by
    a routine follow-up maintenance pass, joined with the persisted
    audit. The oracle replays the COMMITTED split routing — a hash
    match proves the crash+heal lost nothing of the admitted split —
    and derives the split count from the rebalance CTE chain;
    `leftover_before` must equal it (the commit-order invariant: while
    any retired list is gone the copy is gone too, so the crash window
    holds ALL of them), `leftover_after`/`healed` come from the
    post-pass filesystem audit, not literals. (Built in r16; enters the
    driver window in r17 per the never-attested-in-window protocol.)"""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    root = _ensure_selfheal_ivf_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    topk = ivf_index.ivf_query(spark, root, queries, k=5, n_probe=4)
    rep = spark.read.parquet(join_path(root, "heal_report"))
    return topk.crossJoin(F.broadcast(rep)).select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        "rank",
        "n_split",
        "leftover_before",
        "leftover_after",
        "healed",
    )


def _ora_ann_commit_selfheal(n_splits: int = 2) -> str:
    """Composes `_ora_ann_ivf_rebalance`'s CTE chain (build → census →
    seed → reassign → post-split probe) and appends the heal audit: the
    split count derives from the oversized-list census CTE,
    `leftover_before` equals it by the commit-order invariant, and a
    correct heal leaves zero unroutable partitions. String-composed
    from the rebalance oracle so the replay cannot drift."""
    base = _ora_ann_ivf_rebalance(n_splits)
    head, sep, _ = base.rpartition("\nSELECT query_id, neighbor_id, ROUND(sim, 4)")
    if not sep:  # not an assert: must survive python -O
        raise RuntimeError(
            "rebalance oracle changed shape; update the selfheal composer"
        )
    return (
        head
        + """
SELECT t.query_id, t.neighbor_id, ROUND(t.sim, 4) AS cosine_sim,
  CAST(t.rank AS INT) AS rank,
  CAST(s.n_split AS INT) AS n_split,
  CAST(s.n_split AS INT) AS leftover_before,
  CAST(0 AS INT) AS leftover_after,
  TRUE AS healed
FROM (
  SELECT query_id, neighbor_id, sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
) t CROSS JOIN (SELECT COUNT(*) AS n_split FROM big) s
WHERE t.rank <= 5
"""
    )


def _ora_ann_rebalance_gate(n_splits: int = 2) -> str:
    """Composes `_ora_ann_ivf_rebalance`'s CTE chain (through the
    post-split probe selection `pr`) with: the PRE-split probe selection
    over the original centroid table (`cent0`/`inv`), both IVF top-5
    sets, the exact brute-force top-5, both per-query overlaps, and the
    integer-exact gate summary (drop, ceil-scaled recommended n_probe,
    admit booleans at the two reference budgets) — string-composed from
    the rebalance oracle so the three replays cannot drift."""
    base = _ora_ann_ivf_rebalance(n_splits)
    head, sep, _ = base.partition("), sims AS (")
    if not sep:  # not an assert: must survive python -O (r15 ADVICE pattern)
        raise RuntimeError("rebalance oracle changed shape; update the gate composer")
    return (
        head
        + f"""), probes0 AS (
  SELECT q.vec_id AS query_id, cent0.centroid_id, q.u AS q_unit,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      ORDER BY list_dot_product(q.u, cent0.c_vec) DESC, cent0.centroid_id) AS r
  FROM unit q CROSS JOIN cent0 WHERE q.vec_id % 20 = 0 AND q.vec_id < 2500
), pr0 AS (
  SELECT query_id, centroid_id, q_unit FROM probes0 WHERE r <= 4
), ivf0_sims AS (
  SELECT query_id, neighbor_id, list_dot_product(q_unit, c_unit) AS sim
  FROM inv JOIN pr0 USING (centroid_id)
  WHERE neighbor_id <> query_id
), ivf0 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM ivf0_sims
  ) WHERE rank <= 5
), ivf_sims AS (
  SELECT query_id, neighbor_id, list_dot_product(q_unit, c_unit) AS sim
  FROM inv2 JOIN pr USING (centroid_id)
  WHERE neighbor_id <> query_id
), ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM ivf_sims
  ) WHERE rank <= 5
), exact_sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_dot_product(q.u, c.u) AS sim
  FROM unit q JOIN unit c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % 20 = 0 AND q.vec_id < 2500
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM exact_sims
  ) WHERE rank <= 5
), rec_pre AS (
  SELECT e.query_id,
    (SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000) // 5
      AS recall_e6
  FROM exact e LEFT JOIN ivf0 i USING (query_id, neighbor_id)
  GROUP BY e.query_id
), rec_post AS (
  SELECT e.query_id,
    (SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000) // 5
      AS recall_e6
  FROM exact e LEFT JOIN ivf i USING (query_id, neighbor_id)
  GROUP BY e.query_id
), summ AS (
  SELECT
    (SELECT COUNT(*) FROM rec_pre) AS n_queries,
    (SELECT SUM(recall_e6) // COUNT(*) FROM rec_pre) AS pre_mean,
    (SELECT SUM(recall_e6) // COUNT(*) FROM rec_post) AS post_mean,
    (SELECT COUNT(*) FROM big) AS n_split,
    (SELECT COUNT(*) FROM cent0) AS n_base,
    (SELECT COUNT(*) FROM cent2) AS n_new
)
SELECT CAST(n_queries AS BIGINT) AS n_queries,
  CAST(5 AS INT) AS k, CAST(4 AS INT) AS n_probe,
  CAST(n_split AS INT) AS n_split,
  CAST(pre_mean AS BIGINT) AS pre_mean_recall_e6,
  CAST(post_mean AS BIGINT) AS post_mean_recall_e6,
  CAST(pre_mean - post_mean AS BIGINT) AS drop_e6,
  CAST((4 * n_new + n_base - 1) // n_base AS INT) AS recommended_n_probe,
  (pre_mean - post_mean) <= 50000 AS admitted_50000,
  (pre_mean - post_mean) <= 0 AS admitted_0
FROM summ
"""
    )

def _ensure_midswap_ivf_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the MID-SWAP crash lifecycle (the one
    pending-swap state where only rollback is possible): build, run a
    deferred-cleanup split, then simulate a crash between a rollback's
    two renames — the promoted (post-split) centroid table deleted, the
    rename-aside `._rebal_old` copy the ONLY complete routing. Three
    contracts are exercised and their outcomes persisted as a one-row
    `recover_report` beside the index:
    - `guard_refused`: `check_no_pending_swap` (every maintenance
      entrypoint's guard) refuses the state with recovery guidance;
    - `commit_refused`: `recover_pending_swap(action='commit')` refuses
      — there is no promoted routing to commit;
    - `recovered`: after `recover_pending_swap(action='rollback')` the
      POST-recovery filesystem audit holds — live table restored, no
      rename-aside copy, routing width back to the build-time base,
      zero unroutable inverted partitions (the appended sub-lists were
      swept). All three derive from observed behavior, not literals, so
      a broken guard/refusal/sweep records False and hash-mismatches
      the oracle. `n_swept` is the count of reclaimed sub-list
      partitions, which the oracle derives from the reassignment CTE.
    Marker-idempotent."""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.operators.similarity import auto_n_centroids
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    root = _cache_dir("ivf_midswap", sf)
    marker = join_path(root, "_MIDSWAP_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        emb = load_table(spark, sf, "embeddings")
        total = emb.count()
        nc = auto_n_centroids(total)
        step = max(1, total // nc)
        ivf_index.build_ivf_index(emb, root, corpus_count=total)
        retired = ivf_index.rebalance_ivf_index(
            spark, root, max_list_size=(13 * step) // 10, n_splits=2,
            _defer_cleanup=True,
        )
        if not retired:
            # same falsifiability posture as the veto fixture: the
            # deterministic skew always splits at this threshold
            raise RuntimeError(
                "midswap lifecycle expects the deferred pass to split — "
                "a no-op means the fixture data changed shape"
            )
        cent_leaf = join_path(root, "centroids").rstrip("/")
        # the crash point: a rollback's swap deleted the promoted table
        # and died before renaming the copy back — only ._rebal_old left
        fs.delete(cent_leaf)
        try:
            ivf_index.check_no_pending_swap(spark, root, what="midswap fixture")
            guard_refused = False
        except RuntimeError:
            guard_refused = True
        try:
            ivf_index.recover_pending_swap(spark, root, "commit")
            commit_refused = False
        except RuntimeError:
            commit_refused = True
        res = ivf_index.recover_pending_swap(spark, root, "rollback")
        cur, base = ivf_index.centroid_counts(spark, root)
        routable = {
            int(r["centroid_id"])
            for r in spark.read.parquet(cent_leaf)
            .select("centroid_id")
            .collect()
        }
        unroutable = sum(
            1
            for e in fs.listdir(join_path(root, "inverted"))
            if e.startswith("centroid_id=")
            and int(e.split("=", 1)[1]) not in routable
        )
        recovered = (
            res["state"] == "mid_swap"
            and fs.exists(cent_leaf)
            and not fs.exists(cent_leaf + "._rebal_old")
            and cur == base
            and unroutable == 0
        )
        local_frame(
            spark,
            [(
                int(len(retired)),
                int(len(res["swept"])),
                bool(guard_refused),
                bool(commit_refused),
                bool(recovered),
            )],
            "n_split int, n_swept int, guard_refused boolean, "
            "commit_refused boolean, recovered boolean",
        ).coalesce(1).write.mode("overwrite").parquet(
            join_path(root, "recover_report")
        )
        fs.write_bytes(marker, b"ready\n")
    return root


def _q_ann_recover_midswap(spark: SparkSession, sf: str) -> DataFrame:
    """X3 maintenance crash recovery END TO END — the MID-SWAP proof:
    top-5 from an index that crashed between a rollback's two renames
    (the rename-aside copy the only complete routing, no live table),
    was refused by the maintenance entry guard AND by
    `recover_pending_swap(action='commit')`, then recovered with
    `action='rollback'` (the maintenance CLI's `index-recover`). The
    oracle replays the NEVER-SPLIT build routing — a hash match proves
    recovery restored pre-split serving bit-identically — and derives
    the split count and the swept sub-list count from the rebalance CTE
    chain; the refusal/recovery booleans come from observed behavior
    and the post-recovery filesystem audit, not literals. (Built in
    r16; enters the driver window in a later round per the
    never-attested-in-window protocol.)"""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    root = _ensure_midswap_ivf_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    topk = ivf_index.ivf_query(spark, root, queries, k=5, n_probe=4)
    rep = spark.read.parquet(join_path(root, "recover_report"))
    return topk.crossJoin(F.broadcast(rep)).select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        "rank",
        "n_split",
        "n_swept",
        "guard_refused",
        "commit_refused",
        "recovered",
    )


def _ora_ann_recover_midswap(n_splits: int = 2) -> str:
    """Composes `_ora_ann_rebalance_gate`'s CTE chain but returns the
    PRE-SPLIT (build) routing's per-query top-5 — what a correctly
    recovered mid-swap index must serve — with the audit numbers
    derived from the split replay: `n_split` from the oversized-list
    census and `n_swept` as the distinct reassigned sub-list ids (one
    inverted partition each — exactly what the post-rollback sweep
    reclaims). String-composed from the gate oracle so the replay
    cannot drift; the booleans are TRUE because the Spark side derives
    them from observed refusals and the filesystem audit."""
    base = _ora_ann_rebalance_gate(n_splits)
    head, sep, _ = base.rpartition("\nSELECT CAST(n_queries AS BIGINT)")
    if not sep:  # not an assert: must survive python -O
        raise RuntimeError(
            "gate oracle changed shape; update the midswap composer"
        )
    return (
        head
        + """
SELECT t.query_id, t.neighbor_id, ROUND(t.sim, 4) AS cosine_sim,
  CAST(t.rank AS INT) AS rank,
  CAST(s.n_split AS INT) AS n_split,
  CAST(s.n_swept AS INT) AS n_swept,
  TRUE AS guard_refused,
  TRUE AS commit_refused,
  TRUE AS recovered
FROM (
  SELECT query_id, neighbor_id, sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM ivf0_sims
) t CROSS JOIN (
  SELECT (SELECT COUNT(*) FROM big) AS n_split,
         (SELECT COUNT(DISTINCT centroid_id) FROM reas) AS n_swept
) s
WHERE t.rank <= 5
"""
    )


def _ensure_recover_commit_ivf_index(spark: SparkSession, sf: str) -> str:
    """Build-once handle for the DEFERRED-COMMIT recovery lifecycle:
    build, run a deferred-cleanup split (exactly the pending state a
    gated pass crashed between its routing swap and its commit/rollback
    leaves behind — rename-aside copy AND promoted routing both
    present), then resolve it with the PUBLIC recovery operator,
    `recover_pending_swap(action='commit')` (the maintenance CLI's
    `index-recover --action commit`): delete the copy, sweep the
    now-unroutable retired lists. The audit persists as a one-row
    `commit_report` beside the index:
    - `state_deferred`: the operator detected `deferred_window`;
    - `swept_retired`: the swept ids are EXACTLY the split pass's
      retired ids (unroutable ⇒ retired, by construction — recovery
      needs no retired-id list);
    - `clean_after`: post-commit filesystem audit (no rename-aside
      copy, zero unroutable partitions) AND a routine follow-up
      maintenance pass finds nothing to do.
    All derive from observed behavior, not literals. Marker-idempotent."""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.operators.similarity import auto_n_centroids
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    root = _cache_dir("ivf_recover_commit", sf)
    marker = join_path(root, "_RECOVER_COMMIT_READY")
    fs = HadoopFS(spark, root)
    if not fs.exists(marker):
        if fs.exists(root):
            fs.delete(root)
        emb = load_table(spark, sf, "embeddings")
        total = emb.count()
        nc = auto_n_centroids(total)
        step = max(1, total // nc)
        ivf_index.build_ivf_index(emb, root, corpus_count=total)
        retired = ivf_index.rebalance_ivf_index(
            spark, root, max_list_size=(13 * step) // 10, n_splits=2,
            _defer_cleanup=True,
        )
        if not retired:
            raise RuntimeError(
                "recover-commit lifecycle expects the deferred pass to "
                "split — a no-op means the fixture data changed shape"
            )
        res = ivf_index.recover_pending_swap(spark, root, "commit")
        cent_leaf = join_path(root, "centroids").rstrip("/")
        routable = {
            int(r["centroid_id"])
            for r in spark.read.parquet(cent_leaf)
            .select("centroid_id")
            .collect()
        }
        unroutable = sum(
            1
            for e in fs.listdir(join_path(root, "inverted"))
            if e.startswith("centroid_id=")
            and int(e.split("=", 1)[1]) not in routable
        )
        clean_after = (
            not fs.exists(cent_leaf + "._rebal_old")
            and unroutable == 0
            and ivf_index.rebalance_ivf_index(
                spark, root, max_list_size=10_000_000, n_splits=2
            ) == []
        )
        local_frame(
            spark,
            [(
                int(len(retired)),
                int(len(res["swept"])),
                bool(res["state"] == "deferred_window"),
                bool(res["swept"] == sorted(retired)),
                bool(clean_after),
            )],
            "n_split int, n_swept int, state_deferred boolean, "
            "swept_retired boolean, clean_after boolean",
        ).coalesce(1).write.mode("overwrite").parquet(
            join_path(root, "commit_report")
        )
        fs.write_bytes(marker, b"ready\n")
    return root


def _q_ann_recover_commit(spark: SparkSession, sf: str) -> DataFrame:
    """X3 maintenance crash recovery END TO END — the DEFERRED-COMMIT
    proof: top-5 from an index left in the pending deferred window (the
    state a crashed gated pass leaves: rename-aside copy + promoted
    split routing both present) and resolved with the public
    `recover_pending_swap(action='commit')` (the maintenance CLI's
    `index-recover`). The oracle replays the COMMITTED split routing —
    a hash match proves commit-recovery preserved the admitted split's
    serving bit-identically — and derives the split count from the
    rebalance CTE chain; the swept count must equal it (unroutable ⇒
    retired, the invariant that lets recovery run without a retired-id
    list), and the state/audit booleans come from observed behavior.
    (Built in r16; enters the driver window in a later round per the
    never-attested-in-window protocol.)"""
    from commerce_data_pipeline_spark.operators import index as ivf_index
    from commerce_data_pipeline_spark.sources.hadoopfs import join_path

    root = _ensure_recover_commit_ivf_index(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2500))
    topk = ivf_index.ivf_query(spark, root, queries, k=5, n_probe=4)
    rep = spark.read.parquet(join_path(root, "commit_report"))
    return topk.crossJoin(F.broadcast(rep)).select(
        "query_id",
        "neighbor_id",
        F.round("cosine_sim", 4).alias("cosine_sim"),
        "rank",
        "n_split",
        "n_swept",
        "state_deferred",
        "swept_retired",
        "clean_after",
    )


def _ora_ann_recover_commit(n_splits: int = 2) -> str:
    """Composes `_ora_ann_ivf_rebalance`'s CTE chain (build → census →
    seed → reassign → post-split probe) and appends the recovery audit:
    the split count derives from the oversized-list census, the swept
    count equals it (the commit branch reclaims exactly the retired
    lists), and the state/audit booleans are TRUE because the Spark
    side derives them from the operator's observed behavior and the
    post-commit filesystem audit. String-composed from the rebalance
    oracle so the replay cannot drift."""
    base = _ora_ann_ivf_rebalance(n_splits)
    head, sep, _ = base.rpartition("\nSELECT query_id, neighbor_id, ROUND(sim, 4)")
    if not sep:  # not an assert: must survive python -O
        raise RuntimeError(
            "rebalance oracle changed shape; update the recover-commit composer"
        )
    return (
        head
        + """
SELECT t.query_id, t.neighbor_id, ROUND(t.sim, 4) AS cosine_sim,
  CAST(t.rank AS INT) AS rank,
  CAST(s.n_split AS INT) AS n_split,
  CAST(s.n_split AS INT) AS n_swept,
  TRUE AS state_deferred,
  TRUE AS swept_retired,
  TRUE AS clean_after
FROM (
  SELECT query_id, neighbor_id, sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
) t CROSS JOIN (SELECT COUNT(*) AS n_split FROM big) s
WHERE t.rank <= 5
"""
    )
