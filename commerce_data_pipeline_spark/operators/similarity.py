"""Vector similarity search over embedding columns (SURVEY.md §2d X3).

Brute-force cosine top-k as the exact baseline; LSH-bucketed (random
hyperplane) and centroid-routed (IVF-style) variants as the scale paths.

Two execution strategies:
- **Arrow/numpy block-GEMM** (`brute_force_topk`, `near_dup_pairs`): the
  small side (queries / dedup corpus) broadcasts as a dense float64 matrix;
  each task runs one numpy matmul per Arrow batch and emits only its local
  top-k candidates. This is the vectorized hot path — a 2000×2000×64
  all-pairs job drops from ~50 s (per-pair expression eval) to <1 s.
- **Pure-expression variants** (`*_expr`): zip_with + aggregate built-ins,
  no Python at all. Used for tiny inputs, SQL-only contexts, and as the
  semantics reference the numpy path is tested against.

Scale notes (100 TB posture):
- Brute force is O(|Q|·|C|): correct when one side is small enough to
  broadcast (point lookups, eval batches, dedup within a partition). The
  big side streams once; per-batch candidate pruning keeps the shuffle at
  O(batches × |Q| × k), not O(|Q|·|C|).
- rp_lsh_topk cuts the candidate set by bucketing both sides on sign
  patterns of random-hyperplane projections; recall is tunable via
  (n_planes, n_tables).
- ivf_topk routes each query to its nearest `n_probe` centroids (seeded,
  deterministic) and only scans those lists — the classic inverted-file
  layout, expressed as an equi-join.
"""

from __future__ import annotations

from collections.abc import Iterator
from math import floor as math_floor

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def with_unit_vector(df: DataFrame, vec_col: str = "embedding", out_col: str = "unit") -> DataFrame:
    """Pre-normalize once so cosine becomes a plain dot product downstream."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = _norm(v)
    return df.withColumn(out_col, F.transform(v, lambda x: x / n))


def cosine_similarity(a_col, b_col):
    """Cosine between two array<double> columns, computed in one pass."""
    return _dot(a_col, b_col) / (_norm(a_col) * _norm(b_col))


def quantized_rel_frame(
    emb: DataFrame,
    query_id: int,
    q_scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Engine-exact cosine relevance of every corpus vector to one query
    vector, on the integer-quantization contract shared by `mmr_rerank`,
    `hybrid_rrf` and `semantic_dedup`:

    coordinates quantize to q_i = floor(q_scale·x_i) BIGINT, so every dot
    product is an EXACT integer in any summation order; rel_e6 =
    floor(1e6·dot / (sqrt(Σa²)·sqrt(Σb²))) uses only IEEE
    correctly-rounded ops (sqrt is, unlike ln), so Spark, driver Python,
    and the SQL oracle replay identical scores. Zero-norm vectors (cosine
    undefined) and the query row itself are excluded.

    Output: (id_col, _qv array<long>, _na2 long, rel_e6 long). The scan
    side is map-only (quantize + fold vs a broadcast query literal); no
    shuffle is introduced — downstream top-k lowers to
    TakeOrderedAndProject. Raises ValueError if the query vector is
    missing or zero-norm (one tiny collect of a single row)."""
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(q_scale))).cast("long"),
    )
    base = emb.select(F.col(id_col).alias("_id"), qv.alias("_qv")).select(
        "_id",
        "_qv",
        F.aggregate("_qv", F.lit(0).cast("long"), lambda acc, x: acc + x * x).alias(
            "_na2"
        ),
    ).filter(F.col("_na2") > 0)
    qrow = base.filter(F.col("_id") == query_id).collect()
    if not qrow:
        raise ValueError(f"query vector {id_col}={query_id} not found (or zero-norm)")
    q0, n0 = list(qrow[0]["_qv"]), qrow[0]["_na2"]
    lit_q0 = F.expr("array(" + ",".join(f"{int(v)}L" for v in q0) + ")")
    dot0 = F.aggregate(
        F.zip_with("_qv", lit_q0, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rel = F.floor(
        (F.lit(1000000.0) * dot0.cast("double"))
        / (F.sqrt(F.col("_na2").cast("double")) * F.sqrt(F.lit(float(n0))))
    ).cast("long")
    return base.filter(F.col("_id") != query_id).select(
        F.col("_id").alias(id_col), "_qv", "_na2", rel.alias("rel_e6")
    )


def _normalized_matrix(rows: list) -> tuple:
    """(ids int64 array, row-normalized float64 matrix) from collected rows."""
    import numpy as np

    ids = np.asarray([r[0] for r in rows], dtype="int64")
    mat = np.asarray([r[1] for r in rows], dtype="float64")
    norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    return ids, mat / norms


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding self-matches by id).

    Execution: queries collect to a dense float64 matrix (the broadcast
    side — |Q|×dim must be driver/executor-feasible, which is the
    precondition of brute force anyway); the corpus streams through
    `mapInPandas`, each Arrow batch doing one numpy GEMM and emitting its
    *local* per-query top-k. A final window over the O(batches × |Q| × k)
    candidate set picks the global top-k — the full |Q|·|C| similarity
    matrix never shuffles. Ties rank deterministically by (sim desc, id).

    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    spark = corpus.sparkSession
    q_rows = queries.select(F.col(query_id_col), F.col(vec_col)).collect()
    if not q_rows:
        return local_frame(
            spark,
            [], "query_id long, neighbor_id long, cosine_sim double, rank int"
        )
    bc = spark.sparkContext.broadcast(_normalized_matrix(q_rows))
    # deliberately NOT scattered (r18 A/B, min-of-3 ×3 alternating:
    # similarity_topk 0.40→0.79 s, ann_recall 0.79→1.11 s WITH a guarded
    # scatter): the numpy GEMM outruns a round-robin exchange of the
    # vector payload even from a single split, and multi-split
    # production scans parallelize on their own.

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        q_ids, q_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy(dtype="int64")
            c_mat = np.asarray([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
            norms = np.sqrt((c_mat * c_mat).sum(axis=1, keepdims=True))
            norms[norms == 0.0] = 1.0
            sims = (c_mat / norms) @ q_mat.T  # (batch, |Q|)
            sims[c_ids[:, None] == q_ids[None, :]] = -np.inf  # self-match
            kk = min(k, sims.shape[0])
            # local top-k per query: argpartition along the corpus axis
            idx = np.argpartition(-sims, kth=kk - 1, axis=0)[:kk]  # (k, |Q|)
            qi = np.broadcast_to(np.arange(sims.shape[1]), idx.shape)
            flat_sim = sims[idx, qi].ravel()
            keep = flat_sim > -np.inf
            yield pd.DataFrame(
                {
                    "query_id": np.broadcast_to(q_ids, idx.shape).ravel()[keep],
                    "neighbor_id": c_ids[idx.ravel()][keep],
                    "cosine_sim": flat_sim[keep],
                }
            )

    cand = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, "query_id long, neighbor_id long, cosine_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Pure-expression reference implementation of `brute_force_topk`
    (zip_with/aggregate built-ins, no Python). Same output contract."""
    c = with_unit_vector(corpus, vec_col, "c_unit").select(
        F.col(id_col).alias("neighbor_id"), "c_unit"
    )
    q = with_unit_vector(queries, vec_col, "q_unit").select(
        F.col(query_id_col).alias("query_id"), "q_unit"
    )
    sims = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        _dot(F.col("q_unit"), F.col("c_unit")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _bucketed_self_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """LSH-bucketed near-dup pairs: the broadcast-free scale path. The
    corpus is bucketized ONCE (numpy GEMM, localCheckpoint — probe/build
    sides share the materialized result, and unlike persist() the blocks
    are reclaimed by the ContextCleaner when the frame goes out of scope,
    so a long-lived session doesn't accumulate pinned storage); only
    same-bucket pairs are scored, an equi-join on (table, bucket). Recall
    < 1 by construction (tunable via n_planes/n_tables) — near-dup pairs
    at cosine ≥ 0.9 collide with high probability under random-hyperplane
    LSH."""
    b = _bucketize_np(df, "id_a", id_col, vec_col, dim, n_planes, n_tables).transform(_checkpoint, eager=False)
    a = b.select("id_a", F.col("unit").alias("a_unit"), "tab", "bucket")
    c = b.select(
        F.col("id_a").alias("id_b"), F.col("unit").alias("b_unit"), "tab", "bucket"
    )
    cand = (
        a.join(c, on=["tab", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a", "id_b", _dot(F.col("a_unit"), F.col("b_unit")).alias("cosine_sim")
    ).filter(F.col("cosine_sim") >= threshold)


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_pairs: int | None = None,
    max_broadcast_rows: int = 500_000,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family X2): pairs with
    cosine >= threshold (id_a < id_b); with `top_pairs`, exactly the
    `top_pairs` most similar globally (sim desc, id_a, id_b tie-break).

    Two execution paths, chosen by a row budget (the guard is code, not a
    docstring — an unguarded collect is the driver-OOM shape at scale):

    - |corpus| <= `max_broadcast_rows`: exact brute force. The corpus
      broadcasts as a dense matrix, batches GEMM against it, each batch
      emits only pairs above threshold / its local top pairs.
    - |corpus| > budget and threshold >= 0: `_bucketed_self_pairs` — the
      RP-LSH bucketed self-join; nothing collects to the driver.
      Approximate recall (documented on the helper).
    - |corpus| > budget and threshold < 0 (exact all-pairs demanded):
      ValueError — that shape is inherently O(n²)-dense; no safe plan
      exists. Use a threshold or minhash prefilter.
    """
    spark = df.sparkSession
    # Bounded path-decision probe (r17): limit(budget+1).count() answers
    # "does the corpus exceed the broadcast budget?" after reading AT MOST
    # budget+1 rows — the full count() it replaces scanned the entire
    # corpus just to pick a branch (at 100 TB that is a complete pass
    # before any work starts). Branch decisions are identical:
    # min(count, budget+1) > budget  ⇔  count > budget.
    n_rows = df.limit(max_broadcast_rows + 1).count()
    if n_rows > max_broadcast_rows:
        if threshold < 0.0:
            raise ValueError(
                f"near_dup_pairs: corpus exceeds max_broadcast_rows="
                f"{max_broadcast_rows} and threshold={threshold} demands exact "
                "all-pairs output; use threshold >= 0 (LSH-bucketed path) or a "
                "minhash prefilter."
            )
        pairs = _bucketed_self_pairs(
            df, threshold, id_col, vec_col, dim, n_planes, n_tables
        )
        if top_pairs is not None:
            # Local pre-prune before the global ranking below: without it
            # every above-threshold LSH candidate would funnel through the
            # single task of the unpartitioned window. Salted per-partition
            # top-`top_pairs` caps the global sort's input at
            # O(salt_buckets × top_pairs) rows.
            n_salt = 32
            wl = Window.partitionBy("_salt").orderBy(
                F.desc("cosine_sim"), F.asc("id_a"), F.asc("id_b")
            )
            pairs = (
                pairs.withColumn(
                    "_salt", F.pmod(F.xxhash64("id_a", "id_b"), F.lit(n_salt)).cast("int")
                )
                .withColumn("_lr", F.row_number().over(wl))
                .filter(F.col("_lr") <= top_pairs)
                .drop("_salt", "_lr")
            )
    else:
        all_rows = df.select(F.col(id_col), F.col(vec_col)).collect()
        if not all_rows:
            return local_frame(spark, [], "id_a long, id_b long, cosine_sim double")
        bc = spark.sparkContext.broadcast(_normalized_matrix(all_rows))

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np

            b_ids, b_mat = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                a_ids = pdf[id_col].to_numpy(dtype="int64")
                a_mat = np.asarray([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
                norms = np.sqrt((a_mat * a_mat).sum(axis=1, keepdims=True))
                norms[norms == 0.0] = 1.0
                sims = (a_mat / norms) @ b_mat.T  # (batch, |corpus|)
                mask = a_ids[:, None] < b_ids[None, :]
                if threshold > -1.0:
                    mask &= sims >= threshold
                ai, bi = np.nonzero(mask)
                sims_v = sims[ai, bi]
                if top_pairs is not None and sims_v.size > top_pairs:
                    # cap BEFORE building the pandas frame: at low thresholds
                    # a batch can pass hundreds of thousands of pairs, and
                    # materializing them just to nlargest() dominates the
                    # stage. argpartition keeps the top-k in O(n).
                    sel = np.argpartition(-sims_v, top_pairs - 1)[:top_pairs]
                    ai, bi, sims_v = ai[sel], bi[sel], sims_v[sel]
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": b_ids[bi], "cosine_sim": sims_v}
                )

        pairs = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
            score, "id_a long, id_b long, cosine_sim double"
        )
        if threshold > -1.0:
            pairs = pairs.filter(F.col("cosine_sim") >= threshold)
    if top_pairs is not None:
        # Global truncation: per-batch nlargest above is candidate PRUNING
        # (≤ top_pairs per Arrow batch survive); this window makes the
        # contract exact. It ranks only the pruned candidate set
        # (O(batches × top_pairs) rows), not the pair space.
        w = Window.orderBy(F.desc("cosine_sim"), F.asc("id_a"), F.asc("id_b"))
        pairs = (
            pairs.withColumn("_pr", F.row_number().over(w))
            .filter(F.col("_pr") <= top_pairs)
            .drop("_pr")
        )
    return pairs


def _plane_signs(unit_col, dim: int, n_planes: int, seed: int):
    """Sign pattern of the vector against n_planes pseudo-random hyperplanes.

    Planes are derived deterministically from xxhash64(seed, plane, coord) —
    no driver-side randomness, no plane matrix to broadcast; the "matrix"
    is recomputed inside codegen as ±1 entries (Rademacher planes, a
    standard LSH family for cosine).
    """
    # NB: zip_with lambdas must stay binary — PySpark derives lambda-variable
    # count from Python arity, so capturing the plane index via a default arg
    # would corrupt the binding. Use a closure factory.
    def _rademacher(p: int):
        return lambda x, i: x * F.when(
            F.xxhash64(F.lit(seed), F.lit(p), i).bitwiseAND(F.lit(1)) == 1, F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    sign_bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(unit_col, F.sequence(F.lit(0), F.lit(dim - 1)), _rademacher(p)),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        sign_bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)))
    out = F.lit(0).cast("long")
    for bit in sign_bits:
        out = out * 2 + bit
    return out


def md5_rademacher_planes(
    dim: int, n_planes: int, n_tables: int, seed: str = "rplsh/v1"
) -> list[list[float]]:
    """±1 (Rademacher) hyperplanes derived from md5 — ENGINE-INDEPENDENT
    constants: the sign of coordinate i of plane (t, p) is bit 0 of
    md5(f"{seed}|{t}|{p}|{i}"). Because md5 is identical everywhere, the
    Spark GEMM path and a SQL oracle generator can both materialize the
    SAME matrix (Spark as a closure constant, SQL as inlined list
    literals) and agree on every bucket bit — the `simhash`→`simhash_md5`
    trick applied to RP-LSH. Returns n_tables·n_planes columns of `dim`
    floats, ordered t*n_planes + p (the layout `_bucketize_np` expects).
    """
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{seed}|{t}|{p}|{i}".encode()).digest()[0] & 1
            else -1.0
            for i in range(dim)
        ]
        for t in range(n_tables)
        for p in range(n_planes)
    ]


def _bucketize_np(
    df: DataFrame,
    out_id: str,
    id_from: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed0: int = 1000,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Numpy bucket assignment: one GEMM against the (dim × n_planes·tables)
    plane matrix per Arrow batch, sign bits packed to a bucket int. The
    plane matrix is regenerated per task from seeded PCG64 (stable across
    platforms/runs) — nothing to broadcast. ~30× faster than evaluating
    n_planes·n_tables interpreted HOF aggregates per row.

    `planes`: optional explicit plane columns (n_tables·n_planes lists of
    `dim` floats, e.g. from `md5_rademacher_planes`) replacing the PCG64
    Gaussian family — used when an external engine must reproduce the
    buckets."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        if planes is not None:
            plane_mat = np.asarray(planes, dtype="float64").T  # (dim, T*P)
        else:
            plane_mat = np.concatenate(
                [
                    np.random.default_rng(seed0 + t).standard_normal((dim, n_planes))
                    for t in range(n_tables)
                ],
                axis=1,
            )  # (dim, n_tables*n_planes)
        weights = (1 << np.arange(n_planes)).astype("int64")
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray([np.asarray(v, dtype="float64") for v in pdf[id_from + "_vec"]])
            norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
            norms[norms == 0.0] = 1.0
            unit = mat / norms
            signs = (unit @ plane_mat) >= 0  # (batch, tables*planes)
            ids = pdf[id_from].to_numpy()
            frames = []
            for t in range(n_tables):
                b = signs[:, t * n_planes : (t + 1) * n_planes] @ weights
                frames.append(
                    pd.DataFrame(
                        {out_id: ids, "unit": list(unit), "tab": t, "bucket": b}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    src = df.select(F.col(id_from), F.col(vec_col).alias(id_from + "_vec"))
    return src.mapInPandas(
        run, f"{out_id} long, unit array<double>, tab int, bucket long"
    )


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH: both sides are
    bucketed by sign pattern in each of `n_tables` independent tables; only
    same-bucket pairs are scored. Candidate volume drops by ~2^n_planes per
    table; the join is a uniform equi-join on (table, bucket). Bucketing
    runs as a numpy GEMM (`_bucketize_np`); `_plane_signs` is the
    pure-expression reference of the same idea (different plane family)."""
    c = _bucketize_np(
        corpus, "neighbor_id", id_col, vec_col, dim, n_planes, n_tables
    ).withColumnRenamed("unit", "c_unit")
    q = _bucketize_np(
        queries, "query_id", query_id_col, vec_col, dim, n_planes, n_tables
    ).withColumnRenamed("unit", "q_unit")
    cand = (
        c.join(q, on=["tab", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_unit", "c_unit")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sims = cand.select(
        "query_id", "neighbor_id", _dot(F.col("q_unit"), F.col("c_unit")).alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def rp_lsh_self_topk(
    corpus: DataFrame,
    query_pred,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """`rp_lsh_topk` for the self-lookup shape (queries ⊆ corpus, selected
    by `query_pred` over the id column): the corpus is bucketized ONCE and
    the query side is a filter of it. The bucket table IS the index — it's
    persisted so probe and query sides don't re-run the Python stage (in
    production this index is written to storage and reused across queries).

    `planes`: explicit plane columns (see `md5_rademacher_planes`) for
    cross-engine-reproducible buckets; default is the PCG64 Gaussian family.
    """
    c = _bucketize_np(
        corpus, "neighbor_id", id_col, vec_col, dim, n_planes, n_tables, planes=planes
    ).persist()
    q = (
        c.filter(query_pred(F.col("neighbor_id")))
        .select(
            F.col("neighbor_id").alias("query_id"),
            F.col("unit").alias("q_unit"),
            "tab",
            "bucket",
        )
    )
    cand = (
        c.withColumnRenamed("unit", "c_unit")
        .join(q, on=["tab", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_unit", "c_unit")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sims = cand.select(
        "query_id", "neighbor_id", _dot(F.col("q_unit"), F.col("c_unit")).alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization: per-vector scale = max|x|/127, codes =
    floor(x/scale + 0.5) ∈ [-127, 127]. Cuts vector storage/shuffle bytes
    4× (float32→int8) and 8× vs float64 — the standard first step before
    ANN at 100 TB (IVF lists of int8 codes + per-vector scale). floor(+0.5)
    instead of round(): identical half-up semantics in every engine,
    whereas round() half-even/half-away behavior differs.

    Returns (id, scale double, qvec array<int>); reconstruct x ≈ q*scale.
    Zero vectors get scale=1 so codes stay defined (all zeros).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    raw_scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    s = F.when(raw_scale == 0.0, F.lit(1.0)).otherwise(raw_scale)
    return df.select(
        F.col(id_col),
        s.alias("scale"),
        F.transform(v, lambda x: F.floor(x / s + F.lit(0.5)).cast("int")).alias("qvec"),
    )


def ivf_centroids(
    u: DataFrame, step: int, n_centroids: int, id_col: str = "vec_id"
) -> DataFrame:
    """SHUFFLE-FREE deterministic centroid sample: rows with
    `id % step == 0`, `centroid_id = id // step`. The filter pushes to the
    scan and the tiny centroid set broadcasts; there is no global
    sort/window anywhere (an unpartitioned row_number would funnel the
    whole corpus through one task — the classic 100 TB scale-killer). For
    dense 0..N-1 ids this picks exactly n_centroids evenly-spaced vectors;
    for sparse id spaces substitute a hash-mod rule (e.g. md5(id) % m == 0)
    — same shape. `u` must carry a `unit` column (see with_unit_vector)."""
    return u.filter(
        (F.col(id_col) % step == 0) & (F.col(id_col) < step * n_centroids)
    ).select(
        (F.col(id_col) / step).cast("int").alias("centroid_id"),
        F.col("unit").alias("c_vec"),
    )


def auto_n_centroids(n: int, floor: int = 16) -> int:
    """√N-scaled centroid count: the smallest power of two `c >= floor`
    with c² ≥ n, so inverted lists hold ~√n vectors.

    Fixed n_centroids is the IVF scaling cliff: list size grows ∝ N, so
    per-query candidate scoring grows ∝ N and (with a query set that also
    grows) total probe work goes quadratic — profiled on the 8× stress
    corpus as a 49.6k → 6.39M candidate blow-up (129×) with score+topk
    28× slower. With c ≈ √N per-query work grows as √N — the standard
    IVF operating point (FAISS guideline: nlist ≈ √N to 4√N).

    Power of two + integer comparison keeps the rule engine-exact so the
    SQL oracle replays the same centroid set at any corpus size.
    """
    c = floor
    while c * c < n:
        c *= 2
    return c


def require_centroids(centroids: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Guard the `ivf_centroids` dense-id precondition in code: on a sparse
    or offset id space the `id % step` sample can yield zero rows, and an
    empty centroid set silently produces an empty inverted file — every ANN
    probe then returns no neighbors with no error. The centroid set is
    driver-tiny by construction (it broadcasts downstream), so one count at
    build time is free relative to the build itself."""
    if centroids.limit(1).count() == 0:
        raise ValueError(
            f"ivf_centroids produced an empty centroid set: the `{id_col} % step` "
            "sample assumes dense 0..N-1 ids. For sparse/offset id spaces, "
            "derive a dense surrogate id first or use a hash-mod sample "
            "(e.g. filter on md5(id) % m == 0) before building the inverted file."
        )
    return centroids


def ivf_invert(u: DataFrame, centroids: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """The inverted file: each corpus vector → nearest centroid. Assignment
    is an argmax AGGREGATION (max_by over lexicographic (sim, -centroid_id)
    — same tie-break as ORDER BY sim DESC, centroid_id ASC), not a window:
    partial aggregation combines map-side and there is no per-id sort."""
    return (
        u.crossJoin(F.broadcast(centroids))
        .withColumn("c_sim", _dot(F.col("unit"), F.col("c_vec")))
        .groupBy(id_col)
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("c_sim"), (-F.col("centroid_id")).alias("_nc"))
            ).alias("centroid_id"),
            F.first("unit").alias("c_unit"),  # identical across the group
        )
        .select(F.col(id_col).alias("neighbor_id"), "centroid_id", "c_unit")
    )


def probe_routing(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """The IVF probe-selection frame: each query routed to its `n_probe`
    nearest centroids — (query_id, centroid_id, q_unit), n_queries·n_probe
    rows. Factored out of `ivf_probe_score` (r14 VERDICT #3) so audit
    callers can compute the routing ONCE, checkpoint it, and statically
    prune the inverted scan — Spark's dynamic partition pruning otherwise
    re-executes this whole frame (cross join + window) as a subquery."""
    qu = with_unit_vector(queries, vec_col, "q_unit").select(
        F.col(query_id_col).alias("query_id"), "q_unit"
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    return (
        qu.crossJoin(F.broadcast(centroids))
        .withColumn("c_sim", _dot(F.col("q_unit"), F.col("c_vec")))
        .withColumn("_r", F.row_number().over(probe_w))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "centroid_id", "q_unit")
    )


def ivf_probe_score(
    inverted: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    probes: DataFrame | None = None,
) -> DataFrame:
    """Route each query to its `n_probe` nearest centroids and score only
    those inverted lists — equi-joins on centroid_id throughout. Works the
    same whether `inverted`/`centroids` were just built or loaded from a
    persisted index (operators/index.py).

    `probes` overrides the routing with a PRE-COMPUTED (typically
    checkpointed) `probe_routing` frame. Callers passing it contract that
    the frame is bounded (audit-sized query sets), so the join broadcasts
    it — the default in-line routing keeps the planner's choice because
    inline callers (ivf_topk over a whole corpus) can be arbitrarily
    large on the query side."""
    if probes is None:
        probes = probe_routing(queries, centroids, n_probe, vec_col, query_id_col)
    else:
        probes = F.broadcast(probes)
    sims = (
        inverted.join(probes, on="centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", _dot(F.col("q_unit"), F.col("c_unit")).alias("cosine_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda s, x: s + x
    )


def pq_codebooks(
    u: DataFrame,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    corpus_count: int | None = None,
) -> DataFrame:
    """Deterministic product-quantization codebooks: split the vector into
    `m` subspaces of dim/m; subspace s's codebook = the s-th subvectors of
    `ksub` evenly-spaced sample rows — the same shuffle-free `id % step`
    sample as `ivf_centroids` (k-means would give tighter cells but is
    neither deterministic nor oracle-reproducible; sampled codebooks are
    the standard bootstrap and both engines can replay them exactly).

    Returns (s, code, sub_vec) — m·ksub rows, broadcast-size by
    construction. `u` must carry a `unit` column.
    """
    if dim % m != 0:
        raise ValueError("dim must be divisible by m")
    d_sub = dim // m
    total = corpus_count if corpus_count is not None else u.count()
    step = max(1, total // ksub)
    sample = u.filter(
        (F.col(id_col) % step == 0) & (F.col(id_col) < step * ksub)
    ).select((F.col(id_col) / step).cast("int").alias("code"), "unit")
    cb = sample.select(
        "code",
        F.posexplode(
            F.array(*[F.slice("unit", s * d_sub + 1, d_sub) for s in range(m)])
        ).alias("s", "sub_vec"),
    ).select("s", "code", "sub_vec")
    if cb.limit(1).count() == 0:
        raise ValueError(
            "pq_codebooks produced an empty sample: the `id % step` rule "
            "assumes dense 0..N-1 ids (see require_centroids for the fix)."
        )
    return cb


def pq_encode(
    u: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-encode each vector: per subspace, the nearest codebook entry by
    L2 (ties → lowest code). Storage per vector drops from dim·8 bytes to
    m codes (m bytes at ksub ≤ 256) — the memory layout ANN shops use for
    billion-vector corpora. Plan: subvector explode (map-side) → broadcast
    codebook join → per-(vector, subspace) argmin AGGREGATION (min of
    (dist, code) structs — no window), → one array per vector.

    Returns (id, codes array<int> ordered by subspace).
    """
    d_sub = dim // m
    sub_rows = u.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice("unit", s * d_sub + 1, d_sub) for s in range(m)])
        ).alias("s", "v_sub"),
    )
    best = (
        sub_rows.join(F.broadcast(codebooks), on="s")
        .withColumn("dist", _l2(F.col("v_sub"), F.col("sub_vec")))
        .groupBy(id_col, "s")
        .agg(F.min(F.struct(F.col("dist"), F.col("code"))).alias("_b"))
        .select(F.col(id_col), "s", F.col("_b.code").alias("code"))
    )
    return (
        best.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("s", "code"))).alias("_sc"))
        .select(
            F.col(id_col),
            F.transform(F.col("_sc"), lambda x: x["code"]).alias("codes"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    corpus_count: int | None = None,
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """ANN via product quantization with asymmetric distance computation
    (ADC; Jégou/Douze/Schmid, TPAMI 2011): queries stay exact, corpus
    vectors are m quantization codes, and sim(q, x) ≈ Σ_s lut[s][code_s]
    where the per-query lookup table holds q's inner product with every
    codebook entry.

    Execution is the `brute_force_topk` shape, not a row join: the LUT
    ((m, |Q|, ksub) floats — query-side, broadcast by precondition)
    ships to executors and the CODES stream through one mapInPandas
    doing table lookups + an m-term accumulation per (vector, query),
    emitting only per-batch local top-k. Candidate shuffle is
    O(batches × |Q| × k). An earlier draft exploded codes and equi-
    joined a LUT DataFrame on (s, code) — only m·ksub distinct keys, so
    the join materialized O(|C|·|Q|·m) rows through a shuffle and went
    quadratic at 8× stress (38×). Partial sims accumulate s=0..m-1
    sequentially — the same fixed order the SQL oracle's ordered
    list_sum uses, so float non-associativity can't flip ranks.

    Returns (query_id, neighbor_id, pq_sim, rank) — approximate sims;
    recall vs exact pinned in tests.
    """
    spark = corpus.sparkSession
    if (codebooks is None) != (encoded is None):
        raise ValueError("pass both codebooks and encoded, or neither")
    if codebooks is None:
        u = with_unit_vector(corpus, vec_col, "unit")
        cb = pq_codebooks(u, m, ksub, dim, id_col, corpus_count)
        enc = pq_encode(u, cb, m, dim, id_col)
    else:
        # prebuilt PQ layout (persisted codebooks + codes): sub_vec float64
        # arrays and int codes roundtrip parquet exactly, so ADC scoring is
        # bit-identical to the inline build (pinned in tests)
        cb, enc = codebooks, encoded
    d_sub = dim // m

    q_rows = with_unit_vector(queries, vec_col, "q_unit").select(
        F.col(query_id_col), F.col("q_unit")
    ).collect()
    if not q_rows:
        return local_frame(
            spark,
            [], "query_id long, neighbor_id long, pq_sim double, rank int"
        )
    cb_rows = cb.collect()  # m·ksub rows — broadcast-size by construction

    import numpy as np

    q_ids = np.asarray([r[0] for r in q_rows], dtype="int64")
    q_mat = np.asarray([r[1] for r in q_rows], dtype="float64")  # (Q, dim)
    cb_mat = np.zeros((m, ksub, d_sub), dtype="float64")
    for r in cb_rows:
        cb_mat[r["s"], r["code"]] = np.asarray(r["sub_vec"], dtype="float64")
    # lut[s] = (Q, ksub): q's inner product with every code of subspace s.
    # Accumulated term-by-term in coordinate order (not BLAS GEMM): dgemm's
    # blocked/FMA summation can land one ulp off the oracle's sequential
    # list_sum, and ranks compare raw floats. m·ksub·d_sub is tiny.
    lut = np.zeros((m, q_mat.shape[0], ksub), dtype="float64")
    for s in range(m):
        for i in range(d_sub):
            lut[s] += q_mat[:, s * d_sub + i, None] * cb_mat[s][None, :, i]
    bc = spark.sparkContext.broadcast((q_ids, lut))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_lut = bc.value
        n_q = b_ids.shape[0]
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy(dtype="int64")
            codes = np.asarray([np.asarray(c, dtype="int64") for c in pdf["codes"]])
            sims = np.zeros((codes.shape[0], n_q), dtype="float64")
            for s in range(m):  # fixed subspace order — oracle-exact sums
                sims += b_lut[s][:, codes[:, s]].T
            sims[c_ids[:, None] == b_ids[None, :]] = -np.inf  # self-match
            kk = min(k, sims.shape[0])
            idx = np.argpartition(-sims, kth=kk - 1, axis=0)[:kk]
            qi = np.broadcast_to(np.arange(n_q), idx.shape)
            flat = sims[idx, qi].ravel()
            keep = flat > -np.inf
            yield pd.DataFrame(
                {
                    "query_id": np.broadcast_to(b_ids, idx.shape).ravel()[keep],
                    "neighbor_id": c_ids[idx.ravel()][keep],
                    "pq_sim": flat[keep],
                }
            )

    cand = enc.mapInPandas(score, "query_id long, neighbor_id long, pq_sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("pq_sim"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assignment_profile(
    corpus: DataFrame,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
    centroids: DataFrame | None = None,
    inverted: DataFrame | None = None,
) -> DataFrame:
    """IVF index health profile — the rebuild-cadence signal: per centroid,
    the inverted-list size and the floored-e6 min/mean/max cosine of its
    assigned vectors. A drifting corpus shows up here before recall
    degrades: list sizes skew (hot centroids) and assignment sims sink
    (vectors far from every centroid). Same assignment plan as
    `ivf_invert` (broadcast centroids + argmax aggregation, no window);
    per-vector sims floor to integers BEFORE the centroid-level
    aggregation so mean = floor(sum/size) is engine-exact.

    `centroids`/`inverted`: pass BOTH to profile a prebuilt assignment
    (a persisted index's frames) instead of re-running the argmax over
    the corpus: each vector's sim to its ASSIGNED centroid is recomputed
    scan-side (one broadcast join) — the same _dot on the same float64
    operands the argmax would have won with, so the floored e6 values
    are bit-identical to the inline path (pinned in tests).

    Returns (centroid_id, list_size, mean_sim_e6, min_sim_e6, max_sim_e6).
    """
    if (centroids is None) != (inverted is None):
        raise ValueError("pass both centroids and inverted, or neither")
    if centroids is not None:
        best = inverted.join(F.broadcast(centroids), on="centroid_id").select(
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.floor(_dot(F.col("c_unit"), F.col("c_vec")) * 1_000_000)
            .cast("long")
            .alias("sim_e6"),
        )
        return _centroid_list_stats(best)
    u = with_unit_vector(corpus, vec_col, "unit")
    total = corpus_count if corpus_count is not None else corpus.count()
    if n_centroids is None:  # √N rule — see auto_n_centroids
        n_centroids = auto_n_centroids(total)
    step = max(1, total // n_centroids)
    centroids = require_centroids(
        ivf_centroids(u, step, n_centroids, id_col), id_col=id_col
    )
    best = (
        u.crossJoin(F.broadcast(centroids))
        .withColumn("c_sim", _dot(F.col("unit"), F.col("c_vec")))
        .groupBy(id_col)
        .agg(
            # lexicographic max over (sim, -centroid_id): same argmax +
            # tie-break as ivf_invert, but keeping the winning sim too
            F.max(
                F.struct(F.col("c_sim"), (-F.col("centroid_id")).alias("_nc"))
            ).alias("_best")
        )
        .select(
            (-F.col("_best._nc")).cast("int").alias("centroid_id"),
            F.floor(F.col("_best.c_sim") * 1_000_000).cast("long").alias("sim_e6"),
        )
    )
    return _centroid_list_stats(best)


def _centroid_list_stats(best: DataFrame) -> DataFrame:
    """Shared aggregation tail of ivf_assignment_profile: (centroid_id,
    sim_e6) rows → per-centroid list size + floored-mean/min/max sims."""
    return best.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("list_size"),
        F.floor(F.sum("sim_e6").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_sim_e6"),
        F.min("sim_e6").alias("min_sim_e6"),
        F.max("sim_e6").alias("max_sim_e6"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    corpus_count: int | None = None,
    centroids: DataFrame | None = None,
    inverted: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN, built inline: centroid sample → inverted file →
    probe/score (see the three helpers for the plan rationale; the
    persisted-index variant in operators/index.py composes the same
    helpers, so results are bit-identical).

    `n_centroids=None` (default) applies the √N rule (`auto_n_centroids`)
    so inverted lists — and with them per-query probe work — grow as √N
    instead of N; pass an explicit value to pin an index layout.

    `corpus_count`: pass a known/cached |C| to avoid the count job — at
    scale this is a catalog statistic, not an action per query.

    `centroids`/`inverted`: pass BOTH to probe a prebuilt assignment
    (e.g. the frames of a persisted index) instead of rebuilding it —
    the materialize-once rule for a family of queries sharing one
    layout. Unit vectors roundtrip parquet exactly (float64), so the
    probe result is bit-identical to the inline build (pinned in
    tests/test_similarity.py).
    """
    if (centroids is None) != (inverted is None):
        raise ValueError("pass both centroids and inverted, or neither")
    if centroids is None:
        u = with_unit_vector(corpus, vec_col, "unit")
        total = corpus_count if corpus_count is not None else corpus.count()
        if n_centroids is None:
            n_centroids = auto_n_centroids(total)
        step = max(1, total // n_centroids)
        centroids = require_centroids(
            ivf_centroids(u, step, n_centroids, id_col), id_col=id_col
        )
        inverted = ivf_invert(u, centroids, id_col)
    return ivf_probe_score(
        inverted, centroids, queries, k, n_probe, vec_col, query_id_col
    )


def auto_dedup_centroids(n: int, target: int = 64, floor: int = 16) -> int:
    """Centroid count for cluster-then-prune dedup: the smallest power of
    two c ≥ floor with c·target ≥ n, so clusters average ≤ `target`
    members. Unlike ANN's √N rule (`auto_n_centroids`, which balances
    probe cost), dedup does ALL-PAIRS work inside each cluster — √N
    clusters of √N members would make total pair work N^1.5. With
    bounded cluster size the pair stage is N·target — linear in the
    corpus (SemDeDup's published operating point: cluster count ∝ N).
    Power of two + integer comparison keeps the rule engine-exact so the
    SQL oracle replays the identical clustering at any corpus size."""
    c = floor
    while c * target < n:
        c *= 2
    return c


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.92,
    n_centroids: int | None = None,
    cluster_target: int = 64,
    corpus_count: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): cluster-then-prune
    semantic deduplication — assign every embedding to its nearest
    centroid, compare pairs ONLY within a cluster, and drop the
    higher-id member of every pair with cosine ≥ threshold. The
    embedding-space complement of the lexical MinHash/LSH family: it
    catches paraphrases and re-encodings that share no shingles, at
    cluster-local cost instead of corpus-quadratic.

    Deterministic keep rule (engine-exact): a vector is dropped iff some
    LOWER-id vector in its cluster is ≥τ-similar — no iterative
    clustering, no float accumulation across rows; each cosine is one
    fixed-order fold of the two unit vectors, identical in the SQL
    oracle. (SemDeDup keeps the member farthest from the centroid; the
    lowest-id rule is the same one-per-near-clique contract with a
    total-order tie-break both engines share.)

    Plan shape for 100 TB:
    - centroid sample broadcasts (`ivf_centroids`, shuffle-free);
      assignment is the map-side argmax aggregation of `ivf_invert`.
    - the pair stage is an equi-join on centroid_id: with
      `auto_dedup_centroids` cluster size averages ≤ cluster_target, so
      pair work is N·target (linear), never N² — and never N^1.5, the
      trap of reusing ANN's √N centroid rule here.
    - the keep verdict is a groupBy on the higher id (map-side combine)
      joined back to the assignment — all shuffles are on id/centroid
      keys.

    Output: (id_col, centroid_id, keep, n_dups, dup_of) where n_dups =
    count of lower-id ≥τ partners in-cluster and dup_of = the smallest
    such id (NULL ⇒ keep=true).
    """
    u = with_unit_vector(corpus, vec_col, "unit")
    total = corpus_count if corpus_count is not None else corpus.count()
    if n_centroids is None:
        n_centroids = auto_dedup_centroids(total, cluster_target)
    step = max(1, total // n_centroids)
    centroids = require_centroids(
        ivf_centroids(u, step, n_centroids, id_col), id_col=id_col
    )
    # materialize the assignment ONCE: it feeds three consumers (both pair
    # sides + the verdict join) and would otherwise recompute its
    # crossJoin+argmax subtree — and re-scan the corpus — per consumer
    inverted = ivf_invert(u, centroids, id_col).transform(_checkpoint, eager=False)
    a = inverted.select(
        F.col("neighbor_id").alias("_ida"), "centroid_id", F.col("c_unit").alias("_ua")
    )
    b = inverted.select(
        F.col("neighbor_id").alias("_idb"), "centroid_id", F.col("c_unit").alias("_ub")
    )
    marks = (
        a.join(b, "centroid_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(_dot(F.col("_ua"), F.col("_ub")) >= F.lit(float(threshold)))
        .groupBy("_idb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("_ida").alias("dup_of"),
        )
    )
    return (
        inverted.join(marks, inverted["neighbor_id"] == marks["_idb"], "left")
        .select(
            F.col("neighbor_id").alias(id_col),
            "centroid_id",
            F.col("dup_of").isNull().alias("keep"),
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("long").alias("n_dups"),
            "dup_of",
        )
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    lo_e6: int = 150000,
    hi_e6: int = 350000,
    k: int = 5,
    q_scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for every
    anchor vector, the top-k corpus vectors whose cosine falls in the
    band [lo_e6, hi_e6) — similar enough to be confusable, far enough to
    be true negatives (the standard contrastive-training recipe; an
    upper band edge also excludes near-duplicate false negatives).

    Integer-exact on the `quantized_rel_frame` contract: coordinates
    quantize to floor(q_scale·x) BIGINT, dots are exact integer folds,
    sim_e6 = floor(1e6·dot/(sqrt·sqrt)) — engine-identical, so the SQL
    oracle replays band membership and ranking bit-for-bit. Zero-norm
    vectors and self-pairs are excluded.

    Plan shape for 100 TB: the anchor set is contractually small and
    BROADCASTS; quantization + the dot fold run scan-side on the corpus
    (one pass, no corpus shuffle); the band predicate prunes candidates
    before the only keyed exchange — the per-anchor top-k window over
    band survivors. A pathologically wide band with few anchors would
    skew that window; widen the anchor set or tighten the band rather
    than raising k (the knobs the training recipe already owns).

    Output: (anchor_id, {id_col}, sim_e6, rank), rank 1..k per anchor by
    (sim_e6 desc, id asc).
    """
    def _q(df, out_id):
        qv = F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(q_scale))).cast("long"),
        )
        return df.select(F.col(id_col).alias(out_id), qv.alias(f"_qv_{out_id}")).select(
            out_id,
            f"_qv_{out_id}",
            F.aggregate(
                f"_qv_{out_id}", F.lit(0).cast("long"), lambda acc, x: acc + x * x
            ).alias(f"_n2_{out_id}"),
        ).filter(F.col(f"_n2_{out_id}") > 0)

    c = _q(corpus, "cand_id")
    a = _q(anchors, "anchor_id")
    dot = F.aggregate(
        F.zip_with("_qv_cand_id", "_qv_anchor_id", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = F.floor(
        (F.lit(1000000.0) * dot.cast("double"))
        / (
            F.sqrt(F.col("_n2_cand_id").cast("double"))
            * F.sqrt(F.col("_n2_anchor_id").cast("double"))
        )
    ).cast("long")
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim_e6"), F.asc("cand_id"))
    return (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("cand_id") != F.col("anchor_id"))
        .select("anchor_id", "cand_id", sim.alias("sim_e6"))
        .filter((F.col("sim_e6") >= int(lo_e6)) & (F.col("sim_e6") < int(hi_e6)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("anchor_id", F.col("cand_id").alias(id_col), "sim_e6", "rank")
    )


def kmeans_step(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """One Lloyd iteration of k-means over an embedding column: assign
    every vector to its nearest seed centroid, then emit the exact
    per-(cluster, dimension) update statistics — the building block the
    IVF index's centroid refinement and any embedding-space clustering
    loop repeat (X3's training half; `ivf_centroids` is the inference
    half that CONSUMES a centroid set).

    The whole step is INTEGER-EXACT end to end (the repo's fixed-point
    contract, pushed into the assignment itself): every vector is
    fixed-pointed ONCE scan-side (xi = floor(x·scale) as BIGINT), and
    nearest-centroid is the integer argmax of 2·(xi·ci) − |ci|² (≡
    argmin squared L2 over the fixed-point grid — the float argmin's
    engine-portability hazard is a near-tie flipping on a final ulp;
    integer scores cannot tie-break differently anywhere). Seeds are
    the vectors with id < k (deterministic; the caller remaps ids or
    pre-samples to choose differently), collected AS ALREADY-FLOORED
    INTS — k rows, k·dim longs, well under the repo's ≤256-entry
    collect budget — and inlined into one scan-side expression; ties
    break to the smallest centroid id. Overflow bound: |xi|≤|x|·scale,
    so dim·(max|x|·scale)² must stay below 2⁶³ — 64 dims at |x|≤10,
    scale=1e6 is ~6e15, three decimal orders of headroom.

    The corpus is scanned ONCE, map-only, then one (cluster, dim)-keyed
    aggregation — at 100 TB this is a broadcast-free narrow scan plus a
    k·dim-group shuffle, the canonical distributed-kmeans shape.

    Update statistics: sum_e6 = Σ xi per (cluster, dim), and
    centroid_e6 = floor(sum_e6 / n) — the next-iteration centroid at
    fixed point, reproducible bit-for-bit by any engine.

    Returns (cluster_id, dim, n_members, sum_e6, centroid_e6),
    k·dim rows.
    """
    xi = _fixed_point_frame(emb, vec_col, scale)
    seeds = (
        emb.filter(F.col(id_col) < k)
        .select(
            F.col(id_col).cast("long").alias("_cid"),
            _v_int(vec_col, scale).alias("_c"),
        )
        .collect()
    )
    if len(seeds) != k:
        raise ValueError(f"kmeans_step: need seed ids 0..{k-1}, found {len(seeds)}")
    cents = [(int(r["_cid"]), [int(ci) for ci in r["_c"]]) for r in seeds]
    return _assign_stats(xi, cents)


def _v_int(vec_col: str, scale: int):
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )


def _fixed_point_frame(emb: DataFrame, vec_col: str, scale: int) -> DataFrame:
    return emb.select(_v_int(vec_col, scale).alias("_xi"))


def _assign_stats(xi: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Nearest-centroid assignment + per-(cluster, dim) update stats over
    a fixed-point frame (_xi: array<long>). `cents` are already-floored
    integer centroids; scoring is the integer argmax of 2·(x·c) − |c|²,
    ties to the smallest centroid id.

    The codebook is THREE parallel array literals (cids, vectors, norms)
    indexed by a `transform` over sequence(0, k−1), not k unrolled
    dot-product expressions — the unrolled form generates k·dim-term
    codegen whose compile time dominates at bench scale (measured
    3.2 s → 1.8 s at k=8, dim=64) and would not compile at all for large
    codebooks. r17 further collapsed the per-struct F.lit trees (k·dim
    CreateArray/Literal expression nodes, ~0.3–0.5 s of py4j + analysis
    PER ROUND at k=8·dim=64) into single array Literals: kmeans_train
    4.75 s → 2.4 s warm at sf0.1, bit-identical stats."""
    if not cents:
        raise ValueError("_assign_stats: empty centroid set")
    cents = sorted(cents)
    k = len(cents)
    cids = F.lit([int(cid) for cid, _ in cents]).cast("array<long>")
    cvecs = F.lit([[int(x) for x in c] for _, c in cents]).cast("array<array<long>>")
    nrms = F.lit([sum(x * x for x in c) for _, c in cents]).cast("array<long>")
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.struct(
            (
                -(
                    F.lit(2).cast("long")
                    * F.aggregate(
                        F.zip_with(F.col("_xi"), cvecs[j], lambda x, y: x * y),
                        F.lit(0).cast("long"),
                        lambda a, x: a + x,
                    )
                    - nrms[j]
                )
            ).alias("ns"),
            cids[j].alias("cid"),
        ),
    )
    # struct sort key: ascending (−score, cid) ≡ best score, tie → min id
    best = F.array_sort(scored)[0]["cid"]
    # the struct-field access and the posexplode generator must live in
    # SEPARATE selects: Spark 4.1's single-pass resolver strips struct
    # field names when a lambda-built named struct and a generator share
    # one projection (FIELD_NOT_FOUND col1/col2 otherwise)
    assigned = xi.select(best.alias("cluster_id"), F.col("_xi")).select(
        "cluster_id", F.posexplode(F.col("_xi")).alias("dim", "_x")
    )
    return (
        assigned.groupBy("cluster_id", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("_x").alias("sum_e6"),
        )
        .select(
            "cluster_id",
            "dim",
            "n_members",
            "sum_e6",
            F.floor(F.col("sum_e6").cast("double") / F.col("n_members"))
            .cast("long")
            .alias("centroid_e6"),
        )
    )


def kmeans_train(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
    max_codebook: int = 8192,
) -> DataFrame:
    """`rounds` Lloyd iterations — the training LOOP built from
    `kmeans_step`'s integer-exact assignment: round r+1's centroids are
    round r's floored means (centroid_e6), so the whole trajectory lives
    on the fixed-point grid and a SQL oracle replays it as `rounds`
    unrolled CTE levels (the pagerank/LPA fixed-trajectory contract,
    applied to embedding-space training).

    Per round: ONE narrow scan of the fixed-pointed corpus (cached once
    via localCheckpoint — vectors are fixed-pointed once, not per round)
    + one k·dim-group aggregation, then a k·dim-row collect (the next
    codebook — bounded by `max_codebook`, default 8192 entries ≈ 64 KB;
    raises above it rather than collecting unbounded state). That is the
    canonical distributed-kmeans loop: broadcast codebook down,
    aggregate statistics up, driver holds nothing but the codebook.

    A cluster that loses all members vanishes from the stats and from
    every later round's codebook (documented — standard Lloyd behavior;
    reseed strategies are a caller policy). Returns the final round's
    (cluster_id, dim, n_members, sum_e6, centroid_e6).
    """
    if rounds < 1:
        raise ValueError("kmeans_train: rounds must be >= 1")
    seeds = (
        emb.filter(F.col(id_col) < k)
        .select(
            F.col(id_col).cast("long").alias("_cid"),
            _v_int(vec_col, scale).alias("_c"),
        )
        .collect()
    )
    # dim comes from the seed rows themselves (r17: the separate
    # limit(1) dim-probe job collected the same k·dim-bounded volume the
    # seeds do, so probing first protected nothing — one driver
    # round-trip saved per training call). The guard still fires before
    # any corpus-sized work or stats collect.
    # A NULL vector on ANY seed row would otherwise surface as a bare
    # TypeError from len(None) or the codebook build below; the budget
    # check itself still runs on the seed rows already in hand — the k
    # seed vectors are the ONLY driver pull before the guard, bounded by
    # k·dim of the caller's own seeds, and folding the dim probe into
    # this collect saved a full driver round-trip per training call (r17)
    null_ids = sorted(int(r["_cid"]) for r in seeds if r["_c"] is None)
    if null_ids:
        raise ValueError(
            f"kmeans_train: seed vector for id {null_ids[0]} is NULL — "
            f"every seed row must carry a non-null `{vec_col}`"
        )
    if seeds and len(seeds[0]["_c"]) * k > max_codebook:
        raise ValueError(
            f"kmeans_train: k·dim = {len(seeds[0]['_c']) * k} exceeds the "
            f"{max_codebook}-entry codebook collect budget"
        )
    if len(seeds) != k:
        raise ValueError(f"kmeans_train: need seed ids 0..{k-1}, found {len(seeds)}")
    xi = _fixed_point_frame(emb, vec_col, scale).transform(_checkpoint, eager=False)
    cents = [(int(r["_cid"]), [int(ci) for ci in r["_c"]]) for r in seeds]
    stats = _assign_stats(xi, cents)
    for _ in range(rounds - 1):
        rows = stats.select("cluster_id", "dim", "centroid_e6").collect()
        by_cid: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cid.setdefault(int(r["cluster_id"]), {})[int(r["dim"])] = int(
                r["centroid_e6"]
            )
        cents = [
            (cid, [dims[d] for d in sorted(dims)]) for cid, dims in sorted(by_cid.items())
        ]
        stats = _assign_stats(xi, cents)
    return stats


def centroid_similarity(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Class/source CENTROID similarity matrix — the embedding-space audit
    behind "which corpus slices / label classes are entangled": per group
    the mean vector, then every pairwise (and self) dot product. High
    cross-group dot relative to the self dots = overlapping clusters →
    expect label noise, near-dup leakage across sources, or a collapsed
    embedding model.

    Integer-exact end to end: vectors fix to e3 ints scan-side, per-
    (group, dim) SUMS are exact int64, and the centroid is the FLOORED
    mean re-scaled to e6 (the kmeans centroid_e6 contract) — so the
    centroid magnitude is bounded by the data range, never by row count,
    and every product fits int64 at any corpus size. One (group, dim)
    aggregation (map-side partials over the posexploded dims) is the only
    corpus-sized shuffle; the pairwise join runs on the |groups|·dim
    centroid matrix.

    Returns (label_a, label_b, n_a, n_b, dot_e12) for a <= b — the (a, a)
    rows are the squared centroid norms.
    """
    xe = emb.select(
        F.col(group_col).alias("_g"),
        F.posexplode(_v_int(vec_col, scale)).alias("_dim", "_v"),
    )
    sums = xe.groupBy("_g", "_dim").agg(
        F.sum("_v").cast("long").alias("_s"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    cent = sums.select(
        "_g",
        "_dim",
        "_n",
        F.floor(F.col("_s").cast("double") * F.lit(1000.0) / F.col("_n"))
        .cast("long")
        .alias("_m"),
    )
    a, b = cent.alias("a"), cent.alias("b")
    return (
        a.join(
            b,
            (F.col("a._dim") == F.col("b._dim")) & (F.col("a._g") <= F.col("b._g")),
        )
        .groupBy(F.col("a._g").alias("label_a"), F.col("b._g").alias("label_b"))
        .agg(
            F.max("a._n").cast("long").alias("n_a"),
            F.max("b._n").cast("long").alias("n_b"),
            F.sum(F.col("a._m") * F.col("b._m")).cast("long").alias("dot_e12"),
        )
    )


def pca_power_iteration(
    emb: DataFrame,
    rounds: int = 3,
    vec_col: str = "embedding",
    scale: int = 1000,
    out_scale: int = 10**6,
) -> DataFrame:
    """Matrix-free distributed PCA power method — `rounds` iterations of
    v ← normalize(Xᵀ(X·v)) over the (uncentered) second-moment operator,
    the workhorse behind spectral embedding audits and low-rank
    compression. The covariance matrix is NEVER materialized: each round
    is (1) a scan-side integer dot s_r = x_r·v (map-only), (2) one
    dim-keyed aggregation u_d = Σ_r floor(s_r/1e6)·x_rd, (3) a 64-entry
    collect of the re-normalized v — the kmeans codebook loop applied to
    an eigensolver. That is the 100 TB shape: per round one corpus scan,
    one 64-group shuffle, O(dim) driver state.

    The trajectory is integer-exact on the fixed-point grid: vectors fix
    to e3 ints once (localCheckpoint), v is e6 ints, the s_r rescale is
    an explicit FLOOR (floor ≠ toward-zero truncation for negatives —
    div would diverge from the SQL oracle), and re-normalization floors
    (u/max|u|)·1e6 on identical doubles. A SQL oracle replays all rounds
    as unrolled CTE levels. Downscaling s_r bounds u_d by ~1e7·n — int64
    through trillion-row corpora.

    Returns the final direction estimate: (dim, v_e6), dim 0..d-1.
    """
    if rounds < 1:
        raise ValueError("pca_power_iteration: rounds must be >= 1")
    # LAZY checkpoint + dim probe against it (r17): the probe's 1-row job
    # starts persisting the fixed-point blocks it touches and round 1
    # materializes the rest in ITS scan — one fewer full-pass job than
    # the old eager-checkpoint-then-probe sequence, same per-round reads.
    xi = _fixed_point_frame(emb, vec_col, scale).transform(_checkpoint, eager=False)
    dim_row = xi.select(F.size("_xi").alias("d")).limit(1).collect()
    if not dim_row:
        raise ValueError("pca_power_iteration: empty input")
    d = int(dim_row[0]["d"])
    v = [out_scale] * d
    for _ in range(rounds):
        # one array Literal, not d CreateArray legs (r17: the 64-F.lit
        # tree cost ~0.3 s of py4j + analysis per round and bloated the
        # codegen'd plan; values and arithmetic are unchanged)
        lit_v = F.lit([int(c) for c in v]).cast("array<long>")
        s = F.aggregate(
            F.zip_with(F.col("_xi"), lit_v, lambda x, c: x * c),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        scaled = F.floor(s.cast("double") / F.lit(float(out_scale))).cast("long")
        u_rows = (
            xi.select(scaled.alias("_s"), F.posexplode("_xi").alias("_dim", "_x"))
            .groupBy("_dim")
            .agg(F.sum(F.col("_s") * F.col("_x")).cast("long").alias("_u"))
            .collect()
        )
        u = [0] * d
        for r in u_rows:
            u[int(r["_dim"])] = int(r["_u"])
        m = max(max(abs(x) for x in u), 1)
        # identical-expression-tree doubles: floor((u/m)·1e6) in both engines
        v = [int(math_floor((x / m) * float(out_scale))) for x in u]
    spark = emb.sparkSession
    return local_frame(
        spark,
        [(i, v[i]) for i in range(d)], "dim int, v_e6 long"
    )


def knn_label_agreement(
    emb: DataFrame,
    k: int = 5,
    sample_mod: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-quality eval by label self-consistency: for a
    deterministic query sample (id % sample_mod == 0), how often do the
    exact-cosine k nearest neighbors carry the query's own label? The
    standard no-training probe of an embedding column — low agreement
    means the geometry doesn't encode the labels and a kNN/linear head
    will not either (`fisher_separation` is the per-dimension companion;
    this audits the whole space).

    Composes `brute_force_topk` (batch-local GEMM top-k, no |Q|·|C|
    shuffle) with `label_agreement_from_neighbors`, so the brute probe
    and the IVF twin reduce through the SAME per-label aggregate:

      (label, n_queries, n_retrieved, n_hits, agreement_e6)
      agreement_e6 = floor(1e6 · n_hits / n_retrieved)

    — exact integer division over exact counts; the denominator is the
    RETRIEVED count (r10 ADVICE: on a corpus with ≤ k rows after
    self-exclusion, dividing by n_queries·k would silently deflate the
    score instead of reflecting what was actually retrieved). The only
    float is the cosine RANKING, which random/learned embeddings make
    tie-free, so the top-k set (not just its order) is engine-stable.

    DRIVER-MEMORY BOUND (same contract as `similarity_topk`): this is
    the documented QUADRATIC BASELINE — `brute_force_topk` collects the
    query sample to the driver as numpy batches, and the `id % sample_mod`
    sample grows as N/sample_mod, so driver memory grows linearly with
    the corpus. It exists to calibrate the scale path, not to BE it: at
    production scale run `knn_label_agreement_ivf` (the persisted-√N-index
    twin, which bounds its query set by contract and probes only
    partition-pruned inverted lists).

    Scale (of the reduce): the label join is two id-keyed hash joins
    against the (queries·k)-row neighbor frame — corpus-size-independent
    once the top-k frame exists; the final agg carries ≤ n_labels rows.
    """
    topk = brute_force_topk(
        emb, emb.filter(F.col(id_col) % sample_mod == 0), k=k,
        id_col=id_col, vec_col=vec_col, query_id_col=id_col,
    )
    return label_agreement_from_neighbors(
        topk, emb, id_col=id_col, label_col=label_col
    )


def label_agreement_from_neighbors(
    topk: DataFrame,
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Reduce ANY (query_id, neighbor_id) top-k frame — brute, IVF, LSH —
    to the per-label agreement report. Denominator is the RETRIEVED
    count, not n_queries·k, so approximate indexes whose probed lists
    under-fill (an IVF query near a thin centroid) are scored on what
    they returned, keeping the metric comparable across index types.

    Returns (label, n_queries, n_retrieved, n_hits, agreement_e6) with
    agreement_e6 = floor(1e6 · n_hits / n_retrieved).
    """
    labels = emb.select(F.col(id_col), F.col(label_col))
    joined = (
        topk.join(
            labels.select(
                F.col(id_col).alias("query_id"), F.col(label_col).alias("_ql")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
            ),
            "neighbor_id",
        )
    )
    return (
        joined.groupBy(F.col("_ql").alias(label_col))
        .agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            F.sum(F.when(F.col("_nl") == F.col("_ql"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            label_col,
            "n_queries",
            "n_retrieved",
            "n_hits",
            F.expr("CAST((1000000 * n_hits) div n_retrieved AS BIGINT)").alias(
                "agreement_e6"
            ),
        )
    )
