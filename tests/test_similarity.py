"""Unit tests for vector similarity (SURVEY.md §2d X3): numpy path vs
expression path equivalence, near-dup thresholds, ANN recall sanity."""

import math
import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from commerce_data_pipeline_spark.operators import similarity as S


def _vecs(spark, n=40, dim=8, seed=7):
    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_similarity_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    out = df.select(S.cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()
    assert abs(out[0]["c"] - 0.0) < 1e-12
    assert abs(out[1]["c"] - 1.0) < 1e-12


def test_brute_force_numpy_matches_expr(spark):
    emb = _vecs(spark)
    q = emb.filter(F.col("vec_id") % 10 == 0)
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in S.brute_force_topk(emb, q, k=3).collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in S.brute_force_topk_expr(emb, q, k=3).collect()}
    assert a == b
    assert len(a) == 4 * 3  # 4 queries × k


def test_brute_force_excludes_self(spark):
    emb = _vecs(spark)
    out = S.brute_force_topk(emb, emb, k=3).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in out)


def test_near_dup_threshold(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.001, 0.0]),   # ≈ duplicate of 0
            (2, [0.0, 1.0, 0.0]),     # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in S.near_dup_pairs(df, threshold=0.99).collect()}
    assert pairs == {(0, 1)}


def test_near_dup_top_pairs_matches_full_ranking(spark):
    emb = _vecs(spark, n=30)
    full = S.near_dup_pairs(emb, threshold=-1.0).orderBy(
        F.desc("cosine_sim"), "id_a", "id_b"
    ).limit(5).collect()
    pruned = S.near_dup_pairs(emb, threshold=-1.0, top_pairs=5).orderBy(
        F.desc("cosine_sim"), "id_a", "id_b"
    ).limit(5).collect()
    assert [(r["id_a"], r["id_b"]) for r in full] == [(r["id_a"], r["id_b"]) for r in pruned]


def test_rp_lsh_recall(spark):
    emb = _vecs(spark, n=60)
    q = emb.filter(F.col("vec_id") < 3)
    exact = S.brute_force_topk(emb, q, k=1).collect()
    approx = S.rp_lsh_topk(emb, q, k=5, dim=8, n_planes=4, n_tables=6).collect()
    approx_by_q = {}
    for r in approx:
        approx_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # the true nearest neighbor should usually land in the LSH candidates
    hits = sum(1 for r in exact if r["neighbor_id"] in approx_by_q.get(r["query_id"], set()))
    assert hits >= 2  # 2 of 3 — probabilistic but deterministic given fixed seeds


def test_ivf_topk_shape_and_recall(spark):
    emb = _vecs(spark, n=60)
    q = emb.filter(F.col("vec_id") < 3)
    out = S.ivf_topk(emb, q, k=3, n_centroids=6, n_probe=3)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for rs in by_q.values():
        assert len(rs) == 3
        assert sorted(r["rank"] for r in rs) == [1, 2, 3]


def test_persisted_ivf_index_matches_inline(spark, tmp_path):
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    q = emb.filter(F.col("vec_id") < 3)
    inline = S.ivf_topk(emb, q, k=3, n_centroids=6, n_probe=3)
    path = f"file://{tmp_path}/ivf"
    assert not I.index_exists(spark, path)
    I.build_ivf_index(emb, path, n_centroids=6)
    assert I.index_exists(spark, path)
    indexed = I.ivf_query(spark, path, q, k=3, n_probe=3)
    key = lambda r: (r["query_id"], r["rank"])
    a = sorted(inline.collect(), key=key)
    b = sorted(indexed.collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]  # bit-identical
    # the inverted file is laid out one directory per centroid list
    names = {n for n in __import__("os").listdir(tmp_path / "ivf" / "inverted")}
    assert any(n.startswith("centroid_id=") for n in names)


def test_ivf_rebuild_over_pre_gen_index_leaves_no_gen_less_file(spark, tmp_path):
    """An in-place rebuild with fewer centroids over a pre-generation index
    (no `gen` column, no _GEN_UNIFORM marker) must replace every centroid
    list: a dynamic partition overwrite keeps the old lists the new build
    does not write, so gen-less files survive under a marker that says
    none exist, and their stale rows are read without mergeSchema."""
    import pyarrow.parquet as pq

    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=6)
    # rewrite it as a pre-gen index: same lists, no gen column, no marker
    spark.read.parquet(f"{path}/inverted").drop("gen").write.partitionBy(
        "centroid_id"
    ).parquet(f"file://{tmp_path}/pre_gen")
    shutil.rmtree(tmp_path / "ivf" / "inverted")
    shutil.move(tmp_path / "pre_gen", tmp_path / "ivf" / "inverted")
    os.remove(tmp_path / "ivf" / I._GEN_UNIFORM_MARKER)

    I.build_ivf_index(emb, path, n_centroids=2)
    inverted = tmp_path / "ivf" / "inverted"
    gen_less = [
        str(f.relative_to(inverted)) for f in inverted.rglob("*.parquet")
        if "gen" not in pq.read_schema(f).names
    ]
    assert gen_less == []
    assert (tmp_path / "ivf" / I._GEN_UNIFORM_MARKER).exists()
    listed = {d.name for d in inverted.iterdir() if d.name.startswith("centroid_id=")}
    routed = {f"centroid_id={r['centroid_id']}" for r in spark.read.parquet(f"{path}/centroids").collect()}
    assert listed == routed


def test_ivf_index_incremental_append(spark, tmp_path):
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    first = emb.filter(F.col("vec_id") < 40)
    later = emb.filter(F.col("vec_id") >= 40)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(first, path, n_centroids=6)
    I.append_to_ivf_index(later, path)
    # the index now covers the full corpus: probing everything must equal
    # probe/score against build-time centroids over all 60 vectors
    q = emb.filter(F.col("vec_id") < 3)
    got = I.ivf_query(spark, path, q, k=3, n_probe=6)
    centroids = spark.read.parquet(f"{path}/centroids")
    u = S.with_unit_vector(emb, "embedding", "unit")
    expect = S.ivf_probe_score(
        S.ivf_invert(u, centroids), centroids, q, k=3, n_probe=6
    )
    key = lambda r: (r["query_id"], r["rank"])
    assert [tuple(r) for r in sorted(got.collect(), key=key)] == [
        tuple(r) for r in sorted(expect.collect(), key=key)
    ]
    # appended vectors are actually reachable as neighbors
    neighbors = {r["neighbor_id"] for r in I.ivf_query(
        spark, path, later, k=1, n_probe=6).collect()}
    assert neighbors & set(range(40, 60))


def test_quantized_ivf_index_recall(spark, tmp_path):
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    q = emb.filter(F.col("vec_id") < 5)
    path = f"file://{tmp_path}/ivfq"
    I.build_ivf_index(emb, path, n_centroids=6, quantize=True)
    # quantized lists store int8 codes + scale, not float vectors
    stored = spark.read.parquet(f"{path}/inverted")
    assert {"qvec", "scale"} <= set(stored.columns) and "c_unit" not in stored.columns
    got = I.ivf_query(spark, path, q, k=3, n_probe=3)
    exact = S.ivf_topk(emb, q, k=3, n_probe=3, n_centroids=6)
    by_q = lambda rows: {
        qid: {r["neighbor_id"] for r in rows if r["query_id"] == qid}
        for qid in {r["query_id"] for r in rows}
    }
    g, e = by_q(got.collect()), by_q(exact.collect())
    # int8 error is tiny: demand >= 2/3 of exact neighbors per query
    assert set(g) == set(e)
    for qid in e:
        assert len(g[qid] & e[qid]) >= 2, (qid, g[qid], e[qid])


def test_quantize_int8_bounds_and_reconstruction(spark):
    emb = _vecs(spark, n=20)
    rows = S.quantize_int8(emb).collect()
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    assert len(rows) == 20
    for r in rows:
        assert all(-127 <= q <= 127 for q in r["qvec"])
        # per-coordinate reconstruction error is at most scale/2
        for x, q in zip(orig[r["vec_id"]], r["qvec"]):
            assert abs(x - q * r["scale"]) <= r["scale"] / 2 + 1e-12


def test_quantize_int8_zero_vector(spark):
    df = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
    r = S.quantize_int8(df).collect()[0]
    assert r["scale"] == 1.0
    assert list(r["qvec"]) == [0, 0, 0]


def test_unit_vector_norm(spark):
    df = spark.createDataFrame([(0, [3.0, 4.0])], "vec_id long, embedding array<float>")
    u = S.with_unit_vector(df).collect()[0]["unit"]
    assert abs(math.hypot(*u) - 1.0) < 1e-12
    assert abs(u[0] - 0.6) < 1e-12


def test_require_centroids_raises_on_sparse_ids(spark):
    import pytest

    # offset id space: id % step == 0 never fires -> empty centroid set
    emb = _vecs(spark, n=20).withColumn("vec_id", F.col("vec_id") + F.lit(1_000_001))
    with pytest.raises(ValueError, match="empty centroid set"):
        S.ivf_topk(emb, emb.limit(2), k=3, n_centroids=4)


def test_md5_planes_deterministic_and_signed(spark):
    a = S.md5_rademacher_planes(16, 4, 2)
    b = S.md5_rademacher_planes(16, 4, 2)
    assert a == b and len(a) == 8 and all(len(c) == 16 for c in a)
    assert {v for c in a for v in c} == {1.0, -1.0}
    # different seed -> different planes
    assert S.md5_rademacher_planes(16, 4, 2, seed="other") != a


def test_near_dup_pairs_lsh_path_top_pairs_pre_prune(spark):
    # force the LSH path with a tiny row budget; top_pairs must still hold
    emb = _vecs(spark, n=60)
    out = S.near_dup_pairs(
        emb, threshold=0.0, top_pairs=5, max_broadcast_rows=10, dim=8
    ).collect()
    assert 0 < len(out) <= 5
    sims = [r["cosine_sim"] for r in out]
    assert sims == sorted(sims, reverse=True) or len(set(sims)) < len(sims)
    for r in out:
        assert r["cosine_sim"] >= 0.0 and r["id_a"] < r["id_b"]


def test_ivf_assignment_profile_consistency(spark):
    emb = _vecs(spark, n=48)
    prof = {r["centroid_id"]: r for r in
            S.ivf_assignment_profile(emb, n_centroids=4, vec_col="embedding").collect()}
    # every corpus vector lands in exactly one list
    assert sum(r["list_size"] for r in prof.values()) == 48
    for r in prof.values():
        assert r["min_sim_e6"] <= r["mean_sim_e6"] <= r["max_sim_e6"]
        assert r["max_sim_e6"] <= 1_000_000
    # the centroid's own vector assigns to itself at sim ~1.0
    assert all(r["max_sim_e6"] >= 999_999 for r in prof.values())


def test_pq_topk_recall_vs_exact(spark):
    emb = _vecs(spark, n=64, dim=16)
    q = emb.filter(F.col("vec_id") < 4)
    exact = S.brute_force_topk(emb, q, k=5).collect()
    approx = S.pq_topk(emb, q, k=10, m=4, ksub=8, dim=16).collect()
    approx_by_q = {}
    for r in approx:
        approx_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # quantized top-10 should recover most exact top-5 neighbors
    hits = sum(1 for r in exact if r["neighbor_id"] in approx_by_q.get(r["query_id"], set()))
    assert hits >= 10  # 10 of 20 - PQ on random gaussians is lossy but deterministic


def test_pq_encode_shapes(spark):
    emb = _vecs(spark, n=32, dim=16)
    u = S.with_unit_vector(emb, "embedding", "unit")
    cb = S.pq_codebooks(u, m=4, ksub=8, dim=16)
    assert cb.count() == 4 * 8
    enc = S.pq_encode(u, cb, m=4, dim=16).collect()
    assert len(enc) == 32
    for r in enc:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 8 for c in r["codes"])


def test_ivf_pq_index_recall(spark, tmp_path):
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=64, dim=16)
    q = emb.filter(F.col("vec_id") < 5)
    path = f"file://{tmp_path}/ivfpq"
    I.build_ivf_index(emb, path, n_centroids=6, quantize="pq",
                      pq_m=4, pq_ksub=8, dim=16)
    stored = spark.read.parquet(f"{path}/inverted")
    assert "codes" in stored.columns and "c_unit" not in stored.columns
    # codes are tiny: m ints per vector
    assert all(len(r["codes"]) == 4 for r in stored.collect())
    got = I.ivf_query(spark, path, q, k=3, n_probe=6)
    exact = S.ivf_topk(emb, q, k=3, n_probe=6, n_centroids=6)
    by_q = lambda rows: {
        qid: {r["neighbor_id"] for r in rows if r["query_id"] == qid}
        for qid in {r["query_id"] for r in rows}
    }
    g, e = by_q(got.collect()), by_q(exact.collect())
    assert set(g) == set(e)
    # PQ with 8 codes/subspace on gaussians is lossy; demand 1/3 overlap
    total_hits = sum(len(g[qid] & e[qid]) for qid in e)
    assert total_hits >= 5, (total_hits, g, e)


def test_auto_n_centroids_sqrt_rule():
    from commerce_data_pipeline_spark.operators.similarity import auto_n_centroids

    assert auto_n_centroids(0) == 16
    assert auto_n_centroids(256) == 16
    assert auto_n_centroids(257) == 32
    assert auto_n_centroids(500) == 32      # sf0.01 embeddings
    assert auto_n_centroids(2000) == 64     # sf0.1 embeddings
    assert auto_n_centroids(16000) == 128   # 8x stress corpus
    for n in (1, 100, 10**6, 10**9):
        c = auto_n_centroids(n)
        assert c * c >= n and (c == 16 or (c // 2) ** 2 < n)


def test_auto_dedup_centroids_bounded_cluster_rule():
    # smallest power of two c >= 16 with c*64 >= n
    assert S.auto_dedup_centroids(500) == 16
    assert S.auto_dedup_centroids(1024) == 16
    assert S.auto_dedup_centroids(1025) == 32
    assert S.auto_dedup_centroids(5000) == 128


def _emb_frame(spark, vecs):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def test_semantic_dedup_keep_drop_verdicts(spark):
    # centroids sampled at ids 0 and 4 (n=8, n_centroids=2, step=4):
    # cluster 0 ~ [1,0] holds {0,1,2,3,7}, cluster 1 ~ [0,1] holds {4,5,6}
    emb = _emb_frame(spark, [
        [1, 0], [0.999, 0.01], [0.9, 0.5], [0.87, 0.5],
        [0, 1], [0.01, 1], [-0.5, 0.9], [0, -1],
    ])
    out = {r["vec_id"]: r for r in
           S.semantic_dedup(emb, threshold=0.9, n_centroids=2).collect()}
    assert len(out) == 8
    assert {i for i, r in out.items() if r["keep"]} == {0, 2, 4, 6, 7}
    # each dropped row names its smallest lower-id >=tau partner
    assert (out[1]["dup_of"], out[3]["dup_of"], out[5]["dup_of"]) == (0, 2, 4)
    assert all(out[i]["n_dups"] == 1 for i in (1, 3, 5))
    assert all(out[i]["n_dups"] == 0 and out[i]["dup_of"] is None
               for i in (0, 2, 4, 6, 7))
    # v7 is anti-parallel to its whole cluster: kept
    assert out[7]["keep"] and out[7]["centroid_id"] == out[0]["centroid_id"]


def test_semantic_dedup_is_cluster_local(spark):
    # 1 and 3 are near-dups (cos ~.999) but route to different centroids:
    # both keep — the documented cluster-local recall contract of SemDeDup
    emb = _emb_frame(spark, [[1, 0], [0.72, 0.69], [0, 1], [0.69, 0.72]])
    out = {r["vec_id"]: r for r in
           S.semantic_dedup(emb, threshold=0.9, n_centroids=2).collect()}
    assert out[1]["centroid_id"] != out[3]["centroid_id"]
    assert all(r["keep"] for r in out.values())


def test_hard_negatives_band_and_rank(spark):
    # anchor [1,0]; candidates at known integer-exact cosines:
    # id1 ~0.995 (above band), id2 ~0.316, id3 ~0.2418, id4 0.0 (below),
    # id5 zero-norm (excluded)
    emb = _emb_frame(spark, [
        [1.0, 0.0], [1.0, 0.1], [1.0, 3.0], [1.0, 4.0], [0.0, 1.0], [0.0, 0.0],
    ])
    anchors = emb.filter(F.col("vec_id") == 0)
    out = S.hard_negatives(emb, anchors, lo_e6=150000, hi_e6=350000, k=5).collect()
    got = [(r["anchor_id"], r["vec_id"], r["rank"]) for r in
           sorted(out, key=lambda r: r["rank"])]
    assert got == [(0, 2, 1), (0, 3, 2)]
    sims = {r["vec_id"]: r["sim_e6"] for r in out}
    assert 150000 <= sims[3] < sims[2] < 350000


def test_hard_negatives_k_cut_and_self_exclusion(spark):
    # all candidates equidistant: ranks break ties by id asc; self excluded
    emb = _emb_frame(spark, [[1.0, 1.0]] + [[1.0, 3.0]] * 4)
    anchors = emb.filter(F.col("vec_id") == 0)
    out = sorted(S.hard_negatives(emb, anchors, lo_e6=0, hi_e6=1000000, k=3).collect(),
                 key=lambda r: r["rank"])
    assert [r["vec_id"] for r in out] == [1, 2, 3]
    assert len({r["sim_e6"] for r in out}) == 1


def test_prebuilt_frames_paths_bit_identical(spark, tmp_path):
    # the materialize-once family paths: ivf_topk / ivf_assignment_profile
    # fed a persisted index's frames, and pq_topk fed persisted codebooks +
    # codes, must be bit-identical to their inline builds
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    q = emb.filter(F.col("vec_id") < 3)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=6)
    inv = spark.read.parquet(f"{path}/inverted")
    cen = spark.read.parquet(f"{path}/centroids")

    key = lambda r: (r["query_id"], r["rank"])
    inline = sorted(S.ivf_topk(emb, q, k=3, n_centroids=6, n_probe=3).collect(), key=key)
    fed = sorted(
        S.ivf_topk(emb, q, k=3, n_probe=3, centroids=cen, inverted=inv).collect(),
        key=key,
    )
    assert [tuple(r) for r in inline] == [tuple(r) for r in fed]

    pkey = lambda r: r["centroid_id"]
    prof_inline = sorted(S.ivf_assignment_profile(emb, n_centroids=6).collect(), key=pkey)
    prof_fed = sorted(
        S.ivf_assignment_profile(emb, centroids=cen, inverted=inv).collect(), key=pkey
    )
    assert [tuple(r) for r in prof_inline] == [tuple(r) for r in prof_fed]

    u = S.with_unit_vector(emb, "embedding", "unit")
    cb = S.pq_codebooks(u, m=4, ksub=4, dim=8)
    cb.write.parquet(f"file://{tmp_path}/cb")
    S.pq_encode(u, cb, m=4, dim=8).write.parquet(f"file://{tmp_path}/enc")
    pq_inline = sorted(
        S.pq_topk(emb, q, k=3, m=4, ksub=4, dim=8).collect(), key=key
    )
    pq_fed = sorted(
        S.pq_topk(
            emb, q, k=3, m=4, ksub=4, dim=8,
            codebooks=spark.read.parquet(f"file://{tmp_path}/cb"),
            encoded=spark.read.parquet(f"file://{tmp_path}/enc"),
        ).collect(),
        key=key,
    )
    assert [tuple(r) for r in pq_inline] == [tuple(r) for r in pq_fed]


def test_prebuilt_frames_require_both(spark):
    emb = _vecs(spark, n=20)
    q = emb.filter(F.col("vec_id") < 2)
    import pytest

    with pytest.raises(ValueError):
        S.ivf_topk(emb, q, centroids=emb)
    with pytest.raises(ValueError):
        S.ivf_assignment_profile(emb, inverted=emb)
    with pytest.raises(ValueError):
        S.pq_topk(emb, q, codebooks=emb)


def test_centroid_similarity_hand_computed(spark):
    from commerce_data_pipeline_spark.operators.similarity import centroid_similarity

    # two groups, dim 2: group 0 mean (1.0, 0.0), group 1 mean (0.0, -1.0)
    rows = [
        (0, [1.0, 0.0]), (0, [1.0, 0.0]),
        (1, [0.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {(r["label_a"], r["label_b"]): r for r in centroid_similarity(df).collect()}
    assert set(out) == {(0, 0), (0, 1), (1, 1)}
    # e3 fix -> e6 floored means: (1e6, 0) and (0, -1e6); dots at e12
    assert out[(0, 0)]["dot_e12"] == 10**12
    assert out[(1, 1)]["dot_e12"] == 10**12
    assert out[(0, 1)]["dot_e12"] == 0
    assert out[(0, 1)]["n_a"] == 2 and out[(0, 1)]["n_b"] == 1


def test_centroid_similarity_floor_is_data_bounded(spark):
    from commerce_data_pipeline_spark.operators.similarity import centroid_similarity

    # mean of (0.4, 0.5) = 0.45 -> e3 sums 400+500=900, n=2 ->
    # floored e6 mean = floor(900*1000/2) = 450000 (bounded by the data
    # range regardless of n — the no-overflow contract)
    df = spark.createDataFrame(
        [(7, [0.4]), (7, [0.5])], "label int, embedding array<float>"
    )
    r = centroid_similarity(df).collect()[0]
    assert r["dot_e12"] == 450000 * 450000


def test_pca_power_matches_python_replay(spark):
    """The fixed-point trajectory is replayable in plain Python: same e3
    fix, same floor rescales, same normalization — bit-identical output."""
    import math

    from commerce_data_pipeline_spark.operators.similarity import pca_power_iteration

    vecs = [
        [0.9, 0.1, -0.2], [0.8, 0.05, -0.1], [1.0, -0.1, 0.0],
        [-0.7, 0.2, 0.1], [0.85, 0.0, -0.3],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<float>"
    )
    got = {r["dim"]: r["v_e6"] for r in pca_power_iteration(df, rounds=3).collect()}

    # replay: note the e3 fix floors the FLOAT32 value widened to double
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    xi = [[math.floor(f32(x) * 1000.0) for x in v] for v in vecs]
    v = [10**6] * 3
    for _ in range(3):
        s = [math.floor(sum(x * c for x, c in zip(row, v)) / 1_000_000.0) for row in xi]
        u = [sum(s[r] * xi[r][d] for r in range(len(xi))) for d in range(3)]
        m = max(max(abs(x) for x in u), 1)
        v = [math.floor((x / m) * 1_000_000.0) for x in u]
    assert got == {d: v[d] for d in range(3)}


def test_pca_power_finds_dominant_axis(spark):
    from commerce_data_pipeline_spark.operators.similarity import pca_power_iteration

    # variance concentrated on dim 1
    rows = [(i, [0.01 * (i % 3), 0.5 if i % 2 else -0.5, 0.02]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    v = {r["dim"]: r["v_e6"] for r in pca_power_iteration(df, rounds=4).collect()}
    assert abs(v[1]) == max(abs(x) for x in v.values())
    assert abs(v[1]) == 10**6  # normalization pins the peak at ±1e6


def test_pca_power_validates(spark):
    import pytest as _pytest

    from commerce_data_pipeline_spark.operators.similarity import pca_power_iteration

    df = spark.createDataFrame([(0, [1.0])], "vec_id int, embedding array<float>")
    with _pytest.raises(ValueError):
        pca_power_iteration(df, rounds=0)


def test_knn_label_agreement_exact(spark):
    """Hand-checkable geometry: two tight clusters with one mislabeled
    point; agreement counts and the floored e6 ratio replay by hand."""
    from commerce_data_pipeline_spark.operators.similarity import knn_label_agreement

    rows = [
        # cluster A near +x (labels 0, one imposter labeled 1)
        (0, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (4, [0.95, 0.05], 1),
        # cluster B near +y (labels 1)
        (1, [0.0, 1.0], 1),
        (3, [0.1, 0.9], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # queries: vec_id % 2 == 0 → ids 0, 2, 4; k=2 nearest (excluding self)
    out = {r["label"]: r for r in knn_label_agreement(df, k=2, sample_mod=2).collect()}
    # id0 (label 0): neighbors 4 (label 1), 2 (label 0) → 1 hit
    # id2 (label 0): neighbors 4, 0 → 1 hit
    # id4 (label 1): neighbors 0, 2 (both label 0) → 0 hits
    assert out[0]["n_queries"] == 2 and out[0]["n_hits"] == 2
    assert out[0]["n_retrieved"] == 4 and out[0]["agreement_e6"] == 500000
    assert out[1]["n_queries"] == 1 and out[1]["n_hits"] == 0
    assert out[1]["n_retrieved"] == 2 and out[1]["agreement_e6"] == 0


def test_knn_label_agreement_thin_corpus_scores_retrieved(spark):
    """r10 ADVICE regression: with only 2 candidates after self-exclusion
    and k=5, each query retrieves 2 — the denominator must be the
    retrieved count (perfect agreement scores 1e6), not n_queries·k
    (which would deflate to 400000)."""
    from commerce_data_pipeline_spark.operators.similarity import knn_label_agreement

    rows = [
        (0, [1.0, 0.0], 7),
        (2, [0.9, 0.1], 7),
        (4, [0.95, 0.05], 7),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = knn_label_agreement(df, k=5, sample_mod=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_queries"] == 3 and r["n_retrieved"] == 6 and r["n_hits"] == 6
    assert r["agreement_e6"] == 1_000_000


def test_ivf_index_upsert_delete_compact(spark, tmp_path):
    """r11 VERDICT #5 — the index maintenance lifecycle: tombstone delete
    (O(ids) write, no partition rewrite), LSM upsert (replaced rows
    survive the tombstones that killed their old versions), and
    partition-level compaction that is bit-identical to the
    tombstone-filtered read — including the all-rows-dead partition,
    which must be DELETED, not left to resurrect its old files."""
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb.filter(F.col("vec_id") < 50), path, n_centroids=6)
    assert I.current_gen(spark, path) == 0

    # upsert: 10 new ids + 5 replacements (reversed vectors)
    new_rows = emb.filter(F.col("vec_id") >= 50)
    repl = emb.filter(F.col("vec_id") < 5).withColumn(
        "embedding", F.reverse("embedding")
    )
    I.upsert_into_ivf_index(new_rows.unionByName(repl), path)
    assert I.current_gen(spark, path) == 1
    q = emb.filter(F.col("vec_id") % 10 == 3)

    # replaced ids visible exactly once, at the NEW assignment
    inv = spark.read.option("mergeSchema", "true").parquet(f"{path}/inverted")
    live = I.ivf_query(spark, path, emb.filter(F.col("vec_id") == 0), k=60,
                       n_probe=6)
    assert inv.filter(F.col("neighbor_id") == 0).count() == 2  # old + new row
    # ... but the query sees one version: neighbor 0 appears at most once
    per = live.groupBy("neighbor_id").count().filter(F.col("count") > 1)
    assert per.count() == 0

    # delete a slice; results drop those neighbors without any rewrite
    I.delete_from_ivf_index(
        emb.filter(F.col("vec_id") % 7 == 2).select("vec_id"), path
    )
    pre = sorted(tuple(r) for r in I.ivf_query(spark, path, q, k=5,
                                               n_probe=6).collect())
    assert all(r[1] % 7 != 2 for r in pre)

    # compaction: bit-identical results, tombstones folded + cleared
    I.compact_ivf_index(spark, path)
    post = sorted(tuple(r) for r in I.ivf_query(spark, path, q, k=5,
                                                n_probe=6).collect())
    assert pre == post
    assert I._read_tombstones(spark, path) is None
    inv2 = spark.read.option("mergeSchema", "true").parquet(f"{path}/inverted")
    assert inv2.filter(F.col("neighbor_id") % 7 == 2).count() == 0
    assert inv2.filter(F.col("neighbor_id") == 0).count() == 1  # old version folded

    # the emptied-partition hazard: kill EVERY remaining row, compact —
    # queries must come back empty (stale partition dirs deleted)
    I.delete_from_ivf_index(emb.select("vec_id"), path)
    I.compact_ivf_index(spark, path)
    assert I.ivf_query(spark, path, q, k=5, n_probe=6).count() == 0

    # compaction with no tombstones is a no-op
    I.compact_ivf_index(spark, path)


def test_tombstone_delete_on_quantized_index(spark, tmp_path):
    """The tombstone filter runs BEFORE the list-format reconstruction
    branches, so deletes work identically on int8 and IVF-PQ layouts —
    no per-format delete path to drift."""
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    q = emb.filter(F.col("vec_id") % 10 == 3)
    for quant in (True, "pq"):
        path = f"file://{tmp_path}/ivf_{quant}"
        I.build_ivf_index(emb, path, n_centroids=6, quantize=quant)
        before = {r["neighbor_id"] for r in
                  I.ivf_query(spark, path, q, k=10, n_probe=6).collect()}
        assert before & {n for n in range(60) if n % 7 == 2}
        I.delete_from_ivf_index(
            emb.filter(F.col("vec_id") % 7 == 2).select("vec_id"), path
        )
        after = {r["neighbor_id"] for r in
                 I.ivf_query(spark, path, q, k=10, n_probe=6).collect()}
        assert not (after & {n for n in range(60) if n % 7 == 2})
        # compaction folds + clears on the quantized layout too
        I.compact_ivf_index(spark, path)
        folded = {r["neighbor_id"] for r in
                  I.ivf_query(spark, path, q, k=10, n_probe=6).collect()}
        assert folded == after


def test_ivf_rebalance_splits_oversized_lists(spark, tmp_path):
    """Drift remediation: lists above max_list_size split into locally
    re-sampled sub-lists. Invariants: row count preserved, retired ids
    gone from both table and layout, and — the load-bearing one — with
    n_probe >= all centroids the query result is BIT-IDENTICAL pre/post
    (same member vectors, same scores; only routing got finer)."""
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=2)
    q = emb.filter(F.col("vec_id") % 10 == 3)
    pre = sorted(tuple(r) for r in I.ivf_query(spark, path, q, k=5,
                                               n_probe=2).collect())
    split = I.rebalance_ivf_index(spark, path, max_list_size=20, n_splits=2)
    assert split == [0, 1]  # both ~30-member lists were oversized
    cents = spark.read.parquet(f"{path}/centroids")
    ids = sorted(r["centroid_id"] for r in cents.collect())
    assert ids == [2, 3, 4, 5]  # old 0,1 retired; 2 seeds each
    inv = spark.read.option("mergeSchema", "true").parquet(f"{path}/inverted")
    assert inv.count() == 60
    assert inv.filter(F.col("centroid_id").isin([0, 1])).count() == 0
    post = sorted(tuple(r) for r in I.ivf_query(spark, path, q, k=5,
                                                n_probe=4).collect())
    assert pre == post
    # argmax reassignment splits unevenly — iterate to the fixpoint
    # (callers bound iterations; each pass splits only what remains big)
    for _ in range(4):
        if not I.rebalance_ivf_index(spark, path, max_list_size=20):
            break
    inv = spark.read.option("mergeSchema", "true").parquet(f"{path}/inverted")
    assert inv.count() == 60  # no row lost across repeated splits
    sizes = [r["count"] for r in inv.groupBy("centroid_id").count().collect()]
    assert max(sizes) <= 20
    # the refined index still answers identically at full probe width
    n_cents = spark.read.parquet(f"{path}/centroids").count()
    final = sorted(tuple(r) for r in I.ivf_query(spark, path, q, k=5,
                                                 n_probe=n_cents).collect())
    assert final == pre
    # quantized layouts are refused loudly
    import pytest

    path2 = f"file://{tmp_path}/ivf_q"
    I.build_ivf_index(emb, path2, n_centroids=2, quantize=True)
    with pytest.raises(ValueError, match="float-vector"):
        I.rebalance_ivf_index(spark, path2, max_list_size=20)


def test_ann_ivf_rebalance_query_matches_oracle(spark, sf_dir, tmp_path):
    """Pre-registration differential for the r13 window candidate
    (never-attested queries must sit inside the driver window, so the
    query registers in r13): the Spark split-lifecycle query must
    hash-match its DuckDB oracle replay exactly — build, size census,
    id-stride seeds, local argmax reassignment, probe over the refined
    centroid table."""
    import duckdb

    from commerce_data_pipeline_spark.queries import _shared
    from commerce_data_pipeline_spark.queries.similarity import (
        _ora_ann_ivf_rebalance,
        _q_ann_ivf_rebalance,
    )

    # isolate the persisted cache under tmp_path (don't touch .cache/)
    orig = _shared.CACHE_TAG
    _shared.CACHE_TAG = f"t{tmp_path.name[-8:]}"
    try:
        sdf = _q_ann_ivf_rebalance(spark, sf_dir)
        scols = sdf.columns
        srows = sorted(tuple(r) for r in sdf.collect())
    finally:
        _shared.CACHE_TAG = orig
    con = duckdb.connect()
    for t in ("embeddings",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rel = con.sql(_ora_ann_ivf_rebalance(2))
    ocols = rel.columns
    orows = sorted(tuple(r) for r in rel.fetchall())
    assert sorted(scols) == sorted(ocols)
    # align column order before comparing tuples
    perm = [scols.index(c) for c in ocols]
    assert [tuple(r[i] for i in perm) for r in srows] == orows


def test_ivf_recall_audit_fixed_n_probe(spark, tmp_path):
    """r12 VERDICT #3: rebalance guarantees bit-identity only at
    n_probe >= the post-split centroid count; at a FIXED serving n_probe
    a split re-prices recall. The audit measures it: full-width probe is
    recall 1.0 by construction; the fixed-probe numbers pre/post split
    are the maintenance gate's input."""
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=4)
    q = emb.filter(F.col("vec_id") % 10 == 3)

    full = I.ivf_recall_audit(spark, path, emb, q, k=5, n_probe=4).collect()[0]
    assert full["n_queries"] == q.count()
    assert full["mean_recall_e6"] == full["min_recall_e6"] == 1_000_000

    fixed_pre = I.ivf_recall_audit(spark, path, emb, q, k=5, n_probe=1).collect()[0]
    assert 0 <= fixed_pre["mean_recall_e6"] <= 1_000_000

    I.rebalance_ivf_index(spark, path, max_list_size=16, n_splits=2)
    fixed_post = I.ivf_recall_audit(spark, path, emb, q, k=5, n_probe=1).collect()[0]
    # the audit runs against the refined routing; at fixed n_probe=1 the
    # probe now covers a SMALLER corpus fraction — recall must not rise
    assert fixed_post["mean_recall_e6"] <= fixed_pre["mean_recall_e6"]
    # and full-width on the refined table is still exact
    n_cents = spark.read.parquet(f"{path}/centroids").count()
    full_post = I.ivf_recall_audit(spark, path, emb, q, k=5,
                                   n_probe=n_cents).collect()[0]
    assert full_post["mean_recall_e6"] == 1_000_000


def test_ivf_rebalance_crash_retry_debris_cleanup(spark, tmp_path):
    """r12 ADVICE: a crash after the append but before the routing swap
    leaves dead rows under the planned new centroid ids. A retry must
    fold that debris, not double the members."""
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=2)
    # simulate the crashed attempt: plant rows under the ids the next
    # rebalance will plan (next_id=2, 2 oversized lists x 2 splits -> 2..5)
    debris = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/inverted"
    ).limit(7).withColumn("centroid_id", F.lit(3))
    (
        debris.write.mode("append").partitionBy("centroid_id")
        .parquet(f"{path}/inverted")
    )
    I.rebalance_ivf_index(spark, path, max_list_size=20, n_splits=2)
    inv = spark.read.option("mergeSchema", "true").parquet(f"{path}/inverted")
    assert inv.count() == 60  # debris folded, no duplicated members
    assert inv.select("neighbor_id").distinct().count() == 60
    # no rename-aside leftovers
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    fs = HadoopFS(spark, path)
    assert not fs.exists(f"{path}/centroids._rebal_old")
    assert not fs.exists(f"{path}/centroids._rebal_tmp")

    # --- second crash window (routing swapped, retired delete never ran):
    # resurrect a retired list under its OLD id (not in the routing table)
    # with copies of live rows — a retry must sweep it, not re-split it
    # into additional ROUTABLE lists that duplicate members in top-k
    q = emb.filter(F.col("vec_id") % 10 == 3)
    before = sorted(tuple(r) for r in I.ivf_query(
        spark, path, q, k=5,
        n_probe=spark.read.parquet(f"{path}/centroids").count()).collect())
    ghost = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/inverted"
    ).limit(30).withColumn("centroid_id", F.lit(0))  # 0 was retired above
    ghost.write.mode("append").partitionBy("centroid_id").parquet(
        f"{path}/inverted"
    )
    I.rebalance_ivf_index(spark, path, max_list_size=20, n_splits=2)
    inv = spark.read.option("mergeSchema", "true").parquet(f"{path}/inverted")
    assert inv.count() == 60
    assert inv.select("neighbor_id").distinct().count() == 60
    n_cents = spark.read.parquet(f"{path}/centroids").count()
    after = sorted(tuple(r) for r in I.ivf_query(spark, path, q, k=5,
                                                 n_probe=n_cents).collect())
    assert after == before  # full-width results unchanged, no dup ranks


def test_ann_rebalance_recall_query_matches_oracle(spark, sf_dir, tmp_path):
    """Pre-registration differential for the r14 window candidate (the
    never-attested-in-window protocol, ann_ivf_rebalance precedent): the
    fixed-n_probe recall audit over the split index must hash-match its
    DuckDB replay — split lifecycle CTEs (string-composed from the
    rebalance oracle) + brute-force top-5 + integer-exact summary."""
    import duckdb

    from commerce_data_pipeline_spark.queries import _shared
    from commerce_data_pipeline_spark.queries.similarity import (
        _ora_ann_rebalance_recall,
        _q_ann_rebalance_recall,
    )

    orig = _shared.CACHE_TAG
    _shared.CACHE_TAG = f"rr{tmp_path.name[-8:]}"
    try:
        sdf = _q_ann_rebalance_recall(spark, sf_dir)
        scols = sdf.columns
        srows = sorted(tuple(r) for r in sdf.collect())
    finally:
        _shared.CACHE_TAG = orig
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rel = con.sql(_ora_ann_rebalance_recall(2))
    ocols = rel.columns
    orows = sorted(tuple(r) for r in rel.fetchall())
    assert sorted(scols) == sorted(ocols)
    perm = [scols.index(c) for c in ocols]
    assert [tuple(r[i] for i in perm) for r in srows] == orows
    # the audit is live data, not a constant: recall at fixed n_probe
    # must be a real fraction in [0, 1] over a nonzero query set
    row = {c: v for c, v in zip(scols, srows[0])}
    assert row["n_queries"] > 0
    assert 0 <= row["mean_recall_e6"] <= 1_000_000


def test_ann_rebalance_gate_query_matches_oracle(spark, sf_dir, tmp_path):
    """Pre-registration differential for the r15 window candidate (the
    never-attested-in-window protocol, ann_ivf_rebalance precedent): the
    gated-rebalance lifecycle row — pre/post recall at the fixed serving
    n_probe, split count, ceil-scaled recommended_n_probe, admit/veto at
    two reference budgets — must hash-match its DuckDB replay, which
    composes the rebalance CTE chain with BOTH probe routings and the
    brute-force exact top-5."""
    import duckdb

    from commerce_data_pipeline_spark.queries import _shared
    from commerce_data_pipeline_spark.queries.similarity import (
        _ora_ann_rebalance_gate,
        _q_ann_rebalance_gate,
    )

    orig = _shared.CACHE_TAG
    _shared.CACHE_TAG = f"gg{tmp_path.name[-8:]}"
    try:
        sdf = _q_ann_rebalance_gate(spark, sf_dir)
        scols = sdf.columns
        srows = sorted(tuple(r) for r in sdf.collect())
    finally:
        _shared.CACHE_TAG = orig
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rel = con.sql(_ora_ann_rebalance_gate(2))
    ocols = rel.columns
    orows = sorted(tuple(r) for r in rel.fetchall())
    assert sorted(scols) == sorted(ocols)
    perm = [scols.index(c) for c in ocols]
    assert [tuple(r[i] for i in perm) for r in srows] == orows
    # live-data sanity: the gate actually split something and the scaled
    # n_probe reflects the grown routing table
    row = {c: v for c, v in zip(scols, srows[0])}
    assert row["n_queries"] > 0 and row["n_split"] > 0
    assert row["recommended_n_probe"] > 4
    assert row["drop_e6"] == row["pre_mean_recall_e6"] - row["post_mean_recall_e6"]
    assert row["admitted_50000"] == (row["drop_e6"] <= 50000)


def test_ann_veto_rollback_query_matches_oracle(spark, sf_dir, tmp_path):
    """Pre-registration differential for the r16 window candidate (the
    never-attested-in-window protocol, ann_rebalance_gate precedent): the
    veto-rollback lifecycle row — top-5 over an index whose split the
    gate vetoed and ROLLED BACK, plus the vetoed pass's verdict numbers.
    The oracle replays the NEVER-SPLIT routing, so a hash match proves
    the restored index serves bit-identical pre-split results."""
    import duckdb

    from commerce_data_pipeline_spark.queries import _shared
    from commerce_data_pipeline_spark.queries.similarity import (
        _ora_ann_veto_rollback,
        _q_ann_veto_rollback,
    )

    orig = _shared.CACHE_TAG
    _shared.CACHE_TAG = f"vr{tmp_path.name[-8:]}"
    try:
        sdf = _q_ann_veto_rollback(spark, sf_dir)
        scols = sdf.columns
        srows = sorted(tuple(r) for r in sdf.collect())
    finally:
        _shared.CACHE_TAG = orig
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rel = con.sql(_ora_ann_veto_rollback(2))
    ocols = rel.columns
    orows = sorted(tuple(r) for r in rel.fetchall())
    assert sorted(scols) == sorted(ocols)
    perm = [scols.index(c) for c in ocols]
    assert [tuple(r[i] for i in perm) for r in srows] == orows
    # live-data sanity: the vetoed pass really attempted a split, the
    # filesystem audit confirmed the rollback, and the serving rows are a
    # full top-5 per query
    row = {c: v for c, v in zip(scols, srows[0])}
    assert row["n_split_attempted"] > 0
    assert row["rolled_back"] is True
    assert row["drop_e6"] == (
        row["pre_mean_recall_e6"] - row["post_mean_recall_e6"]
    )
    n_queries = len({r[scols.index("query_id")] for r in srows})
    assert len(srows) == 5 * n_queries


def test_rebalance_with_gate_and_centroid_meta(spark, tmp_path):
    """r13 VERDICT #2: the recall gate is the library-level DEFAULT path,
    and the post-split routing width persists so serving n_probe scales
    instead of silently halving recall."""
    import pytest

    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=60)
    q = emb.filter(F.col("vec_id") % 10 == 3)

    # build: meta = (n, n); recommended n_probe is the identity
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=2)
    assert I.centroid_counts(spark, path) == (2, 2)
    assert I.recommended_n_probe(spark, path, 2) == 2

    # admitted split: a full-range budget cannot veto (drop <= 1e6)
    out = I.rebalance_with_gate(
        spark, path, max_list_size=20, corpus=emb, queries=q,
        max_recall_drop_e6=1_000_000, n_probe=2,
    )
    assert out["split_centroids"] == [0, 1]
    assert out["pre"]["n_probe"] == out["post"]["n_probe"] == 2
    assert out["drop_e6"] == (
        out["pre"]["mean_recall_e6"] - out["post"]["mean_recall_e6"]
    )
    # routing doubled (2 -> 4): the serving n_probe must double too
    assert I.centroid_counts(spark, path) == (4, 2)
    assert out["recommended_n_probe"] == I.recommended_n_probe(spark, path, 2) == 4
    # at the SCALED n_probe the refined index recovers exact recall
    full = I.ivf_recall_audit(spark, path, emb, q, k=5, n_probe=4).collect()[0]
    assert full["mean_recall_e6"] == 1_000_000

    # no-op pass: the size census finds nothing oversized — the audits
    # are SKIPPED entirely (no brute-force corpus scan on the steady-
    # state cadence), drop 0, split []
    noop = I.rebalance_with_gate(
        spark, path, max_list_size=10_000, corpus=emb, queries=q,
        max_recall_drop_e6=0, n_probe=2,
    )
    assert noop["split_centroids"] == [] and noop["drop_e6"] == 0
    assert noop["pre"] is None and noop["post"] is None
    assert noop["recommended_n_probe"] == 4  # still derived live

    # vetoed split (r14 VERDICT #2): an impossible budget (< -1e6) always
    # trips the gate; the exception carries the numbers + the scaled
    # n_probe + the would-be-retired ids, and the split has been ROLLED
    # BACK — the restored index serves BIT-IDENTICAL pre-split results
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    path2 = f"file://{tmp_path}/ivf2"
    I.build_ivf_index(emb, path2, n_centroids=2)
    pre_split_topk = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in I.ivf_query(spark, path2, q, k=5, n_probe=2).collect()
    )
    with pytest.raises(I.RecallRegression, match="ROLLED BACK") as ei:
        I.rebalance_with_gate(
            spark, path2, max_list_size=20, corpus=emb, queries=q,
            max_recall_drop_e6=-2_000_000, n_probe=2,
        )
    assert ei.value.recommended_n_probe == 4
    assert ei.value.split == [0, 1]
    assert ei.value.pre["n_queries"] == ei.value.post["n_queries"] == q.count()
    # the routing is the pre-split table again, the rename-aside copy is
    # consumed, and no unroutable sub-list partitions linger
    assert spark.read.parquet(f"{path2}/centroids").count() == 2
    fs2 = HadoopFS(spark, path2)
    assert not fs2.exists(f"{path2}/centroids._rebal_old")
    assert sorted(
        e for e in fs2.listdir(f"{path2}/inverted")
        if e.startswith("centroid_id=")
    ) == ["centroid_id=0", "centroid_id=1"]
    post_veto_topk = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in I.ivf_query(spark, path2, q, k=5, n_probe=2).collect()
    )
    assert post_veto_topk == pre_split_topk
    # the vetoed index is not wedged: a later pass with an admitting
    # budget runs the same lifecycle to completion
    redo = I.rebalance_with_gate(
        spark, path2, max_list_size=20, corpus=emb, queries=q,
        max_recall_drop_e6=1_000_000, n_probe=2,
    )
    assert redo["split_centroids"] == [0, 1]
    assert spark.read.parquet(f"{path2}/centroids").count() == 4
    assert not fs2.exists(f"{path2}/centroids._rebal_old")  # committed

    # report-only mode (budget None): same numbers, never raises
    path3 = f"file://{tmp_path}/ivf3"
    I.build_ivf_index(emb, path3, n_centroids=2)
    rep = I.rebalance_with_gate(
        spark, path3, max_list_size=20, corpus=emb, queries=q,
        max_recall_drop_e6=None, n_probe=2,
    )
    assert rep["split_centroids"] == [0, 1] and rep["pre"] is not None

    # an unevaluable gate (zero audit queries) must refuse BEFORE
    # splitting — the index is not mutated. Dedicated type (r14 ADVICE):
    # the CLI maps exactly this refusal, not every ValueError
    path4 = f"file://{tmp_path}/ivf4"
    I.build_ivf_index(emb, path4, n_centroids=2)
    with pytest.raises(I.UnevaluableGate, match="empty"):
        I.rebalance_with_gate(
            spark, path4, max_list_size=20, corpus=emb,
            queries=q.limit(0), max_recall_drop_e6=0,
        )
    assert issubclass(I.UnevaluableGate, ValueError)  # legacy catchers still work
    assert spark.read.parquet(f"{path4}/centroids").count() == 2  # unsplit

    # legacy index without the sidecar: counts fall back to the table
    HadoopFS(spark, path3).delete(f"{path3}/centroid_meta")
    assert I.centroid_counts(spark, path3) == (4, 4)
    assert I.recommended_n_probe(spark, path3, 3) == 3

    # a crash mid-swap must fail the GATED path at entry too (its
    # pre-audit reads the centroid table before raw rebalance's guard)
    assert HadoopFS(spark, path3).rename(
        f"{path3}/centroids", f"{path3}/centroids._rebal_old"
    )
    with pytest.raises(RuntimeError, match="rename-aside"):
        I.rebalance_with_gate(
            spark, path3, max_list_size=20, corpus=emb, queries=q,
            max_recall_drop_e6=0, n_probe=2,
        )


def test_build_ivf_index_meta_records_actual_centroids(spark, tmp_path):
    """r14 review: on sparse id spaces ivf_centroids yields FEWER rows
    than requested (require_centroids tolerates gaps). The sidecar must
    record the ACTUAL routing width — a base recorded too high would
    tell recommended_n_probe to SHRINK the serving n_probe after a
    split (the exact silent recall loss the sidecar exists to stop)."""
    from commerce_data_pipeline_spark.operators import index as I

    dense = _vecs(spark, n=60)
    sparse = dense.withColumn("vec_id", F.col("vec_id") * 2)  # even ids only
    path = f"file://{tmp_path}/ivf_sparse"
    I.build_ivf_index(sparse, path, n_centroids=16)
    actual = spark.read.parquet(f"{path}/centroids").count()
    assert actual < 16  # the sparse id space starves the id-stride rule
    assert I.centroid_counts(spark, path) == (actual, actual)
    # unsplit index: the scaling rule is the identity, never a shrink
    assert I.recommended_n_probe(spark, path, 4) == 4


def test_sidecar_reads_survive_disabled_success_markers(spark, tmp_path):
    """r14 ADVICE: a deployment that disables success markers
    (mapreduce.fileoutputcommitter.marksuccessfuljobs=false) writes
    sidecars WITHOUT _SUCCESS. centroid_counts must still read the base
    (else it silently falls back to (cur, cur) after splits — exactly
    the silent recall loss the sidecar exists to prevent) and
    current_gen must still read the generation (else upsert tombstones
    target gen 0 forever). Simulated by deleting the markers a normal
    write produced."""
    from commerce_data_pipeline_spark.operators import index as I
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=2)
    I.upsert_into_ivf_index(emb.filter(F.col("vec_id") < 3), path)
    fs = HadoopFS(spark, path)
    assert fs.delete(f"{path}/centroid_meta/_SUCCESS")
    assert fs.delete(f"{path}/gen_meta/_SUCCESS")
    I.rebalance_ivf_index(spark, path, max_list_size=20)
    # base still read from the marker-less sidecar: (4, 2), not (4, 4)
    assert I.centroid_counts(spark, path) == (4, 2)
    assert I.recommended_n_probe(spark, path, 2) == 4
    # generation still read: the upsert bumped it past the build's 0
    assert I.current_gen(spark, path) >= 1
    # a truly absent sidecar still reports the legacy fallbacks
    fs.delete(f"{path}/centroid_meta")
    fs.delete(f"{path}/gen_meta")
    assert I.centroid_counts(spark, path) == (4, 4)
    assert I.current_gen(spark, path) == 0


def test_ivf_rebalance_mid_swap_crash_entry_guard(spark, tmp_path):
    """r13 ADVICE: a crash between swap_dir's two renames leaves the only
    complete centroid table under ._rebal_old and no live centroids dir.
    A retry must fail AT ENTRY with the recover-the-rename-aside-copy
    guidance, not with a raw 'path does not exist' parquet error from the
    step-(0) routing-table read."""
    import pytest

    from commerce_data_pipeline_spark.operators import index as I
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=2)
    fs = HadoopFS(spark, path)
    # simulate the mid-swap crash: live -> ._rebal_old done, promote not
    assert fs.rename(f"{path}/centroids", f"{path}/centroids._rebal_old")
    with pytest.raises(RuntimeError, match="rename-aside"):
        I.rebalance_ivf_index(spark, path, max_list_size=20, n_splits=2)
    # recovery (the message's instruction) makes the retry work
    assert fs.rename(f"{path}/centroids._rebal_old", f"{path}/centroids")
    assert I.rebalance_ivf_index(spark, path, max_list_size=20) == [0, 1]


def test_tombstone_small_footprint_skips_sizing_job(spark, tmp_path):
    """r13 ADVICE: a trivially small tombstone dir must broadcast on the
    filesystem byte count alone — zero Spark jobs for the sizing decision
    on the serving path (the aggregate itself stays lazy)."""
    from commerce_data_pipeline_spark.operators import index as I
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    emb = _vecs(spark, n=40)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=4)
    I.delete_from_ivf_index(emb.filter(F.col("vec_id") % 7 == 2), path)
    fs = HadoopFS(spark, path)
    nbytes = fs.size(f"{path}/tombstones")
    assert 0 < nbytes <= I.TOMBSTONE_SMALL_BYTES  # the normal state
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    spark.read.parquet(f"{path}/tombstones")  # baseline: bare read cost
    mid = len(tracker.getJobIdsForGroup(None) or [])
    agg = I._tombstone_agg(spark, path)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert agg is not None
    # the sizing DECISION must add nothing beyond the bare parquet read
    # (schema/listing); in particular no count aggregation job
    assert after - mid <= mid - before, (
        "sizing decision ran a Spark job on the small path"
    )
    # and the handle still filters correctly inside a consumer join
    q = emb.filter(F.col("vec_id") % 10 == 3)
    got = {r["neighbor_id"]
           for r in I.ivf_query(spark, path, q, k=10, n_probe=4).collect()}
    assert not (got & {n for n in range(40) if n % 7 == 2})


def test_tombstone_join_shuffle_fallback(spark, tmp_path, monkeypatch):
    """r12 ADVICE: above TOMBSTONE_BROADCAST_LIMIT pending ids the
    anti-filter must fall back to a shuffle join (a 10^8-id takedown
    batch must not broadcast-OOM every executor) with identical results
    in both ivf_query and compact_ivf_index."""
    from commerce_data_pipeline_spark.operators import index as I

    emb = _vecs(spark, n=40)
    q = emb.filter(F.col("vec_id") % 10 == 3)
    pa = f"file://{tmp_path}/ivf_bcast"
    pb = f"file://{tmp_path}/ivf_shuffle"
    for p in (pa, pb):
        I.build_ivf_index(emb, p, n_centroids=4)
        I.delete_from_ivf_index(emb.filter(F.col("vec_id") % 7 == 2), p)

    bcast = sorted(tuple(r) for r in I.ivf_query(spark, pa, q, k=5,
                                                 n_probe=4).collect())
    monkeypatch.setattr(I, "TOMBSTONE_BROADCAST_LIMIT", 0)
    shuf = sorted(tuple(r) for r in I.ivf_query(spark, pb, q, k=5,
                                                n_probe=4).collect())
    assert bcast == shuf and len(shuf) > 0
    # compaction under the shuffle path folds identically
    I.compact_ivf_index(spark, pb)
    monkeypatch.setattr(I, "TOMBSTONE_BROADCAST_LIMIT", 2_000_000)
    I.compact_ivf_index(spark, pa)
    post_a = sorted(tuple(r) for r in I.ivf_query(spark, pa, q, k=5,
                                                  n_probe=4).collect())
    post_b = sorted(tuple(r) for r in I.ivf_query(spark, pb, q, k=5,
                                                  n_probe=4).collect())
    assert post_a == post_b == bcast


def test_commit_deletes_aside_copy_before_retired_lists(spark, tmp_path):
    """r15 ADVICE (medium): _commit_deferred_rebalance must delete the
    rename-aside centroid copy FIRST. While `._rebal_old` exists every
    retired partition must still be intact — otherwise the pending-swap
    guidance ("rename the copy back to roll back") restores a pre-split
    routing over partially-deleted lists (silent recall loss). Pins (a)
    the delete ORDER via a recording HadoopFS.delete, and (b) the
    post-copy-delete crash window self-heals: only unroutable retired
    partitions remain, swept by the next pass's step-(0) sweep."""
    from commerce_data_pipeline_spark.operators import index as I
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=2)
    retired = I.rebalance_ivf_index(
        spark, path, max_list_size=20, _defer_cleanup=True
    )
    assert retired == [0, 1]
    fs = HadoopFS(spark, path)
    # deferred-window invariant: copy present => every retired list present
    assert fs.exists(f"{path}/centroids._rebal_old")
    for cid in retired:
        assert fs.exists(f"{path}/inverted/centroid_id={cid}")

    deleted_order = []
    orig_delete = HadoopFS.delete

    def recording_delete(self, p):
        deleted_order.append(str(p))
        return orig_delete(self, p)

    HadoopFS.delete = recording_delete
    try:
        I._commit_deferred_rebalance(spark, path, retired)
    finally:
        HadoopFS.delete = orig_delete
    assert deleted_order and deleted_order[0].endswith("._rebal_old")
    assert all("centroid_id=" in p for p in deleted_order[1:])

    # crash-after-copy-delete window: rebuild the deferred state, delete
    # ONLY the copy (what a crashed commit leaves), and show the next
    # maintenance pass self-heals with no pending-swap ambiguity
    path2 = f"file://{tmp_path}/ivf2"
    I.build_ivf_index(emb, path2, n_centroids=2)
    retired2 = I.rebalance_ivf_index(
        spark, path2, max_list_size=20, _defer_cleanup=True
    )
    fs2 = HadoopFS(spark, path2)
    assert fs2.delete(f"{path2}/centroids._rebal_old")  # the crash point
    I.check_no_pending_swap(spark, path2, what="retry")  # no wedge
    swept = I._sweep_unroutable(spark, path2)
    assert sorted(swept) == retired2  # the leftover retired lists
    live = {
        int(e.split("=", 1)[1])
        for e in fs2.listdir(f"{path2}/inverted")
        if e.startswith("centroid_id=")
    }
    routable = {
        int(r["centroid_id"])
        for r in spark.read.parquet(f"{path2}/centroids").collect()
    }
    assert live == routable  # fully healed: no unroutable debris


def test_torn_markerless_sidecar_degrades_to_default(spark, tmp_path):
    """r15 ADVICE (low): with success markers disabled, a sidecar dir
    containing part files may be a torn write (task-committed but not
    job-committed, or a torn overwrite). The markerless fallback read
    must VALIDATE (one row, expected column, non-null) and degrade to
    the legacy default — while a _SUCCESS-marked sidecar that fails
    validation still raises loudly (the committer vouched for it)."""
    import pytest

    from commerce_data_pipeline_spark.operators import index as I
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    emb = _vecs(spark, n=40)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=2)
    I.upsert_into_ivf_index(emb.filter(F.col("vec_id") < 3), path)
    assert I.current_gen(spark, path) >= 1
    fs = HadoopFS(spark, path)

    # torn shape 1: wrong column, marker deleted -> default, not garbage
    spark.createDataFrame([(7,)], "not_gen int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/gen_meta")
    assert fs.delete(f"{path}/gen_meta/_SUCCESS")
    assert I.current_gen(spark, path) == 0

    # torn shape 2: two rows, marker deleted -> default
    spark.createDataFrame([(3,), (9,)], "gen int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/gen_meta")
    assert fs.delete(f"{path}/gen_meta/_SUCCESS")
    assert I.current_gen(spark, path) == 0

    # same degrade for centroid_meta: base falls back to (cur, cur)
    spark.createDataFrame([(1,), (2,)], "base_n_centroids int").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroid_meta")
    assert fs.delete(f"{path}/centroid_meta/_SUCCESS")
    assert I.centroid_counts(spark, path) == (2, 2)

    # a _SUCCESS-marked torn sidecar is an operator problem: raise loud
    spark.createDataFrame([(3,), (9,)], "gen int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/gen_meta")
    assert fs.exists(f"{path}/gen_meta/_SUCCESS")
    with pytest.raises(ValueError, match="torn"):
        I.current_gen(spark, path)


def test_torn_classifier_uses_cause_chain_not_trace(spark, tmp_path):
    """r18 ADVICE (medium): the generic-exception torn-write heuristic
    must classify on the Java cause chain, not str(e) — a Py4JJavaError
    string embeds the whole stack trace, so a transient failure passing
    through ParquetFileReader.readFooter frames would otherwise match
    'parquet'+'footer' and silently degrade a healthy sidecar."""
    import pytest

    from commerce_data_pipeline_spark.operators import index as I
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    # e2e: a REAL corrupt footer (garbage part file) on a markerless
    # sidecar degrades to default; the same corruption under _SUCCESS
    # raises loudly
    emb = _vecs(spark, n=20)
    path = f"file://{tmp_path}/ivf_torn"
    I.build_ivf_index(emb, path, n_centroids=2)
    fs = HadoopFS(spark, path)
    assert fs.delete(f"{path}/gen_meta")
    fs.write_bytes(f"{path}/gen_meta/part-00000.parquet", b"not parquet bytes")
    assert I.current_gen(spark, path) == 0  # markerless + corrupt -> default
    fs.write_bytes(f"{path}/gen_meta/_SUCCESS", b"")
    with pytest.raises(Exception):
        I.current_gen(spark, path)  # committer vouched for it: raise

    # unit: a transient error whose rendered TRACE mentions parquet
    # footer frames but whose cause chain is connection loss is NOT torn
    class _JThrowable:
        def __init__(self, cls, msg, cause=None):
            self._cls, self._msg, self._cause = cls, msg, cause

        def getClass(self):
            outer = self

            class _C:
                def getName(self):
                    return outer._cls

            return _C()

        def getMessage(self):
            return self._msg

        def getCause(self):
            return self._cause

    class _FakePy4JError(Exception):
        def __init__(self, je, text):
            super().__init__(text)
            self.java_exception = je

    transient = _FakePy4JError(
        _JThrowable(
            "java.io.IOException",
            "Connection reset by peer",
            _JThrowable("java.net.SocketException", "connection reset"),
        ),
        "An error occurred while calling o1.collect.\n"
        ": java.io.IOException: Connection reset by peer\n"
        "\tat org.apache.parquet.hadoop.ParquetFileReader.readFooter(...)\n",
    )
    assert not I._is_torn_parquet_error(transient)

    corrupt = _FakePy4JError(
        _JThrowable(
            "java.lang.RuntimeException",
            "file:/x/part-0.parquet is not a Parquet file (length too small)",
        ),
        "An error occurred while calling o1.collect.\n",
    )
    assert I._is_torn_parquet_error(corrupt)
    decoding = _FakePy4JError(
        _JThrowable(
            "org.apache.spark.SparkException",
            "task failed",
            _JThrowable(
                "org.apache.parquet.io.ParquetDecodingException",
                "Can not read value at offset 0",
            ),
        ),
        "trace...",
    )
    assert I._is_torn_parquet_error(decoding)


def test_ann_commit_selfheal_query_matches_oracle(spark, sf_dir, tmp_path):
    """Pre-registration differential for the r17 window candidate (the
    never-attested-in-window protocol, ann_veto_rollback precedent): the
    interrupted-commit lifecycle row — top-5 over an index whose
    admitted split's commit crashed after the rename-aside delete and
    was healed by a routine maintenance pass. The oracle replays the
    COMMITTED split routing, so a hash match proves the crash+heal lost
    nothing of the split; the heal numbers ride along."""
    import duckdb

    from commerce_data_pipeline_spark.queries import _shared
    from commerce_data_pipeline_spark.queries.similarity import (
        _ora_ann_commit_selfheal,
        _q_ann_commit_selfheal,
    )

    orig = _shared.CACHE_TAG
    _shared.CACHE_TAG = f"sh{tmp_path.name[-8:]}"
    try:
        sdf = _q_ann_commit_selfheal(spark, sf_dir)
        scols = sdf.columns
        srows = sorted(tuple(r) for r in sdf.collect())
    finally:
        _shared.CACHE_TAG = orig
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rel = con.sql(_ora_ann_commit_selfheal(2))
    ocols = rel.columns
    orows = sorted(tuple(r) for r in rel.fetchall())
    assert sorted(scols) == sorted(ocols)
    perm = [scols.index(c) for c in ocols]
    assert [tuple(r[i] for i in perm) for r in srows] == orows
    # live-data sanity: the split really happened, the crash window held
    # every retired list (the commit-order invariant), and the follow-up
    # pass swept them all
    row = {c: v for c, v in zip(scols, srows[0])}
    assert row["n_split"] > 0
    assert row["leftover_before"] == row["n_split"]
    assert row["leftover_after"] == 0
    assert row["healed"] is True
    n_queries = len({r[scols.index("query_id")] for r in srows})
    assert len(srows) == 5 * n_queries


def test_ann_recover_midswap_query_matches_oracle(spark, sf_dir, tmp_path):
    """Pre-registration differential for a later-round window candidate
    (the never-attested-in-window protocol, ann_commit_selfheal
    precedent): the mid-swap crash lifecycle row — top-5 over an index
    whose rollback crashed between its two renames (only the
    rename-aside routing copy left), was refused by the entry guard and
    by recover(commit), and recovered by recover(rollback). The oracle
    replays the NEVER-SPLIT build routing, so a hash match proves the
    recovery restored pre-split serving bit-identically; the audit
    numbers ride along."""
    import duckdb

    from commerce_data_pipeline_spark.queries import _shared
    from commerce_data_pipeline_spark.queries.similarity import (
        _ora_ann_recover_midswap,
        _q_ann_recover_midswap,
    )

    orig = _shared.CACHE_TAG
    _shared.CACHE_TAG = f"ms{tmp_path.name[-8:]}"
    try:
        sdf = _q_ann_recover_midswap(spark, sf_dir)
        scols = sdf.columns
        srows = sorted(tuple(r) for r in sdf.collect())
    finally:
        _shared.CACHE_TAG = orig
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rel = con.sql(_ora_ann_recover_midswap(2))
    ocols = rel.columns
    orows = sorted(tuple(r) for r in rel.fetchall())
    assert sorted(scols) == sorted(ocols)
    perm = [scols.index(c) for c in ocols]
    assert [tuple(r[i] for i in perm) for r in srows] == orows
    # live-data sanity: the split happened, every refusal fired, and the
    # rollback's sweep reclaimed every appended sub-list
    row = {c: v for c, v in zip(scols, srows[0])}
    assert row["n_split"] > 0
    assert row["n_split"] <= row["n_swept"] <= 2 * row["n_split"]
    assert row["guard_refused"] is True
    assert row["commit_refused"] is True
    assert row["recovered"] is True
    n_queries = len({r[scols.index("query_id")] for r in srows})
    assert len(srows) == 5 * n_queries


def test_ann_recover_commit_query_matches_oracle(spark, sf_dir, tmp_path):
    """Pre-registration differential for a later-round window candidate:
    the deferred-commit recovery lifecycle row — top-5 over an index
    left in the pending deferred window and resolved with the public
    recover_pending_swap(action='commit'). The oracle replays the
    COMMITTED split routing, so a hash match proves commit-recovery
    preserved the admitted split's serving; the audit numbers ride
    along."""
    import duckdb

    from commerce_data_pipeline_spark.queries import _shared
    from commerce_data_pipeline_spark.queries.similarity import (
        _ora_ann_recover_commit,
        _q_ann_recover_commit,
    )

    orig = _shared.CACHE_TAG
    _shared.CACHE_TAG = f"rc{tmp_path.name[-8:]}"
    try:
        sdf = _q_ann_recover_commit(spark, sf_dir)
        scols = sdf.columns
        srows = sorted(tuple(r) for r in sdf.collect())
    finally:
        _shared.CACHE_TAG = orig
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rel = con.sql(_ora_ann_recover_commit(2))
    ocols = rel.columns
    orows = sorted(tuple(r) for r in rel.fetchall())
    assert sorted(scols) == sorted(ocols)
    perm = [scols.index(c) for c in ocols]
    assert [tuple(r[i] for i in perm) for r in srows] == orows
    # live-data sanity: the split happened, the operator saw the
    # deferred window, swept exactly the retired lists, and left a
    # clean index
    row = {c: v for c, v in zip(scols, srows[0])}
    assert row["n_split"] > 0
    assert row["n_swept"] == row["n_split"]
    assert row["state_deferred"] is True
    assert row["swept_retired"] is True
    assert row["clean_after"] is True
    n_queries = len({r[scols.index("query_id")] for r in srows})
    assert len(srows) == 5 * n_queries


def test_commit_refuses_when_copy_delete_fails(spark, tmp_path):
    """r16: both commit paths (_commit_deferred_rebalance and the public
    recover_pending_swap(action='commit')) verify the rename-aside copy
    is GONE before reclaiming any retired list — a silently-failed
    delete must refuse loudly with every retired partition intact,
    because sweeping while the copy survives makes its rename-back
    recovery silently wrong."""
    import pytest

    from commerce_data_pipeline_spark.operators import index as I
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS

    emb = _vecs(spark, n=60)
    path = f"file://{tmp_path}/ivf"
    I.build_ivf_index(emb, path, n_centroids=2)
    retired = I.rebalance_ivf_index(
        spark, path, max_list_size=20, _defer_cleanup=True
    )
    fs = HadoopFS(spark, path)

    orig_delete = HadoopFS.delete

    def refusing_delete(self, p, recursive=True):
        if str(p).endswith("._rebal_old"):
            return False  # simulate a partially-failed object-store delete
        return orig_delete(self, p, recursive)

    HadoopFS.delete = refusing_delete
    try:
        with pytest.raises(RuntimeError, match="could not remove"):
            I._commit_deferred_rebalance(spark, path, retired)
        assert fs.exists(f"{path}/centroids._rebal_old")
        for cid in retired:
            assert fs.exists(f"{path}/inverted/centroid_id={cid}")
        with pytest.raises(RuntimeError, match="could not remove"):
            I.recover_pending_swap(spark, path, "commit")
        assert fs.exists(f"{path}/centroids._rebal_old")
        for cid in retired:
            assert fs.exists(f"{path}/inverted/centroid_id={cid}")
    finally:
        HadoopFS.delete = orig_delete
    # with deletes working again the commit recovery completes cleanly
    res = I.recover_pending_swap(spark, path, "commit")
    assert res["state"] == "deferred_window" and res["swept"] == sorted(retired)
    assert not fs.exists(f"{path}/centroids._rebal_old")


@pytest.mark.parametrize("null_id", [0, 2])
def test_kmeans_train_names_null_seed(spark, null_id):
    """A NULL vector on any seed row (not only seed id 0) raises a
    ValueError naming that seed id, before any corpus-sized work."""
    rows = [(i, None if i == null_id else [float(i), 1.0]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=f"seed vector for id {null_id} is NULL"):
        S.kmeans_train(emb, k=3, rounds=1)
