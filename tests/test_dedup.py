"""Unit tests for dedup operators (SURVEY.md §2d X1/X2)."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from commerce_data_pipeline_spark.operators import dedup as D


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_exact_dedup_normalization(spark):
    df = _docs(
        spark,
        [
            "Hello   World",
            "hello world",      # same after normalization → deduped
            "HELLO  WORLD ",    # same after normalization → deduped
            "different doc",
        ],
    )
    kept = sorted(r["doc_id"] for r in D.exact_dedup(df).collect())
    assert kept == [0, 3]  # lowest id survives per group


def test_fingerprint_matches_python_md5(spark):
    df = _docs(spark, ["Some  TEXT here"])
    fp = df.select(D.fingerprint("text").alias("f")).collect()[0]["f"]
    assert fp == hashlib.md5(b"some text here").hexdigest()


def test_word_shingles(spark):
    df = _docs(spark, ["a b c d", "a b"])
    out = df.select(D.word_shingles("text", 3).alias("s")).collect()
    assert sorted(out[0]["s"]) == ["a b c", "b c d"]
    assert out[1]["s"] == []  # shorter than n → empty


def test_word_ngrams_keep_order_and_repeats(spark):
    df = _docs(spark, ["a b a b a b", "a", None, "x  Y z w"])
    out = df.select(
        D.word_ngrams("text", 2).alias("g"),
        D.word_ngrams("text", 3).alias("g3"),
        D.word_shingles("text", 2).alias("s"),
        F.array_distinct(D.word_ngrams("text", 2)).alias("ds"),
    ).collect()
    assert out[0]["g"] == ["a b", "b a", "a b", "b a", "a b"]
    assert out[1]["g"] == []  # fewer than n words
    assert out[2]["g"] == [] and out[2]["g3"] == []  # NULL text
    assert out[3]["g3"] == ["x y z", "y z w"]
    assert all(r["s"] == r["ds"] for r in out)


def test_minhash_identical_docs_equal_signatures(spark):
    df = _docs(spark, ["the quick brown fox jumps", "the quick brown fox jumps", "totally other words here now"])
    sig = {r["doc_id"]: (r["mh_0"], r["mh_1"], r["mh_2"], r["mh_3"]) for r in D.minhash_signature(df, num_hashes=4).collect()}
    assert sig[0] == sig[1]
    assert sig[0] != sig[2]
    # cross-check one component against the python reference construction:
    # v = 60-bit md5 prefix mod 2^31; h_0 = (a_0*v + b_0) mod (2^31 - 1)
    shingles = ["the quick brown", "quick brown fox", "brown fox jumps"]
    a0, b0 = D.minhash_coeffs(1)[0]
    vs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2147483648 for s in shingles]
    expect = min((a0 * v + b0) % D.MINHASH_PRIME for v in vs)
    assert sig[0][0] == expect


def test_minhash_lsh_finds_duplicates(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"  # one extra word → most shingles shared
    other = "one two three four five six seven eight nine ten"
    df = _docs(spark, [base, near, other])
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(df, num_hashes=8, bands=4).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ngram_jaccard_exact_value(spark):
    # unigram sets: {a b c d} vs {a b c e} → jaccard = 3/5
    df = _docs(spark, ["a b c d", "a b c e"])
    out = D.ngram_jaccard_pairs(df, shingle_n=1, threshold=0.0).collect()
    assert len(out) == 1
    assert abs(out[0]["jaccard"] - 3 / 5) < 1e-12


def test_ngram_jaccard_max_freq_cap(spark):
    # 'x' appears in all docs; with cap=2 it is dropped, leaving no overlap
    df = _docs(spark, ["x a", "x b", "x c"])
    out = D.ngram_jaccard_pairs(df, shingle_n=1, threshold=0.0, max_shingle_freq=2).collect()
    assert out == []


def test_simhash_properties(spark):
    df = _docs(
        spark,
        ["the quick brown fox jumps over the lazy dog today",
         "the quick brown fox jumps over the lazy dog today",
         "entirely unrelated vocabulary cluster with many different terms"],
    )
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    assert sims[0] == sims[1]
    assert sims[0] != sims[2]


@pytest.mark.parametrize("bits", [0, 65])
def test_simhash_rejects_out_of_range_bits(spark, bits):
    df = _docs(spark, ["alpha beta gamma"])
    with pytest.raises(ValueError, match="bits"):
        D.simhash(df, bits=bits)


_SIMHASH_TEXTS = [
    "alpha beta gamma",
    "the quick brown fox jumps over the lazy dog today",
    "Repeated repeated REPEATED words   words",
    "",
    None,
    "one",
]


def _words(text):
    """Normalized words; NULL text is one empty word, as in the operator."""
    return re.sub(r"\s+", " ", (text or "").lower()).strip(" ").split(" ")


def _simhash_reference(text, word_hash, bits):
    """Pure-Python SimHash: vote per bit over every word (repeats count),
    set the bit on a positive vote, read the result as a signed long."""
    hashes = [word_hash(w) for w in _words(text)]
    packed = sum(
        1 << b for b in range(bits) if sum(((h >> b) & 1) * 2 - 1 for h in hashes) > 0
    )
    return packed - (1 << 64) if packed >= 1 << 63 else packed


def test_simhash_md5_exact_values(spark):
    df = _docs(spark, _SIMHASH_TEXTS)

    def md5_prefix(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16)

    got = {r["doc_id"]: r["simhash"] for r in D.simhash_md5(df, bits=60).collect()}
    want = {i: _simhash_reference(t, md5_prefix, 60) for i, t in enumerate(_SIMHASH_TEXTS)}
    assert got == want


def test_simhash_exact_values_with_sign_bit(spark):
    df = _docs(spark, _SIMHASH_TEXTS)
    vocab = sorted({w for t in _SIMHASH_TEXTS for w in _words(t)})
    hashes = {
        r["w"]: r["h"]
        for r in spark.createDataFrame([(w,) for w in vocab], "w string")
        .select("w", F.xxhash64("w").alias("h"))
        .collect()
    }
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(df, bits=64).collect()}
    want = {i: _simhash_reference(t, hashes.__getitem__, 64) for i, t in enumerate(_SIMHASH_TEXTS)}
    assert got == want
    assert any(v < 0 for v in want.values())  # bit 63 (the sign bit) is exercised


def test_simhash_buckets_near_dup(spark):
    # identical docs → hamming 0 → guaranteed to share every block;
    # (a one-word edit flips ~#(zero-sum bits) ≈ n·C(n,n/2)/2^n bits, which
    # can exceed the ≤3-bit guarantee of 4 blocks, so it isn't a stable test)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    df = _docs(spark, [base, base, "one two three four five six seven"])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_buckets(df).collect()}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] == 0
    assert (0, 2) not in pairs


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter > 1 → needs multiple propagation rounds)
    # plus clique {10,11,12} and isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in D.connected_components(pairs, small_graph_edges=0).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_alternating_cc_matches_label_propagation(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["component"] for r in D.connected_components_alternating(pairs, small_graph_edges=0).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_alternating_cc_long_chain_converges_in_log_rounds(spark):
    # a 64-node chain has diameter 63: label propagation needs ~63 rounds,
    # the alternating algorithm must finish well inside max_iter=10
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    out = D.connected_components_alternating(pairs, max_iter=10, small_graph_edges=0)
    comp = {r["id"]: r["component"] for r in out.collect()}
    assert comp == {i: 0 for i in range(64)}


def test_alternating_cc_random_graphs_match_reference_impl(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n, m = 60, 45
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        ref = {r["id"]: r["component"] for r in D.connected_components(pairs, small_graph_edges=0).collect()}
        alt = {
            r["id"]: r["component"]
            for r in D.connected_components_alternating(pairs, small_graph_edges=0).collect()
        }
        assert alt == ref, f"trial {trial}"


def test_dedup_by_components_keeps_representatives(spark):
    df = _docs(spark, ["a", "b", "c", "d", "e"])  # ids 0..4
    pairs = spark.createDataFrame([(0, 2), (2, 4)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in D.dedup_by_components(df, pairs).collect())
    # component {0,2,4} → keep 0; 1 and 3 untouched
    assert kept == [0, 1, 3]


def test_small_graph_unionfind_matches_distributed(spark):
    """The driver union-find fast path (edges <= SMALL_GRAPH_EDGES) must
    produce exactly the labels of the distributed alternating rounds."""
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r["id"]: r["component"] for r in D.connected_components_alternating(pairs).collect()}
    dist = {
        r["id"]: r["component"]
        for r in D.connected_components_alternating(pairs, small_graph_edges=0).collect()
    }
    assert fast == dist
    prop = {r["id"]: r["component"] for r in D.connected_components(pairs).collect()}
    assert prop == dist


def test_pair_group_matrix_unordered_counts(spark):
    from pyspark.sql import Row

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=1, id_b=3), Row(id_a=2, id_b=3),
         Row(id_a=4, id_b=5)]
    )
    meta = spark.createDataFrame(
        [Row(doc_id=1, source="s1"), Row(doc_id=2, source="s2"),
         Row(doc_id=3, source="s1"), Row(doc_id=4, source="s3"),
         Row(doc_id=5, source="s1")]
    )
    out = {(r["source_a"], r["source_b"]): r["n_pairs"]
           for r in D.pair_group_matrix(pairs, meta).collect()}
    # (1,2)->s1/s2, (1,3)->s1/s1, (2,3)->s2/s1 normalized to (s1,s2),
    # (4,5)->s3/s1 normalized to (s1,s3)
    assert out == {("s1", "s2"): 2, ("s1", "s1"): 1, ("s1", "s3"): 1}


def test_lsh_bucket_stats_hand_and_bounds(spark):
    from commerce_data_pipeline_spark.operators.dedup import (
        lsh_bucket_stats, minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
            (2, "completely different text about spark and shuffles here"),
            (3, "the quick brown fox jumps over a lazy dog today"),
        ],
        ["doc_id", "text"],
    )
    stats = lsh_bucket_stats(docs, num_hashes=16, bands=4).collect()
    assert {r["band"] for r in stats} == {0, 1, 2, 3}
    for r in stats:
        # every doc lands in exactly one bucket per band
        assert r["n_rows"] == 4
        # candidate_pairs is exactly sum C(c,2) => consistent with counts
        assert r["candidate_pairs"] >= r["n_collision_buckets"]
        # docs 0 and 1 are identical -> every band has a >= 2 bucket
        assert r["max_bucket"] >= 2 and r["n_collision_buckets"] >= 1
    # planner upper-bounds the realized distinct pair count
    total_candidates = sum(r["candidate_pairs"] for r in stats)
    realized = minhash_lsh_pairs(docs, num_hashes=16, bands=4).count()
    assert realized <= total_candidates
    assert realized >= 1  # the exact-dup pair must be caught


def test_containment_catches_quoted_subset(spark):
    """A doc fully quoted inside a bigger one: Jaccard is small (union is
    dominated by the big doc) but containment of the small doc is 1.0 —
    the case this operator exists for."""
    from commerce_data_pipeline_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs,
    )

    small = "alpha beta gamma"
    big = small + " " + " ".join(f"w{i}" for i in range(27))  # 30 words
    docs = spark.createDataFrame([(1, small), (2, big)], ["doc_id", "text"])
    got = ngram_containment_pairs(docs, shingle_n=1, min_containment=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"], r["inter"], r["n_a"], r["n_b"]) == (1, 2, 3, 3, 30)
    assert r["cont_a_e6"] == 1_000_000 and r["cont_b_e6"] == 100_000
    # Jaccard at the same threshold misses it entirely
    assert not ngram_jaccard_pairs(docs, shingle_n=1, threshold=0.5).collect()


def test_containment_threshold_either_direction(spark):
    from commerce_data_pipeline_spark.operators.dedup import ngram_containment_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f"), (3, "x y z q")], ["doc_id", "text"]
    )
    # pair (1,2): inter=2, n=4 each -> 0.5 both directions -> kept at 0.5
    rows = ngram_containment_pairs(docs, shingle_n=1, min_containment=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert rows[0]["cont_a_e6"] == rows[0]["cont_b_e6"] == 500_000


def test_minhash_estimate_audit_hand_case(spark):
    """Two docs sharing half their 1-gram shingles: exact Jaccard is
    replayable by hand; the estimate is whatever the deterministic
    signatures give, and the report must glue them together exactly."""
    from pyspark.sql import functions as F

    from commerce_data_pipeline_spark.operators.dedup import (
        minhash_estimate_audit,
        minhash_signature,
    )

    rows = [(1, "a b c d"), (2, "c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_estimate_audit(df, num_hashes=8, shingle_n=1).collect()[0]
    # shingles {a,b,c,d} vs {c,d,e,f}: inter 2, union 6 -> jacc_e6 333333
    jacc_e6 = (1_000_000 * 2) // 6
    sig = {r["doc_id"]: r for r in minhash_signature(df, num_hashes=8, shingle_n=1).collect()}
    matches = sum(1 for i in range(8) if sig[1][f"mh_{i}"] == sig[2][f"mh_{i}"])
    est_e6 = (1_000_000 * matches) // 8
    assert out["n_pairs"] == 1
    assert out["mae_e6"] == abs(est_e6 - jacc_e6)
    assert out["max_err_e6"] == abs(est_e6 - jacc_e6)


def test_minhash_estimate_audit_empty_pair_space(spark):
    from commerce_data_pipeline_spark.operators.dedup import minhash_estimate_audit

    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd")], "doc_id long, text string"
    )
    out = minhash_estimate_audit(df, num_hashes=8, shingle_n=1).collect()[0]
    assert out["n_pairs"] == 0
    assert out["mae_e6"] is None and out["max_err_e6"] is None


def test_minhash_estimate_audit_is_accurate_on_corpus(spark, sf_dir):
    """The contract the audit exists to pin: with k=8 the MAE over the
    sampled corpus pairs should be well under the single-component
    granularity (125000 e6) — i.e. the estimator is unbiased in
    aggregate, not just in theory."""
    from pyspark.sql import functions as F

    from commerce_data_pipeline_spark.operators.dedup import minhash_estimate_audit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 == 0
    )
    out = minhash_estimate_audit(docs, num_hashes=8, shingle_n=3).collect()[0]
    assert out["n_pairs"] > 0
    assert out["mae_e6"] < 125_000


def test_minhash_estimate_audit_filters_both_sides(spark):
    """r11 ADVICE (low): with max_shingle_freq set, the SIGNATURES must
    come from the same frequency-filtered shingle set as the exact
    Jaccard. Docs 1 and 2 have identical rare shingles {x,y,z} but each
    carries a different FREQUENT shingle (doc-freq 4 > 2): filtered sets
    are equal, so the filtered-set signatures must match on every
    component and the audit reports zero error — signatures built from
    the unfiltered text (the old behavior, full-set J = 3/5) could not
    guarantee that."""
    from commerce_data_pipeline_spark.operators.dedup import (
        minhash_estimate_audit,
    )

    rows = [
        (1, "x y z f1"),
        (2, "x y z f2"),
        # make f1 and f2 frequent (doc-freq 4 each); these docs have no
        # rare shingles left after filtering -> contribute no pairs
        (3, "f1 f2"), (4, "f1 f2"), (5, "f1 f2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_estimate_audit(
        df, num_hashes=8, shingle_n=1, max_shingle_freq=2
    ).collect()[0]
    assert out["n_pairs"] == 1  # only (1, 2) overlap on rare shingles
    assert out["mae_e6"] == 0 and out["max_err_e6"] == 0
