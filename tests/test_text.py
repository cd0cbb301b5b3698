"""Unit tests for text analysis (SURVEY.md §2d X4)."""

from commerce_data_pipeline_spark.operators import text as X


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_token_counts(spark):
    df = _docs(spark, ["one two three", "hello, world! 42"])
    out = df.select(
        X.token_count("text").alias("t"), X.bpe_token_count("text").alias("b")
    ).collect()
    assert out[0]["t"] == 3 and out[0]["b"] == 3
    # 'hello' ',' 'world' '!' '42' → 5 BPE-ish tokens, 3 whitespace tokens
    assert out[1]["t"] == 3 and out[1]["b"] == 5


def test_stopword_and_punct_ratio(spark):
    df = _docs(spark, ["the cat and the dog"])
    r = df.select(
        X.stopword_ratio("text").alias("s"), X.punct_ratio("text").alias("p")
    ).collect()[0]
    assert abs(r["s"] - 3 / 5) < 1e-12  # the, and, the
    assert r["p"] == 0.0


def test_mean_word_length(spark):
    df = _docs(spark, ["ab abcd"])  # (2+4)/2 = 3
    r = df.select(X.mean_word_length("text").alias("m")).collect()[0]
    assert abs(r["m"] - 3.0) < 1e-12


def test_language_id_markers(spark):
    df = _docs(
        spark,
        [
            "the cat and the dog of a house",   # en markers
            "der hund und die katze ist gross", # de markers
            "xyzzy plugh qwerty",               # no markers → und
        ],
    )
    out = [r["l"] for r in df.select(X.language_id("text").alias("l")).collect()]
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "und"


def test_quality_score_bounds(spark):
    df = _docs(spark, ["", "the quick brown fox jumps over the lazy dog " * 10])
    out = [r["q"] for r in df.select(X.quality_score("text").alias("q")).collect()]
    for q in out:
        assert 0.0 <= q <= 1.0
    assert out[1] > out[0]  # long clean prose beats empty string


def test_profile_schema(spark):
    df = _docs(spark, ["the small test document with some words"])
    prof = X.profile(df)
    assert set(prof.columns) == {
        "doc_id", "n_chars_computed", "n_tokens", "n_bpe_tokens", "mean_word_len",
        "stopword_ratio", "punct_ratio", "quality", "lang_pred", "fingerprint",
    }
    row = prof.collect()[0]
    assert row["n_tokens"] == 7
    assert row["lang_pred"] == "en"


def test_repetition_profile_degenerate_vs_diverse(spark):
    df = _docs(spark, [
        "spam spam spam spam spam spam spam spam",   # 0: one token repeated
        "one two three four five six seven eight",   # 1: all distinct
        "ab",                                        # 2: too short for 3-grams
    ])
    rows = {r["doc_id"]: r for r in X.repetition_profile(df).collect()}
    # all 3-grams identical → distinct=1 of 6 → ratio 5/6; top word = 8/8
    assert rows[0]["n_grams_total"] == 6 and rows[0]["n_grams_distinct"] == 1
    assert rows[0]["rep_ratio_e6"] == 833_333
    assert rows[0]["top_word_e6"] == 1_000_000
    # fully diverse → ratio 0; top word fraction 1/8
    assert rows[1]["rep_ratio_e6"] == 0
    assert rows[1]["top_word_e6"] == 125_000
    # short doc: no grams, ratio 0, top word 1/1
    assert rows[2]["n_grams_total"] == 0 and rows[2]["rep_ratio_e6"] == 0
    assert rows[2]["top_word_e6"] == 1_000_000


def test_repetition_profile_null_and_short_docs(spark):
    df = _docs(spark, [None, "Hello  world", "a b a b a b"])
    rows = {
        r["doc_id"]: (r["n_words"], r["n_grams_total"], r["n_grams_distinct"],
                      r["rep_ratio_e6"], r["top_word_e6"])
        for r in X.repetition_profile(df).collect()
    }
    assert rows[0] == (None, 0, 0, 0, 0)
    assert rows[1] == (2, 0, 0, 0, 500_000)
    # 3-grams: a b a, b a b, a b a, b a b -> 2 distinct of 4
    assert rows[2] == (6, 4, 2, 500_000, 500_000)
    bigrams = X.repetition_profile(df, n=2).collect()
    assert {r["doc_id"]: r["n_grams_distinct"] for r in bigrams} == {0: 0, 1: 1, 2: 2}


def test_unigram_typicality_exact_values(spark):
    df = _docs(spark, [
        "the cat sat",          # 0: all common-ish words
        "the the the the",      # 1: only the most frequent word
        "zzz qqq",              # 2: words unique to this doc
    ])
    # corpus counts: the=5, cat=1, sat=1, zzz=1, qqq=1 ; T=9
    # vocab_size=2 -> vocab = {the:5, cat:1} (count desc, word asc tiebreak)
    rows = {r["doc_id"]: r for r in X.unigram_typicality(df, vocab_size=2).collect()}
    r0 = rows[0]
    assert (r0["n_words"], r0["n_oov"]) == (3, 1)  # sat is OOV
    assert r0["oov_e6"] == 333_333
    # sum_c = 5 (the) + 1 (cat) + 0 (sat) = 6 -> 1e9*6/(3*9)
    assert r0["typicality_e9"] == 222_222_222
    r1 = rows[1]
    assert (r1["n_words"], r1["n_oov"], r1["oov_e6"]) == (4, 0, 0)
    # sum_c = 20 -> 1e9*20/(4*9) = 555_555_555
    assert r1["typicality_e9"] == 555_555_555
    r2 = rows[2]
    assert (r2["n_words"], r2["n_oov"], r2["oov_e6"]) == (2, 2, 1_000_000)
    assert r2["typicality_e9"] == 0


def test_winnow_fingerprints_overlap_and_determinism(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = _docs(spark, [
        base,
        "PREFIX words here " + base,   # shares a long run -> fps overlap
        "entirely different content with no shared runs at all whatsoever",
        "small",                       # shorter than w+k-1 but == k: >=1 fp
    ])
    fps = {}
    for r in X.winnow_fingerprints(df, k=5, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    # shared-run guarantee: docs 0 and 1 share fingerprints
    assert fps[0] & fps[1]
    # unrelated doc shares (almost) nothing with doc 0 - allow tiny collisions
    assert len(fps.get(2, set()) & fps[0]) <= 1
    assert len(fps.get(3, set())) >= 1
    again = {}
    for r in X.winnow_fingerprints(df, k=5, w=4).collect():
        again.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps == again


def test_winnow_pairs_finds_planted_copy(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank again"
    df = _docs(spark, [
        base,
        "completely unrelated text about spark physical plans and shuffles",
    ])
    doubled = df.unionAll(df.selectExpr("doc_id + 100 AS doc_id", "text"))
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
             X.winnow_pairs(doubled, k=8, w=4, min_shared=2).collect()}
    # each doc pairs with its exact copy (identical fingerprint sets)...
    assert (0, 100) in pairs and (1, 101) in pairs
    # ...and unrelated docs don't pair
    assert (0, 1) not in pairs and (0, 101) not in pairs


def test_winnow_xxhash_fast_path_same_shape(spark):
    df = _docs(spark, ["the quick brown fox jumps over the lazy dog"])
    md5_fps = X.winnow_fingerprints(df, k=5, w=4, hash_fn="md5").count()
    xx_fps = X.winnow_fingerprints(df, k=5, w=4, hash_fn="xxhash64").count()
    # same selection structure, different hash family -> similar set sizes
    assert md5_fps > 0 and xx_fps > 0
    a = X.winnow_fingerprints(df, k=5, w=4, hash_fn="xxhash64").collect()
    b = X.winnow_fingerprints(df, k=5, w=4, hash_fn="xxhash64").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic


# ---- dup_ngram_spans (cross-document repeated n-gram spans, r5) ----------

def _spans(spark, texts, **kw):
    rows = X.dup_ngram_spans(_docs(spark, texts), **kw).collect()
    return {(r.doc_id, r.start_tok, r.end_tok): r.n_dup_windows for r in rows}


def test_dup_spans_shared_run_merges_adjacent_windows(spark):
    # docs share the 5-token run "a b c d e" → three 3-gram windows each,
    # merged into ONE maximal span per doc
    got = _spans(
        spark,
        ["a b c d e x y z", "q q a b c d e q"],
        n=3,
    )
    assert got == {(0, 1, 5): 3, (1, 3, 7): 3}


def test_dup_spans_two_separate_runs_stay_separate(spark):
    # shared runs at the start and end of doc 0, gap in the middle
    got = _spans(
        spark,
        ["a b c GAP1 GAP2 x y z", "a b c OTHER x y z"],
        n=3,
    )
    assert got == {
        (0, 1, 3): 1, (0, 6, 8): 1,
        (1, 1, 3): 1, (1, 5, 7): 1,
    }


def test_dup_spans_within_doc_repeats_do_not_qualify(spark):
    # "m n o" repeats inside ONE doc only → count(DISTINCT doc) = 1 → no rows
    assert _spans(spark, ["m n o p m n o p", "totally different words here"], n=3) == {}


def test_dup_spans_short_docs_emit_nothing(spark):
    assert _spans(spark, ["a b", "a b"], n=3) == {}


def test_dup_spans_exact_dup_docs_whole_doc_span(spark):
    got = _spans(spark, ["one two three four five", "one two three four five"], n=3)
    assert got == {(0, 1, 5): 3, (1, 1, 5): 3}


def test_dup_spans_n_validation(spark):
    import pytest

    with pytest.raises(ValueError):
        X.dup_ngram_spans(_docs(spark, ["x"]), n=0)


def test_bigram_lm_matches_manual_model(spark):
    import math

    from commerce_data_pipeline_spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "solo"), (3, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # corpus model: types (a,b):3 (b,a):1 (b,c):1; c1 a:3 b:2; c2 b:3 a:1 c:1
    # T=5, V=3 — replay the exact term formula in plain Python
    def term(c12, c1, c2):
        return math.floor(1e6 * math.log(0.9 * (c12 / c1) + 0.1 * ((c2 + 1.0) / (5.0 + 3.0))))

    t_ab, t_ba, t_bc = term(3, 3, 3), term(1, 2, 1), term(1, 2, 1)
    assert out[0]["n_bigrams"] == 3 and out[0]["nll_e6"] == -(2 * t_ab + t_ba)
    assert out[1]["n_bigrams"] == 2 and out[1]["nll_e6"] == -(t_ab + t_bc)
    for r in out.values():
        assert r["avg_nll_e6"] == r["nll_e6"] // r["n_bigrams"]
    # docs with < 2 words emit no row
    assert 2 not in out and 3 not in out


def test_bigram_lm_flags_shuffled_word_order(spark):
    from commerce_data_pipeline_spark.operators.text import bigram_lm_scores

    base = "the quick brown fox jumps over the lazy dog"
    shuf = "dog the over quick lazy fox jumps brown the"
    docs = spark.createDataFrame(
        [(i, base) for i in range(8)] + [(100, shuf)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # the common word ORDER scores far more likely than the shuffled one,
    # even though both share the identical unigram distribution
    assert out[100]["avg_nll_e6"] > out[0]["avg_nll_e6"]


def test_bigram_lm_heldout_model(spark):
    """model_df scoring: seen bigrams get the full interpolated p; bigrams
    the model never saw get only smoothed backoff mass (never dropped,
    never -inf); model_df=None stays value-identical to self-scoring."""
    import math

    from commerce_data_pipeline_spark.operators.text import bigram_lm_scores

    train = spark.createDataFrame([(0, "a b a b"), (1, "a b c")], ["doc_id", "text"])
    held = spark.createDataFrame([(10, "a b"), (11, "z q")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in bigram_lm_scores(held, model_df=train).collect()}
    # model: c12(a,b)=3, c12(b,a)=1, c12(b,c)=1 -> c1(a)=3, c2(b)=3, T=5, V=3
    p_ab = 0.9 * (3 / 3) + 0.1 * ((3 + 1.0) / (5.0 + 3.0))
    assert out[10]["nll_e6"] == -math.floor(1e6 * math.log(p_ab))
    # (z,q) unseen everywhere: p = 0.1 * (0+1)/(5+3)
    p_zq = 0.1 * ((0 + 1.0) / (5.0 + 3.0))
    assert out[11]["nll_e6"] == -math.floor(1e6 * math.log(p_zq))
    # self-scored path unchanged: score train under itself both ways
    a = sorted(map(tuple, bigram_lm_scores(train).collect()))
    b = sorted(map(tuple, bigram_lm_scores(train, model_df=train).collect()))
    assert a == b


def test_bigram_lm_model_filter_matches_model_df(spark):
    """r16: `model_filter` (single-explode, model types derived from the
    shared occ_doc checkpoint) must be bit-equal to passing the filtered
    frame as `model_df` — including docs whose bigrams the model never
    saw, and regardless of which slice is larger. Both args together is
    an error."""
    import pytest
    from pyspark.sql import functions as F

    from commerce_data_pipeline_spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [
            (0, "a b a b", "train"),
            (1, "a b c", "train"),
            (2, "a b", "val"),
            (3, "z q z", "val"),
            (4, "c a b c", "test"),
        ],
        ["doc_id", "text", "split"],
    )
    via_filter = sorted(
        map(
            tuple,
            bigram_lm_scores(docs, model_filter=F.col("split") == "train")
            .select("doc_id", "n_bigrams", "nll_e6", "avg_nll_e6")
            .collect(),
        )
    )
    via_df = sorted(
        map(
            tuple,
            bigram_lm_scores(
                docs, model_df=docs.filter(F.col("split") == "train")
            )
            .select("doc_id", "n_bigrams", "nll_e6", "avg_nll_e6")
            .collect(),
        )
    )
    assert via_filter == via_df
    with pytest.raises(ValueError, match="not both"):
        bigram_lm_scores(
            docs, model_df=docs, model_filter=F.col("split") == "train"
        )


def test_vocab_coverage(spark):
    """Top-V cut is (count desc, word asc)-deterministic; OOV counted per
    group with an exact floored e6 ratio."""
    df = spark.createDataFrame(
        [
            ("a", "x x x y z"),   # x:3 y:1 z:1
            ("b", "x y y q"),     # +x:1 y:2 q:1
        ],
        "source string, text string",
    )
    # corpus counts: x=4, y=3, q=1, z=1 → V=2 vocab = {x, y}
    out = {
        r["source"]: r
        for r in X.vocab_coverage(df, vocab_size=2).collect()
    }
    assert out["a"]["n_tokens"] == 5 and out["a"]["n_oov"] == 1
    assert out["a"]["oov_rate_e6"] == 200000
    assert out["b"]["n_tokens"] == 4 and out["b"]["n_oov"] == 1
    assert out["b"]["oov_rate_e6"] == 250000


def test_vocab_coverage_tie_break_and_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [("s", "b a")], "source string, text string"
    )
    # a and b tie at count 1: V=1 must pick 'a' (word asc tiebreak)
    row = X.vocab_coverage(df, vocab_size=1).collect()[0]
    assert row["n_oov"] == 1  # 'b' is OOV
    with _pytest.raises(ValueError):
        X.vocab_coverage(df, vocab_size=0)
