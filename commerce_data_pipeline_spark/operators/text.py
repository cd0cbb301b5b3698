"""Text analysis operators for corpus pipelines (SURVEY.md §2d X4).

Language ID, quality scoring, token counting, document fingerprinting —
all built-in-function compositions (split/regexp/higher-order), no UDFs,
so every one of them runs inside whole-stage codegen on the scan.

These are per-row map operations: zero shuffles, and at 100 TB they
pipeline with whatever filter/write follows them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from commerce_data_pipeline_spark.operators.dedup import (
    fingerprint,
    normalized_text,
    word_ngrams,
)
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint
from commerce_data_pipeline_spark.scatter import scatter as _scatter

# Marker stopwords per language for the n-gram/marker-word language-ID
# heuristic. Deliberately tiny and deterministic so an ANSI-SQL oracle can
# reproduce the scoring exactly.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
}

STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)

# BPE-ish token pattern: word pieces, numbers, or single punctuation — the
# standard pre-tokenizer shape (letters | digits | single non-space symbol).
TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def words(text_col: str = "text") -> Column:
    return F.split(normalized_text(text_col), " ")


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count (cheap path)."""
    return F.size(words(text_col))


def bpe_token_count(text_col: str = "text") -> Column:
    """Regex token count approximating a BPE pre-tokenizer: words, number
    runs, and punctuation each count as one token."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), 0))


def char_count(text_col: str = "text") -> Column:
    return F.length(F.col(text_col))


def stopword_ratio(text_col: str = "text") -> Column:
    ws = words(text_col)
    hits = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    return hits.cast("double") / F.greatest(F.size(ws), F.lit(1)).cast("double")


def punct_ratio(text_col: str = "text") -> Column:
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(text_col), F.lit(1)).cast("double")


def mean_word_length(text_col: str = "text") -> Column:
    ws = words(text_col)
    total = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    return total.cast("double") / F.greatest(F.size(ws), F.lit(1)).cast("double")


def quality_score(text_col: str = "text") -> Column:
    """Composite quality heuristic in [0,1]: rewards mid-length documents,
    normal word lengths, some stopword presence, low punctuation noise.
    Deterministic arithmetic only — oracle-reproducible."""
    n_tokens = token_count(text_col).cast("double")
    len_score = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    wl = mean_word_length(text_col)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_score = F.least(stopword_ratio(text_col) * F.lit(5.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text_col) * F.lit(2.0), F.lit(1.0))
    return (
        F.lit(0.4) * len_score + F.lit(0.2) * wl_score + F.lit(0.2) * sw_score
        + F.lit(0.2) * (F.lit(1.0) - punct_penalty)
    )


def language_id(text_col: str = "text") -> Column:
    """Marker-word language ID: score each language by its marker-word hit
    count; argmax with deterministic tie-break on language code. Returns the
    language code, 'und' when nothing matches."""
    ws = words(text_col)

    # closure factory: HOF lambdas must stay unary (PySpark derives the
    # lambda-variable count from the Python arity)
    def _hits(markers: tuple[str, ...]):
        return lambda w: w.isin(*markers)

    # array_sort ascending by (score, lang); element_at(-1) → max score,
    # ties broken toward the lexicographically-largest language code.
    scored = [
        F.struct(
            F.size(F.filter(ws, _hits(markers))).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.element_at(F.array_sort(F.array(*scored)), -1)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def repetition_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Within-document repetition signals (C4/Gopher-style quality
    filters for training corpora):

    - `rep_ratio_e6`  : 1 − distinct n-grams / total n-grams — high for
      boilerplate/degenerate text (computed scan-side, no explode for
      this part). The n-grams come from `dedup.word_ngrams`, one linear
      `zip_with` fold: a per-gram lambda here would re-normalize and
      re-split the whole document once per gram.
    - `top_word_e6`   : most-frequent-token fraction — high for spammy
      keyword-stuffed text. This one needs a per-(doc, word) count, so it
      is the one shuffle here: explode → two stacked group-bys keyed by
      doc_id (map-side combine applies; cardinality shrinks every step).

    e6 floors (not round) keep both engines on the same integer.
    """
    ws = words(text_col)
    total_n = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    all_grams = word_ngrams(text_col, n)
    distinct_n = F.size(F.array_distinct(all_grams))
    rep = F.when(
        total_n > 0,
        F.lit(1.0) - distinct_n.cast("double") / total_n.cast("double"),
    ).otherwise(F.lit(0.0))
    base = df.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_words"),
        total_n.cast("long").alias("n_grams_total"),
        distinct_n.cast("long").alias("n_grams_distinct"),
        F.floor(rep * 1_000_000).cast("long").alias("rep_ratio_e6"),
    )
    top_word = (
        df.select(F.col(id_col), F.explode(ws).alias("_w"))
        .groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_max_c"))
    )
    return (
        base.join(top_word, on=id_col, how="left")
        .select(
            F.col(id_col),
            "n_words",
            "n_grams_total",
            "n_grams_distinct",
            "rep_ratio_e6",
            F.floor(
                F.coalesce(F.col("_max_c"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_words"), F.lit(1)).cast("double")
                * 1_000_000
            ).cast("long").alias("top_word_e6"),
        )
    )


def unigram_typicality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Corpus-LM quality scoring (perplexity proxy): score each document by
    how typical its words are under the corpus's own unigram distribution —
    the cheap, trainer-free version of the LM-perplexity filters used on
    web-scale training corpora. Two passes:

    1. Corpus unigram counts c(w) (explode → word-keyed groupBy; partial
       aggregation combines map-side) and the top-`vocab_size` vocabulary by
       (count desc, word asc) — orderBy+limit lowers to the distributed
       TakeOrderedAndProject, no single-task vocabulary sort.
    2. Per-doc score: tokens left-broadcast-join the vocabulary, then one
       doc-keyed groupBy emits integer sums only.

    Output per doc: `n_words`, `n_oov` (words outside the top-V vocab),
    `oov_e6` = floor(1e6 · n_oov/n_words) via pure INTEGER division, and
    `typicality_e9` = floor(1e9 · Σc(w_i) / (n_words · T)) where T is the
    corpus token total — the arithmetic mean of in-vocab unigram
    probabilities. High OOV / low typicality → atypical, likely low-quality
    text. No float logs anywhere: every aggregate is an exact integer and
    each ratio is a single correctly-rounded division, so an ANSI-SQL
    oracle lands on the identical integer (the determinism rule used
    throughout this repo: floor(x·1eN) over exact operands, never round).

    Scale: the exploded token table is the one big shuffle (word-keyed);
    the vocabulary (V rows) broadcasts; the scalar total T broadcasts as a
    1-row frame. Document text itself never shuffles.
    """
    ws = words(text_col)
    tok = df.select(F.col(id_col), F.explode(ws).alias("_w"))
    freq = tok.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    total = freq.agg(F.sum("_c").alias("_t"))
    vocab = freq.orderBy(F.desc("_c"), F.asc("_w")).limit(vocab_size)
    return (
        tok.join(F.broadcast(vocab), on="_w", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.coalesce(F.col("_c"), F.lit(0))).alias("_sum_c"),
            F.sum(F.when(F.col("_c").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.expr("(n_oov * 1000000) div n_words").cast("long").alias("oov_e6"),
            F.floor(
                F.col("_sum_c").cast("double")
                * 1e9
                / (F.col("n_words").cast("double") * F.col("_t").cast("double"))
            )
            .cast("long")
            .alias("typicality_e9"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS algorithm): hash every character k-gram of the
    normalized text, slide a w-window over the hash sequence, keep each
    window's minimum — a position-robust fingerprint SET that overlaps
    between documents sharing any run of ≥ w+k-1 characters (the
    guarantee threshold), unlike the whole-document md5 in
    `dedup.fingerprint` which only matches exact normalized equality.

    Entirely scan-side HOFs (one hash per k-gram, window minima via
    transform+slice) → map-only, no shuffle; output explodes to
    (doc_id, fp) rows for set-join overlap queries downstream.

    `hash_fn`: "xxhash64" (the DEFAULT and production path — one JVM
    codegen'd hash per k-gram, ~2-4× cheaper than md5 at bench scale, see
    PLANS.md) or "md5" (60-bit hex-prefix ints — the cross-engine-
    reproducible family the SQL oracle replays; the `winnow`/`winnow_pairs`
    registry queries pass it explicitly, same twin pattern as simhash vs
    simhash_md5). Fingerprint VALUES differ between the families but the
    selection structure (window minima of k-gram hashes) and the overlap
    guarantee are identical. Documents shorter than k characters emit no
    rows (no k-gram exists).
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError("hash_fn must be 'md5' or 'xxhash64'")
    # Staged projections with nondeterministic barriers (`_mb*`): without
    # them CollapseProject inlines (a) the normalize-regex into every
    # k-gram substring and (b) the k-gram hash array into EVERY window's
    # slice — O(n) regex evaluations and O(n²) cryptographic hashing per
    # document (same trap, same fix as minhash_signature).
    norm = df.select(
        F.col(id_col),
        normalized_text(text_col).alias("_nt"),
        F.monotonically_increasing_id().alias("_mb0"),
    )
    nt = F.col("_nt")
    n_grams = F.greatest(F.length(nt) - (k - 1), F.lit(0))
    gram_idx = F.when(n_grams > 0, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )

    def _gram_hash(i):
        if hash_fn == "xxhash64":
            return F.xxhash64(nt.substr(i, F.lit(k)))
        return F.conv(F.substring(F.md5(nt.substr(i, F.lit(k))), 1, 15), 16, 10).cast(
            "long"
        )

    staged = norm.select(
        F.col(id_col),
        F.transform(gram_idx, _gram_hash).alias("_hs"),
        F.monotonically_increasing_id().alias("_mb"),
    )
    hs = F.col("_hs")
    # windows: 1..(len-w+1); a doc with 0 < grams < w gets ONE window over
    # the whole (short) hash sequence, matching the algorithm's contract
    # that every document with at least one k-gram yields a fingerprint
    n_win = F.when(
        F.size(hs) > 0,
        F.greatest(F.size(hs) - (w - 1), F.lit(1)),
    ).otherwise(F.lit(0))
    win_idx = F.when(n_win > 0, F.sequence(F.lit(1), n_win)).otherwise(
        F.array().cast("array<int>")
    )
    selected = F.transform(win_idx, lambda j: F.array_min(F.slice(hs, j, w)))
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(selected)).alias("fp")
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing-based near-dup candidate pairs: documents sharing at
    least `min_shared` winnow fingerprints — the plagiarism/boilerplate
    detection shape winnowing exists for. Guarantee: any pair sharing a
    run of ≥ w+k-1 normalized characters shares ≥ 1 fingerprint; raising
    `min_shared` trades recall for precision.

    Same bucketed machinery as the LSH/banding paths: group doc ids per
    fingerprint, expand in-bucket pairs (no self-join — the fingerprint
    table is scanned once), then count shared fingerprints per pair. One
    aggregation shuffle on the fingerprint, one on the pair. Ubiquitous
    fingerprints (boilerplate shared by >max_fp_freq docs) are dropped
    exactly like frequency-capped shingles — they carry no pair signal
    and their buckets are quadratic.

    Returns (id_a, id_b, n_shared) with id_a < id_b.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w, hash_fn)
    buckets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_fp_freq))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda a: F.transform(
                F.filter(F.col("_ids"), lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("_p"))
        .groupBy(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dup_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated n-gram SPAN detection — the exact-substring
    dedup shape from Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022): find every position where a run of
    `n` consecutive tokens also occurs in at least `min_docs - 1` OTHER
    documents, then merge overlapping/adjacent duplicated windows into
    maximal per-document spans. Winnowing (`winnow_fingerprints`) answers
    "which documents overlap"; this answers "WHICH TOKEN RANGES are
    duplicated" — the spans a training pipeline actually cuts out.

    Pipeline (all built-ins):
      1. tokenize (whitespace over normalized text, the repo-wide
         convention shared with every text oracle);
      2. hash each n-token window with one codegen'd xxhash64 — windows
         never shuffle as strings, only as (id, pos, 8-byte hash) rows;
      3. duplicated window values = hashes seen in ≥ `min_docs` distinct
         docs (one keyed count-distinct aggregation);
      4. mark positions via a hash-keyed semi-join;
      5. gaps-and-islands merge per document (window function partitioned
         by doc — no global sort): span = [min_pos, max_pos + n - 1].

    Returns (doc_id, start_tok, end_tok, n_dup_windows); positions are
    1-based token indices, end inclusive.

    Scale: every stage is linear in total token count — unlike pair
    expansion there is NO quadratic step, so no frequency cap is needed:
    an all-duplicate corpus marks every position and the output stays
    linear. The two shuffles (hash agg, islands agg) are keyed on the
    window hash / doc id. Cross-engine note: the SQL oracle groups on the
    literal window TEXT; xxhash64 grouping is identical up to 64-bit hash
    collisions (~2^-64 per window pair — deterministic data, so a
    collision would be stable and visible, never flaky).

    Docs with fewer than `n` tokens emit no windows. Within-doc repeats
    alone do not qualify a window (`count(DISTINCT doc)` — boilerplate
    repeated inside ONE doc is `text_repetition`'s job), but once a window
    qualifies, ALL its positions in every member doc are marked.
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError("n must be >= 1")
    # Staged projection with a nondeterministic barrier: without it
    # CollapseProject inlines the normalize-regex + split into every
    # window's slice — O(len·n) regex evaluations per doc (same trap and
    # fix as winnow_fingerprints / minhash_signature).
    toks = df.select(
        F.col(id_col),
        F.split(normalized_text(text_col), " ").alias("_tk"),
        F.monotonically_increasing_id().alias("_mb0"),
    )
    tk = F.col("_tk")
    n_win = F.greatest(F.size(tk) - (n - 1), F.lit(0))
    win_idx = F.when(n_win > 0, F.sequence(F.lit(1), n_win)).otherwise(
        F.array().cast("array<int>")
    )
    wins = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                win_idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(F.array_join(F.slice(tk, i, n), " ")).alias("h"),
                ),
            )
        ).alias("_w"),
    ).select(F.col(id_col), F.col("_w.pos").alias("pos"), F.col("_w.h").alias("h"))
    # `wins` feeds TWO consumers (the duplicated-hash aggregate and the
    # semi-join probe): lazily checkpoint so the corpus is normalized,
    # tokenized and window-hashed ONCE, not once per consumer (r17 A/B at
    # sf0.1, min-of-3 warm: 2.46 s → 1.46 s; at 100 TB this halves the
    # scan+regex+hash passes — the ngram_jaccard_pairs precedent).
    wins = wins.transform(_checkpoint, eager=False)
    dup_h = (
        wins.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("h")
    )
    marked = wins.join(dup_h, "h", "leftsemi")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn("_g", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "_g")
        .agg(
            F.min("pos").cast("long").alias("start_tok"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("end_tok"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .select(F.col(id_col), "start_tok", "end_tok", "n_dup_windows")
    )


def profile(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Full text-analysis profile: one map-only pass over the corpus."""
    return df.select(
        F.col(id_col),
        char_count(text_col).cast("long").alias("n_chars_computed"),
        token_count(text_col).cast("long").alias("n_tokens"),
        bpe_token_count(text_col).cast("long").alias("n_bpe_tokens"),
        F.round(mean_word_length(text_col), 4).alias("mean_word_len"),
        F.round(stopword_ratio(text_col), 4).alias("stopword_ratio"),
        F.round(punct_ratio(text_col), 4).alias("punct_ratio"),
        F.round(quality_score(text_col), 4).alias("quality"),
        language_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.9,
    bak: float = 0.1,
    model_df: DataFrame | None = None,
    model_filter: Column | None = None,
) -> DataFrame:
    """CCNet-style LM perplexity filtering (Wenzek et al., LREC 2020),
    trainer-free: score every document's negative log-likelihood under an
    interpolated bigram LM estimated from the corpus itself —

        p(w2|w1) = lam · c(w1,w2)/c(w1,·) + bak · (c(·,w2)+1)/(T+V)

    (MLE bigram interpolated with an add-one unigram backoff over the T
    bigram tokens / V distinct continuations). High avg-NLL ⇒ atypical
    word sequences — the bigram upgrade of `unigram_typicality`, catching
    shuffled/unnatural word ORDER that unigram stats cannot.

    Determinism contract: counts are exact integers; each type's
    term_e6 = floor(1e6·ln(p)) is computed once per bigram TYPE on a
    fixed expression tree (the bm25 ln precedent — identical double
    operands in both engines), floored to BIGINT before any sum, so the
    per-doc aggregate is an order-independent integer sum. NLL is
    positive, so the avg's integer division is floor in every engine
    (negative `div` truncates toward zero in Spark but floors in others
    — never divide a negative here).

    Plan shape for 100 TB: bigram construction is scan-side (one
    zip_with of the word array against its shifted self — the
    word_shingles linearity pattern, minus the distinct); the corpus
    shuffles once keyed by bigram for type counts, and once more to join
    occurrences to the scored type table ((w1,w2)-co-keyed). c1/c2/T/V
    all derive from the TYPE table (orders of magnitude smaller than the
    corpus); T+V composes via a broadcast 1-row aggregate. Document text
    never shuffles.

    Output per doc (docs with ≥2 words): n_bigrams, nll_e6, avg_nll_e6.

    HELD-OUT scoring: pass `model_df` to estimate the LM from a separate
    corpus (the train split) and score `df` (the held-out split) under
    it — the generalization-gap evaluation a perplexity filter needs
    before its thresholds mean anything. Bigrams unseen by the model get
    only the smoothed backoff mass (lam-term 0; an unseen continuation
    falls back to 1/(T+V)) — never dropped, never -inf. With
    model_df=None the expression tree is the original self-scored one.

    When the model corpus is a ROW-SUBSET of `df` (the train/val/test
    case), pass `model_filter` (a boolean Column over df's columns)
    instead of `model_df`: the model's type table then derives from the
    already-checkpointed per-doc gram counts — ONE corpus explode
    instead of two (r16: the model_df path re-scanned and re-exploded
    the 80% train slice; at 100 TB that second explode dominates). The
    scored expression tree is identical to the model_df path, so
    results are bit-equal to passing df.filter(model_filter).
    """
    ws_arr = F.split(normalized_text(text_col), " ")
    shifted = F.slice(ws_arr, 2, F.greatest(F.size(ws_arr) - 1, F.lit(0)))
    pairs = F.zip_with(
        ws_arr, shifted, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
    )
    grams = F.when(
        F.size(ws_arr) >= 2, F.slice(pairs, 1, F.size(ws_arr) - 1)
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    if model_df is not None and model_filter is not None:
        raise ValueError(
            "bigram_lm_scores: pass model_df OR model_filter, not both"
        )
    sel = [F.col(id_col), F.explode(grams).alias("_g")]
    occ_cols = [
        F.col(id_col),
        F.col("_g.w1").alias("_w1"),
        F.col("_g.w2").alias("_w2"),
    ]
    keys = [id_col, "_w1", "_w2"]
    if model_filter is not None:
        # the flag is functionally dependent on id_col, so adding it to
        # the grouping keys changes no group — it just rides along to
        # let the model types derive from occ_doc without a re-explode
        sel.insert(1, model_filter.alias("_in_model"))
        occ_cols.insert(1, F.col("_in_model"))
        keys = [id_col, "_in_model", "_w1", "_w2"]
    occ = df.select(*sel).select(*occ_cols)
    # aggregate straight to per-doc gram counts and materialize ONCE: the
    # frame feeds both the model-estimation side (types → c1/c2/T/V) and
    # the scoring join — without the checkpoint every derived frame
    # re-scans and re-explodes the corpus (witnessed as 5 parquet scans
    # and 9 exchanges in the pre-fix plan audit)
    occ_doc = (
        occ.groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .transform(_checkpoint, eager=False)
    )
    if model_df is None and model_filter is None:
        # c1/c2/tv/scored all re-derive this agg from the occ_doc
        # checkpoint — measured CHEAPER than materializing the type
        # table (r16 probe: checkpointing types cost bigram_lm
        # 1.85→2.36 s at sf0.1; the re-aggs read executor-local blocks
        # and pipeline into their consumers). Kept as a groupBy
        # (map-side partials), never a partition-by window: hot words
        # would serialize a window's per-key sort.
        types = occ_doc.groupBy("_w1", "_w2").agg(
            F.sum("_n").cast("long").alias("_c12")
        )
        score_types = types
    elif model_filter is not None:
        # model types from the SAME explode: one corpus pass, the train
        # slice selected on the flag column carried through occ_doc —
        # and ONE conditional aggregate doubles as both tables: _c12 is
        # NULL exactly where the model never saw the bigram (sum over an
        # all-null group), which is bit-for-bit the left-join semantics
        # the model_df path produces, without the distinct + join pair
        score_types = (
            occ_doc.groupBy("_w1", "_w2")
            .agg(
                F.sum(F.when(F.col("_in_model"), F.col("_n")))
                .cast("long")
                .alias("_c12")
            )
            .transform(_checkpoint, eager=False)
        )
        types = score_types.filter(F.col("_c12").isNotNull())
    else:
        m_ws = F.split(normalized_text(text_col), " ")
        m_shift = F.slice(m_ws, 2, F.greatest(F.size(m_ws) - 1, F.lit(0)))
        m_pairs = F.zip_with(
            m_ws, m_shift, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
        )
        m_grams = F.when(
            F.size(m_ws) >= 2, F.slice(m_pairs, 1, F.size(m_ws) - 1)
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        types = (
            model_df.select(F.explode(m_grams).alias("_g"))
            .groupBy(F.col("_g.w1").alias("_w1"), F.col("_g.w2").alias("_w2"))
            .agg(F.count(F.lit(1)).cast("long").alias("_c12"))
            .transform(_checkpoint, eager=False)
        )
        # score every bigram TYPE the scored corpus contains; types the
        # model never saw keep _c12 NULL (-> lam-term 0 below)
        score_types = (
            occ_doc.select("_w1", "_w2").distinct()
            .join(types, ["_w1", "_w2"], "left")
        )
    c1 = types.groupBy("_w1").agg(F.sum("_c12").cast("long").alias("_c1"))
    c2 = types.groupBy("_w2").agg(F.sum("_c12").cast("long").alias("_c2"))
    tv = types.agg(
        F.sum("_c12").cast("long").alias("_t"),
        F.count_distinct("_w2").cast("long").alias("_v"),
    )
    p = F.lit(float(lam)) * F.coalesce(
        F.col("_c12").cast("double") / F.col("_c1").cast("double"), F.lit(0.0)
    ) + F.lit(float(bak)) * (
        (F.coalesce(F.col("_c2"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.col("_t").cast("double") + F.col("_v").cast("double"))
    )
    scored = (
        score_types.join(c1, "_w1", "left")
        .join(c2, "_w2", "left")
        .crossJoin(F.broadcast(tv))
        .select(
            "_w1",
            "_w2",
            F.floor(F.lit(1000000.0) * F.log(p)).cast("long").alias("_term_e6"),
        )
    )
    return (
        occ_doc.join(scored, ["_w1", "_w2"])
        .groupBy(id_col)
        .agg(
            F.sum("_n").cast("long").alias("n_bigrams"),
            F.sum(F.col("_n") * F.col("_term_e6")).cast("long").alias("_ll"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            (-F.col("_ll")).cast("long").alias("nll_e6"),
            F.expr("(-_ll) div n_bigrams").cast("long").alias("avg_nll_e6"),
        )
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top: int = 20,
) -> DataFrame:
    """Tokenizer bootstrap — the FIRST byte-pair-encoding merge decision:
    count adjacent character pairs across every word occurrence in the
    corpus and rank them (Sennrich et al., 2016 — each BPE iteration
    merges the most frequent pair; this operator computes exactly that
    frequency table, the statistic a vocabulary build loops on).

    Plan shape: words explode scan-side, each word emits its len-1
    character bigrams via a sequence transform (no Python), then ONE
    pair-keyed count with map-side partials — linear in corpus bytes,
    the same cost class as word_count. Ties rank by pair lexicographic
    (deterministic top).

    Returns (left_ch, right_ch, pair_count, rnk) — top `top` pairs.
    """
    from pyspark.sql import Window

    w = df.select(F.explode(F.split(normalized_text(text_col), " ")).alias("_w"))
    # the pair construction lives in one expr because substring's position
    # argument must be the sequence element (F.substring takes literals)
    pairs = w.filter(F.length("_w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(_w) - 1), "
                "i -> struct(substring(_w, i, 1) AS l, substring(_w, i + 1, 1) AS r))"
            )
        ).alias("_p")
    )
    counted = (
        pairs.groupBy(
            F.col("_p.l").alias("left_ch"), F.col("_p.r").alias("right_ch")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
    )
    w_rank = Window.orderBy(
        F.desc("pair_count"), F.asc("left_ch"), F.asc("right_ch")
    )
    return (
        counted.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= top)
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Curriculum / dedup-adjacent novelty scoring: per document, the
    fraction of its distinct word n-grams whose FIRST corpus occurrence
    (minimum id over all documents containing the gram) is this
    document. Near-1 → fresh content; near-0 → the document restates
    earlier material (the doc-level complement of dup_ngram_spans'
    span-level view).

    Plan: distinct grams explode scan-side → one gram-keyed MIN
    aggregation (map-side partials; the ONLY corpus-wide shuffle) →
    n_novel derived from that aggregate ALONE as a count per first-doc
    (a gram's min-holder contains the gram by definition, so joining
    the full gram stream back to `first` — the pre-r17 shape, which
    re-shuffled every gram row a second time and re-aggregated the
    corpus-sized join output by id — computes the identical counts);
    n_grams is the distinct-gram-array SIZE, computed scan-side with
    zero shuffle. The only frames that meet in a join are two
    doc-keyed, doc-sized aggregates. Grams shuffle as (hash-sized)
    strings ONCE; documents with < n words drop out (no gram set to
    score).

    novelty_e6 floors BEFORE emit so the ratio is integer-exact
    cross-engine. Returns (id, n_grams, n_novel, novelty_e6).
    """
    from commerce_data_pipeline_spark.operators.dedup import word_shingles

    sizes = df.select(
        F.col(id_col).alias("_id"), F.size(word_shingles(text_col, n)).alias("n_grams")
    ).filter(F.col("n_grams") >= 1)
    grams = df.select(
        F.col(id_col).alias("_id"), F.explode(word_shingles(text_col, n)).alias("_g")
    )
    novel = (
        grams.groupBy("_g")
        .agg(F.min("_id").alias("_first"))
        .groupBy("_first")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    per_doc = sizes.join(
        novel, sizes["_id"] == novel["_first"], "left"
    ).select(
        "_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_grams",
        "n_novel",
        F.floor(F.col("n_novel") * F.lit(1_000_000) / F.col("n_grams"))
        .cast("long")
        .alias("novelty_e6"),
    )


def _bpe_match(syms: Column, l: Column, r: Column, i: Column) -> Column:
    """True iff the adjacent pair at 1-based position i of `syms` is (l, r).
    try_element_at keeps out-of-range probes NULL (ANSI-safe); the & with
    the bounds check collapses NULL to false."""
    n = F.size(syms)
    return (
        (i <= n - 1)
        & (F.try_element_at(syms, i) == l)
        & (F.try_element_at(syms, i + F.lit(1)) == r)
    )


def _bpe_merge_start(syms: Column, l: Column, r: Column, i: Column) -> Column:
    """Greedy left-to-right BPE merge, order-free form: position i starts a
    merge iff it matches (l, r) AND the count of consecutive immediately-
    preceding matches is even. For l != r matches can never be adjacent, so
    this is simply "every match"; for l == r it selects even offsets within
    each run — exactly what a sequential left-to-right scan merges (fuzz-
    checked against the sequential reference in tests)."""
    prior_nonmatch = F.aggregate(
        F.filter(
            F.sequence(F.lit(1), F.greatest(i - 1, F.lit(1))),
            lambda j: (j <= i - 1) & ~_bpe_match(syms, l, r, j),
        ),
        F.lit(0),
        lambda a, j: F.greatest(a, j),
    )
    return _bpe_match(syms, l, r, i) & (((i - 1 - prior_nonmatch) % 2) == 0)


def bpe_apply_merge(syms: Column, left: str, right: str) -> Column:
    """Apply ONE BPE merge (left, right) to a symbol array, scan-side: the
    positional even-offset rule above picks the merge starts, then a single
    flatten(transform(...)) rebuilds the array — merged positions emit the
    fused symbol, consumed positions emit nothing. Pure higher-order
    functions: no UDF, no shuffle, O(len^2) scalar work per word (words are
    short; the pair-count aggregation dominates the round, not this map)."""
    l, r = F.lit(left), F.lit(right)
    # size < 2 → no merge possible; also keeps sequence(1, n) ascending
    # (Spark's sequence(1, 0) DESCENDS to [1, 0], probing index 0)
    return F.when(F.size(syms) < 2, syms).otherwise(F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(syms)),
            lambda i: F.when(
                _bpe_merge_start(syms, l, r, i), F.array(F.concat(l, r))
            )
            .when(
                (i >= 2) & _bpe_merge_start(syms, l, r, i - 1),
                F.array().cast("array<string>"),
            )
            .otherwise(F.array(F.try_element_at(syms, i))),
        )
    ))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Tokenizer TRAINING loop (Sennrich et al., 2016) — `rounds` full BPE
    iterations, each: (1) ONE corpus-wide pair-keyed count with map-side
    partials picks the most frequent adjacent symbol pair (ties break
    lexicographically, same contract as bpe_pair_counts), (2) the merge is
    applied scan-side to every word via bpe_apply_merge. The kmeans_train
    shape applied to vocabulary learning: aggregate statistics up, broadcast
    the (one-pair) decision down, driver holds only the O(rounds) merge
    table. The whole trajectory is count-exact, so a SQL oracle replays it
    as `rounds` unrolled CTE levels.

    The corpus-sized work happens exactly ONCE: the initial word-frequency
    aggregation (Sennrich's trainer operates on the word-count dict, and
    that is also the 100 TB shape — one corpus shuffle up front, then every
    round's pair count and merge application run over the DISTINCT-word
    vocabulary weighted by `cnt`). Distinct words stay distinct under
    merging (symbol sequences always concatenate back to the word), so the
    vocabulary never needs re-aggregation. Each round's vocab frame is
    localCheckpoint-ed (two consumers: the next count and the next merge).

    Returns the learned merge table (rnk, left_sym, right_sym, pair_count)
    — rnk is the merge order, the trained artifact a BPE tokenizer ships.

    JOB-COUNT BOUND (r11 VERDICT #2): driver STATE is O(rounds), but the
    loop issues one decision job per merge — ~0.3-0.5 s of scheduling per
    round on the bench vocab, so a production 32k-merge vocabulary is
    32k sequential round-trips. That is the real scale axis here; for
    large vocabularies use `bpe_train_batched`, which learns `batch`
    pairwise-disjoint merges per decision job (32k merges at batch=256 →
    125 jobs) with every reported pair_count still exact.
    """
    if rounds < 1:
        raise ValueError("bpe_train: rounds must be >= 1")
    # df may be None when a prebuilt vocab carries the whole corpus signal
    spark = (vocab if vocab is not None else df).sparkSession
    merges = [
        (rnd, l, r, c)
        for rnd, l, r, c, _ in _bpe_loop(
            vocab if vocab is not None else _bpe_vocab(df, text_col),
            rounds,
            apply_last=False,
        )
    ]
    return local_frame(
        spark,
        merges, "rnk int, left_sym string, right_sym string, pair_count long"
    )


def _bpe_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """The one corpus-sized stage of BPE training: word-frequency
    aggregation to (syms array, cnt), localCheckpoint-ed."""
    return (
        # single-file parquet scans as ONE split; spread the CPU-bound
        # normalize/split/explode before the vocabulary aggregation
        # (guarded: multi-split production scans skip the exchange)
        _scatter(df)
        .select(F.explode(F.split(normalized_text(text_col), " ")).alias("_w"))
        .filter(F.length("_w") >= 1)
        .groupBy("_w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(F.split("_w", "").alias("syms"), "cnt")
        .transform(_checkpoint, eager=False)
    )


def _bpe_top_pair(vocab: DataFrame):
    """The round's merge decision: cnt-weighted adjacent-pair count over
    the vocabulary, top-1 by (count desc, pair lexicographic)."""
    rows = (
        vocab.filter(F.size("syms") >= 2)
        .select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.try_element_at("syms", i).alias("l"),
                        F.try_element_at("syms", i + F.lit(1)).alias("r"),
                    ),
                )
            ).alias("_p"),
        )
        .groupBy(F.col("_p.l").alias("l"), F.col("_p.r").alias("r"))
        .agg(F.sum("cnt").cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
        .limit(1)
        .collect()
    )
    if not rows:
        return None
    return rows[0]["l"], rows[0]["r"], int(rows[0]["c"])


def bpe_apply_merges_disjoint(
    syms: Column, pairs: list[tuple[str, str]]
) -> Column:
    """Apply a SYMBOL-DISJOINT merge batch in ONE pass — the scale
    complement to `bpe_train_batched`'s decision batching: at batch=256
    this replaces 256 sequential projection passes per round with one.

    Correctness rests on two properties of `greedy_disjoint_picks`
    batches (no pair shares a symbol with another pair's symbols or
    fusions; a later pair's own fusion MAY equal an earlier symbol):
    1. Matches of different pairs never overlap or touch in the INPUT
       array: position i matching (a,b) and i+1 matching (l,r) forces
       b == l — a shared symbol, blocked. So the even-offset greedy
       rule applies to the OR of the matches exactly as it does per
       pair, and each pair fuses exactly its own input-array matches.
    2. An earlier pair's application cannot create or destroy a later
       pair's matches (its fusion is adjacent to neighbors, never equal
       to a later symbol — that direction is blocked).
    Hence one combined pass ≡ sequential application IN PICK ORDER
    (r12 ADVICE narrowing: NOT arbitrary order — a later pick's fusion
    can create fresh occurrences of an earlier pair, e.g. ("a","b")
    fusing to "ab" ahead of a "c" after ("ab","c") was already applied;
    both this pass and pick-order sequential leave them unfused, while
    reverse-order sequential would fuse them). Fuzz-pinned against the
    pick-order sequential chain in tests/test_bpe_train.py, with the
    fusion-collision witness pinned explicitly.
    """
    if not pairs:
        return syms
    lits = [(F.lit(l), F.lit(r)) for l, r in pairs]

    def match_any(i: Column) -> Column:
        m = _bpe_match(syms, lits[0][0], lits[0][1], i)
        for l, r in lits[1:]:
            m = m | _bpe_match(syms, l, r, i)
        return m

    def start(i: Column) -> Column:
        prior_nonmatch = F.aggregate(
            F.filter(
                F.sequence(F.lit(1), F.greatest(i - 1, F.lit(1))),
                lambda j: (j <= i - 1) & ~match_any(j),
            ),
            F.lit(0),
            lambda a, j: F.greatest(a, j),
        )
        return match_any(i) & (((i - 1 - prior_nonmatch) % 2) == 0)

    return F.when(F.size(syms) < 2, syms).otherwise(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(syms)),
                lambda i: F.when(
                    start(i),
                    F.array(
                        F.concat(
                            F.try_element_at(syms, i),
                            F.try_element_at(syms, i + F.lit(1)),
                        )
                    ),
                )
                .when(
                    (i >= 2) & start(i - 1),
                    F.array().cast("array<string>"),
                )
                .otherwise(F.array(F.try_element_at(syms, i))),
            )
        )
    )


def _bpe_top_pairs(vocab: DataFrame, k: int) -> list[tuple[str, str, int]]:
    """Rank-ordered top-k adjacent pairs (count desc, pair lexicographic
    — a unique total order, deterministic at any k) in ONE job."""
    rows = (
        vocab.filter(F.size("syms") >= 2)
        .select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.try_element_at("syms", i).alias("l"),
                        F.try_element_at("syms", i + F.lit(1)).alias("r"),
                    ),
                )
            ).alias("_p"),
        )
        .groupBy(F.col("_p.l").alias("l"), F.col("_p.r").alias("r"))
        .agg(F.sum("cnt").cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
        .limit(k)
        .collect()
    )
    return [(row["l"], row["r"], int(row["c"])) for row in rows]


def greedy_disjoint_picks(
    cands: list[tuple[str, str, int]], batch: int
) -> list[tuple[str, str, int]]:
    """Greedy batch selection over rank-ordered candidates: keep a pair
    iff neither of its symbols appears among the already-kept pairs'
    symbols OR fusions (l+r).

    Contract (narrowed, r12 ADVICE): the rule does NOT block a later
    pick whose own FUSION equals an earlier keep's symbol (e.g.
    [("ab","c"), ("a","b")] is a legal batch). Kept batches therefore
    guarantee one-pass combined application ≡ sequential application IN
    PICK ORDER — the order pinned everywhere (trainer, oracle,
    tokenizer) — not in arbitrary order: a later pick's fusion can
    create NEW occurrences of an earlier pair, which pick-order
    semantics deliberately leave unfused (see
    `bpe_apply_merges_disjoint`; regression-pinned in
    tests/test_bpe_train.py). Every reported pair_count stays the exact
    pre-batch corpus count: earlier picks cannot create or destroy a
    later pick's occurrences (a fusion is adjacent to its neighbors,
    never equal to a later pick's symbol — that direction IS blocked)."""
    picks: list[tuple[str, str, int]] = []
    blocked: set[str] = set()
    for l, r, c in cands:
        if l in blocked or r in blocked:
            continue
        picks.append((l, r, c))
        blocked.update((l, r, l + r))
        if len(picks) == batch:
            break
    return picks


def bpe_train_batched(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 4,
    batch: int = 4,
    vocab: DataFrame | None = None,
    cand_k: int | None = None,
) -> DataFrame:
    """Batched BPE training — the job-count scale fix for `bpe_train`
    (r11 VERDICT #4): the sequential trainer issues one decision job per
    MERGE, so a production 32k-merge vocabulary is 32k driver round-trips
    even though corpus work is one-shot. The standard remedy: per round,
    take the top-`batch` pairwise-DISJOINT pairs from ONE ranked pair
    count and apply them all — decision jobs shrink to
    n_merges / batch (32k merges at batch=256 → 125 rounds).

    Selection is greedy in rank order (count desc, pair lexicographic)
    over the round's top-`cand_k` candidates (default 4·batch — the
    bounded driver collect, ≤256-codebook precedent); see
    `greedy_disjoint_picks` for the disjointness contract that keeps
    every reported pair_count exact. Picks are applied in PICK ORDER —
    the order the contract guarantees (see `greedy_disjoint_picks`:
    batches need not commute under arbitrary order). A round may keep
    fewer than `batch` pairs when the candidate window is exhausted;
    training stops when no pair remains. The trajectory differs from
    sequential BPE (that is inherent to batching) but is itself exact
    and engine-replayable: the oracle unrolls each round as one ranked
    candidate CTE + `batch` greedy pick levels + `batch` merge
    applications.

    Returns (rnd, pick, left_sym, right_sym, pair_count) — the trained
    merge table in application order, consumable by bpe_tokenize /
    tokenizer_fertility / apply_merges_to_vocab as [(l, r), ...].
    """
    if rounds < 1:
        raise ValueError("bpe_train_batched: rounds must be >= 1")
    if batch < 1:
        raise ValueError("bpe_train_batched: batch must be >= 1")
    k = cand_k if cand_k is not None else 4 * batch
    spark = (vocab if vocab is not None else df).sparkSession
    v = vocab if vocab is not None else _bpe_vocab(df, text_col)
    out: list[tuple[int, int, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        picks = greedy_disjoint_picks(_bpe_top_pairs(v, k), batch)
        if not picks:
            break
        for j, (l, r, c) in enumerate(picks, 1):
            out.append((rnd, j, l, r, c))
        if rnd < rounds:
            # disjointness ⇒ the whole batch applies in ONE projection
            # pass (bpe_apply_merges_disjoint) — at batch=256 this is
            # the difference between 1 and 256 passes per round
            v = v.select(
                bpe_apply_merges_disjoint(
                    F.col("syms"), [(l, r) for l, r, _c in picks]
                ).alias("syms"),
                "cnt",
            ).transform(_checkpoint, eager=False)
    return local_frame(
        spark,
        out,
        "rnd int, pick int, left_sym string, right_sym string, pair_count long",
    )


def _bpe_loop(vocab: DataFrame, rounds: int, apply_last: bool):
    """Shared training loop over a prebuilt vocabulary: yields (rnd, l, r,
    pair_count, vocab-AFTER-the-round's-merge-if-applied). bpe_train
    consumes the decisions; bpe_compression also consumes the merged
    vocab frames."""
    for rnd in range(1, rounds + 1):
        top = _bpe_top_pair(vocab)
        if top is None:
            break
        l, r, c = top
        if rnd < rounds or apply_last:
            vocab = vocab.select(
                bpe_apply_merge(F.col("syms"), l, r).alias("syms"), "cnt"
            ).transform(_checkpoint, eager=False)
        yield rnd, l, r, c, vocab


def bpe_compression(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
    vocab: DataFrame | None = None,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Tokenizer EVALUATION — the corpus compression each learned BPE merge
    buys: total symbol count (Σ cnt·|syms| over the vocabulary) after 0, 1,
    ..., `rounds` merges. THE release metric of a tokenizer build (tokens
    per corpus = cost per training epoch); saved_vs_chars pins each stage's
    win over the character baseline. Same shared loop as bpe_train — the
    corpus is touched once, each stage adds one vocabulary-sized
    aggregation. With a prebuilt `merges` table (the persisted
    `_ensure_bpe_merges` artifact) the evaluation consumes the trained
    tokenizer instead of re-deriving it — each stage is then one map-only
    merge application plus its total, with no top-pair decisions
    (bit-identical: the loop applies exactly these merges — pinned in
    tests/test_bpe_train.py). Returns (stage, total_syms,
    saved_vs_chars), stage 0 = character baseline.
    """
    if rounds < 1:
        raise ValueError("bpe_compression: rounds must be >= 1")
    spark = (vocab if vocab is not None else df).sparkSession

    def _total(v: DataFrame) -> int:
        row = v.agg(
            F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("t")
        ).collect()[0]
        return int(row["t"] or 0)

    v0 = vocab if vocab is not None else _bpe_vocab(df, text_col)
    base = _total(v0)
    stages = [(0, base, 0)]
    if merges is not None:
        cur = v0
        for rnd, (left, right) in enumerate(merges[:rounds], 1):
            cur = apply_merges_to_vocab(cur, [(left, right)])
            t = _total(cur)
            stages.append((rnd, t, base - t))
    else:
        for rnd, _l, _r, _c, vf in _bpe_loop(v0, rounds, apply_last=True):
            t = _total(vf)
            stages.append((rnd, t, base - t))
    return local_frame(
        spark,
        stages, "stage int, total_syms long, saved_vs_chars long"
    )


def _merge_applier(left: str, right: str):
    """Closure factory for applying one merge inside a HOF lambda —
    PySpark derives the lambda-variable count from the Python arity, so
    default-arg capture (`lambda s, l=l:`) would silently bind the merge
    pair to the array index (same hazard as minhash_signature's _perm)."""
    def _apply(s: Column) -> Column:
        return bpe_apply_merge(s, left, right)

    return _apply


def _train_merges(
    df: DataFrame,
    text_col: str,
    rounds: int,
    vocab: DataFrame | None = None,
):
    """Run the shared BPE training loop and return (merge list, final
    merged vocabulary frame). One corpus-sized word-frequency shuffle —
    or zero, when a prebuilt `vocab` (syms, cnt) frame is supplied (the
    persisted `_ensure_bpe_vocab` cache: integer counts and string
    arrays roundtrip parquet exactly, so the trajectory is bit-identical
    to the inline build — pinned in tests/test_bpe_train.py)."""
    merges: list[tuple[str, str]] = []
    v0 = vocab if vocab is not None else _bpe_vocab(df, text_col)
    final_vocab = v0
    for _rnd, left, right, _c, vf in _bpe_loop(v0, rounds, apply_last=True):
        merges.append((left, right))
        final_vocab = vf
    return merges, final_vocab


def apply_merges_to_vocab(
    vocab: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply an already-learned merge list to a (syms, cnt) vocabulary
    frame without training round-trips: one projection per merge, each
    behind a LAZY localCheckpoint. A nondeterministic-column barrier is
    NOT enough here — the tail consumer (codebook explode) never
    references the barrier column, so column pruning deletes it and
    CollapseProject then nests the merge expressions (measured 3 s →
    50 s on the tokenize query); the checkpoint is a hard barrier and
    the frame is vocabulary-sized. Equals the vocabulary `_bpe_loop`
    produces after the same merges (pinned in tests/test_bpe_train.py)."""
    cur = vocab
    for left, right in merges:
        cur = cur.select(
            bpe_apply_merge(F.col("syms"), left, right).alias("syms"),
            "cnt",
        ).transform(_checkpoint, eager=False)
    return cur


def _staged_word_syms(
    df: DataFrame,
    keep_cols: list[str],
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Map-only tokenization chain shared by `bpe_tokenize` and
    `tokenizer_fertility`: split the normalized text into words, each
    word into characters, then apply each learned merge as ONE
    projection per round. Unlike `apply_merges_to_vocab` (where the
    merged column is referenced ~8× inside the next round's position
    probes, so CollapseProject nesting multiplies the expression — the
    measured 3 s → 50 s blowup), each round here consumes `_wsyms`
    EXACTLY ONCE (`transform(_wsyms, merge)`), so even a fully collapsed
    chain stays linear (measured equal wall time staged vs collapsed at
    sf0.1), and Catalyst's CollapseProject duplication guard keeps
    multi-reference tails (tokenizer_fertility reads `_wsyms` three
    times) from inlining the chain per consumer. The
    `monotonically_increasing_id` barrier is defense in depth only —
    tests/test_bpe_train.py pins the no-multiplicative-inlining
    invariant on the optimized plan, so a Spark version that changes
    either behavior fails loudly. Returns keep_cols + `_wsyms` (array of
    per-word symbol arrays). Zero shuffles."""
    ws = F.filter(
        F.split(normalized_text(text_col), " "), lambda w: F.length(w) >= 1
    )
    cur = df.select(
        *keep_cols,
        F.transform(ws, lambda w: F.split(w, "")).alias("_wsyms"),
        F.monotonically_increasing_id().alias("_pb"),
    )
    for left, right in merges:
        cur = cur.select(
            *keep_cols,
            F.transform("_wsyms", _merge_applier(left, right)).alias("_wsyms"),
            F.monotonically_increasing_id().alias("_pb"),
        )
    return cur


def bpe_tokenize(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rounds: int = 3,
    vocab: DataFrame | None = None,
    merges: list[tuple[str, str]] | None = None,
    codebook: list[tuple[str, int]] | None = None,
    oov: str = "error",
) -> DataFrame:
    """The tokenizer family's LAST MILE — the per-document token-id
    emission a training pipeline actually writes: train `rounds` BPE
    merges (`bpe_train`'s loop, one corpus-wide word-frequency shuffle),
    then apply the learned merge table to every document MAP-ONLY and
    emit (id, n_tokens, token_ids). `bpe_train` learns the artifact and
    `bpe_compression` scores its totals; this materializes the tokenized
    corpus itself.

    Token ids are assigned from the FINAL symbol vocabulary by corpus
    frequency (count desc, symbol asc — a unique total order, so the id
    table is deterministic and engine-replayable), computed from the
    already-merged training vocabulary — no extra corpus scan. The id
    codebook is driver-collected but BOUNDED: |distinct characters| +
    `rounds` entries (each merge adds exactly one symbol) — the ≤256-entry
    codebook precedent, not a data-sized collect. A symbol outside the
    codebook (tokenizing a corpus the table wasn't trained on) is governed
    by `oov`: "error" (default) raises SCAN-SIDE naming the symbol (the
    conf_bin_aggs raise_error pattern — a persisted codebook applied to a
    corpus it wasn't trained on fails loudly, never a silent wrong id);
    "skip" DROPS unmapped symbols from BOTH n_tokens and token_ids (the
    two stay consistent — n_tokens is always the count of ids actually
    emitted in token_ids, never a larger phantom count).

    When a longer persisted `merges` table is supplied, only the first
    `rounds` entries are applied — the same merges[:rounds] truncation
    contract as bpe_compression, so stage counts agree across the family
    for any (merges, rounds) combination.

    100 TB shape: corpus-sized work is ONE word-frequency aggregation
    (training, shared with bpe_train) plus ONE map-only projection chain
    for the emission — the tokenize pass itself never shuffles: words
    split scan-side, each merge round is one single-reference projection
    (linear even if CollapseProject merges them — see _staged_word_syms;
    the plan shape is pinned in tests/test_bpe_train.py), and the id
    lookup is a broadcast-free map literal. Output rows = input rows,
    pipelined end to end.

    token_ids is emitted as a '-'-joined string rather than array<int>
    (exact, order-preserving, hash-comparable across engines).

    Returns (id_col, n_tokens, token_ids).
    """
    if rounds < 1:
        raise ValueError("bpe_tokenize: rounds must be >= 1")
    if oov not in ("error", "skip"):
        raise ValueError("bpe_tokenize: oov must be 'error' or 'skip'")
    if merges is not None:
        merges = list(merges)[:rounds]
    if merges is not None and codebook is None:
        # trained merges supplied without ids: recover the codebook's
        # final vocabulary map-only by replaying the merges over the
        # (persisted) word vocabulary; no training round-trips.
        if vocab is None:
            vocab = _bpe_vocab(df, text_col)
        final_vocab = apply_merges_to_vocab(vocab, merges)
    elif merges is None:
        merges, final_vocab = _train_merges(df, text_col, rounds, vocab=vocab)
    if codebook is None:
        sym_freq = (
            final_vocab.select(F.explode("syms").alias("sym"), "cnt")
            .groupBy("sym")
            .agg(F.sum("cnt").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("sym"))
            .collect()
        )
        codebook = [(row["sym"], rank) for rank, row in enumerate(sym_freq, 1)]
    id_entries = []
    for sym, rank in codebook:
        id_entries.append(F.lit(sym))
        id_entries.append(F.lit(int(rank)))
    id_map = F.create_map(*id_entries) if id_entries else F.create_map()

    def _lookup(t: Column) -> Column:
        mapped = F.element_at(id_map, t)
        if oov == "skip":
            return mapped
        return F.when(
            mapped.isNull(),
            F.raise_error(
                F.concat(
                    F.lit("bpe_tokenize: symbol not in codebook: "), t
                )
            ).cast("int"),
        ).otherwise(mapped)

    cur = _staged_word_syms(df, [id_col], text_col, merges)
    with_ids = cur.select(
        id_col,
        F.filter(
            F.transform(F.flatten("_wsyms"), _lookup),
            lambda x: x.isNotNull(),
        ).alias("_tids"),
        F.monotonically_increasing_id().alias("_pb"),
    )
    return with_ids.select(
        id_col,
        F.size("_tids").cast("long").alias("n_tokens"),
        F.concat_ws(
            "-", F.transform("_tids", lambda x: x.cast("string"))
        ).alias("token_ids"),
    )


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    rounds: int = 3,
    vocab: DataFrame | None = None,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """THE tokenizer-quality report a vocabulary build is judged on:
    per-group FERTILITY (tokens per word) and chars-per-token under the
    learned merge table. A source whose fertility is an outlier is
    under-served by the vocabulary (its text fragments into many tokens
    — the multilingual-tokenizer failure mode); chars-per-token is the
    compression the corpus actually realizes, per slice. The per-group
    companion to `bpe_compression`'s corpus totals and `vocab_coverage`'s
    OOV view.

    Same scale shape as `bpe_tokenize` minus the id codebook: training
    is one corpus word-frequency shuffle; per-doc word/char/token counts
    are MAP-ONLY array arithmetic over the staged merge chain; one final
    ≤ n_groups-key aggregate. Ratios are exact integer floor divisions
    (e6), NULL when the denominator is 0 (a group with no words has no
    fertility, not fertility 0).

    Returns (group_col, n_words, n_chars, n_tokens, fertility_e6,
    chars_per_token_e6), one row per group.
    """
    if rounds < 1:
        raise ValueError("tokenizer_fertility: rounds must be >= 1")
    if merges is None:
        merges, _ = _train_merges(df, text_col, rounds, vocab=vocab)
    else:
        # merges[:rounds] — the bpe_compression truncation contract, so a
        # longer persisted merge table with a smaller `rounds` produces
        # the same stage count as the rest of the family.
        merges = list(merges)[:rounds]
    staged = _staged_word_syms(df, [group_col], text_col, merges)
    per_doc = staged.select(
        group_col,
        F.size("_wsyms").cast("long").alias("_nw"),
        F.aggregate(
            "_wsyms",
            F.lit(0).cast("long"),
            lambda acc, syms: acc
            + F.aggregate(
                syms, F.lit(0).cast("long"), lambda a, s: a + F.length(s)
            ),
        ).alias("_nc"),
        F.aggregate(
            "_wsyms",
            F.lit(0).cast("long"),
            lambda acc, syms: acc + F.size(syms),
        ).alias("_nt"),
    )
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.sum("_nw").cast("long").alias("n_words"),
            F.sum("_nc").cast("long").alias("n_chars"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
        .select(
            group_col,
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr(
                "CASE WHEN n_words > 0 THEN"
                " CAST((1000000 * n_tokens) div n_words AS BIGINT) END"
            ).alias("fertility_e6"),
            F.expr(
                "CASE WHEN n_tokens > 0 THEN"
                " CAST((1000000 * n_chars) div n_tokens AS BIGINT) END"
            ).alias("chars_per_token_e6"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Tokenizer-coverage audit: build the corpus-frequency top-`vocab_size`
    vocabulary (count desc, word asc — a unique total order, so the vocab
    is deterministic and engine-replayable), then report each group's
    token volume and out-of-vocabulary rate at that V. The standard
    pre-tokenizer check before committing a vocabulary to a training run:
    a source whose OOV rate is an outlier either needs vocab budget or is
    the wrong kind of text.

    Scale shape: one explode scan into a word-keyed count (map-side
    combine — the shuffle carries distinct words, not tokens); the top-V
    cut uses `relational.global_rank`'s range exchange over DISTINCT
    words (never a single-partition window); the vocabulary (≤ V rows)
    broadcasts back onto the token stream, so the membership test is
    map-side; one final ≤ n_groups-key agg. No stage ever shuffles raw
    token rows by anything but the word key.

    Returns (group_col, n_tokens, n_oov, oov_rate_e6) with
    oov_rate_e6 = floor(1e6 · n_oov / n_tokens) — exact integer floor
    division, identical in any engine.
    """
    from commerce_data_pipeline_spark.operators.relational import global_rank

    if vocab_size < 1:
        raise ValueError("vocab_coverage: vocab_size must be >= 1")
    tok = df.select(F.col(group_col), F.explode(words(text_col)).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ranked = global_rank(counts, [F.desc("n"), F.asc("w")], rank_col="_rn")
    vocab = ranked.filter(F.col("_rn") <= vocab_size).select(
        "w", F.lit(1).alias("_in_vocab")
    )
    flagged = tok.join(F.broadcast(vocab), "w", "left")
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            group_col,
            "n_tokens",
            "n_oov",
            F.expr("CAST((1000000 * n_oov) div n_tokens AS BIGINT)").alias(
                "oov_rate_e6"
            ),
        )
    )
