"""Scale-stress harness: run headline queries at 1× and K× the sf0.1 data
and report wall-time scaling factors → STRESS.md.

    python tools/stress.py [K] [sf_dir] [query ...]

With no query list it sweeps STRESS_QUERIES plus the ledger row and
rewrites STRESS.md's table; with a query list it sweeps only those
registry queries and prints their table to stdout.

The K× tables are built by unioning K key-shifted copies of the base
tables (keys offset per copy so join fan-in and group cardinality grow
realistically; fixed dims stay fixed, as they would at 100 TB). A query
whose time grows ≈K× is scaling linearly in input size — the property that
predicts survival at 100 TB. Ratios well above K flag a scaling cliff
(quadratic pair growth, driver bottleneck, broadcast overflow).

Each cell is the min-of-`measure.REPS` of `measure.time_reps`: build the
query and materialize every column of its result with a noop write, with
persisted blocks dropped between runs, outside the timed span.

This harness rebinds the registry's table loader — queries themselves are
unmodified, exactly the code under test.
"""

from __future__ import annotations

import functools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from commerce_data_pipeline_spark import queries as Q
from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.measure import REPS, time_reps, warm_up
from commerce_data_pipeline_spark.session import get_spark

# keys shifted per copy so the scaled table has K× distinct entities
SHIFT_COLS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "part": ["p_partkey"],
}

# linear-scaling candidates: keyed shuffles/windows/aggs (quadratic pair
# generators like jaccard_topk are excluded by design — their cost model
# is documented in their docstrings). The last three are round-1's "weak
# trio" — included after their fixes to prove the fixed plans scale, not
# just that they got faster at 1×.
STRESS_QUERIES = [
    "pricing_summary",
    "top_revenue_nations",
    "top_customers",
    "shipping_priority",
    "funnel",
    "sessionization",
    "conversion_daily",
    "journey_transitions",
    "word_count",
    "dedup_exact",
    "text_profile",
    "minhash_signature",
    "lsh_dedup_pairs",
    "dedup_clusters",
    "ann_ivf",
    # round 2: alternating CC (must scale like dedup_clusters or better),
    # relational widening, and the corpus-shaping block
    "dedup_clusters_alt",
    "market_share",
    "product_profit",
    "returned_items",
    "stratified_sample",
    "contamination",
    "chunk_pack",
    "greedy_pack",
    "corpus_ingest",
    "fixed_size_sample",
    "semantic_only_dups",
    "daily_anomalies",
    "basket_pairs",
    "image_phash",
    "image_near_dup",
    # round 3: corpus-LM scoring, winnowing, PQ/recall ANN, budget selection
    "lm_quality",
    "winnow",
    "winnow_pairs",
    "ann_pq",
    "ann_recall",
    "token_budget",
    "overlap_chunks",
    "cluster_sample",
    # round 4: oracle-checked binarized-DCT pHash twins + digest-byte
    # feature twin + epoch shuffle
    "image_phash_md5",
    "image_near_dup_md5",
    "media_features_md5",
    "epoch_shuffle",
    # round 5: repeated-span dedup, MG heavy hitters, canonicalize-first
    # fuzzy matching (all linear by design — spans have no pair stage,
    # HH shuffles candidates only, fuzzy compares distinct names only)
    "dup_ngram_spans",
    "heavy_hitters",
    "fuzzy_name_pairs",
    # round 5b: scan-side bloom membership (must stay flat — zero corpus
    # shuffle), BM25 (thin post-filter shuffles), dense-grid resample
    # (grid size is span-bound, not event-bound), temperature mixing
    # (map-side filter)
    "bloom_decontaminate",
    "bm25_search",
    "resample_ffill",
    "temperature_mix",
    "scd2_intervals",
    # round 5c: selection family (classifier is map-side + thin per-doc
    # shuffle; DSIR is two linear passes over bigram features with a
    # 256-bucket reduce; tfidf's only corpus shuffle is the (group, term)
    # count with map-side combine)
    "quality_classifier",
    "dsir_select",
    "tfidf_keywords",
    # point-in-time lookup: one key shuffle (as-of merge), linear by design
    "scd2_lookup",
    "mmr_rerank",
    "hybrid_search_rrf",
    "semantic_dedup",
    "part_pagerank",
    "bigram_lm",
    "hard_negatives",
    "table_profile",
    "dup_source_matrix",
    "weighted_sample",
    "quality_calibrate",
    "price_outliers",
    "join_profile",
    "decayed_revenue",
    # round 6: multi-touch attribution (two user-keyed windows), canonical
    # records (join + argmax over the CC chain), privacy/FD audits (one
    # keyed count each), BPE pairs + n-gram novelty (scan-side explode +
    # one keyed count/min), winsorize (two group aggs), sliding windows
    "attribution_position",
    "canonical_docs",
    "image_dup_clusters",
    "k_anonymity",
    "fd_check",
    "bpe_first_merge",
    "ngram_novelty",
    "winsorized_revenue",
    "sliding_counts",
    # round 7: Q21 semi+anti (orderkey-keyed), one-scan audits, integer
    # kmeans step (fixed seed collect), HLL union, k-core peel (3 linear
    # passes), capped wedge jaccard, facts-derived CC (note: the key-shift
    # harness multiplies pair WEIGHTS ×k, so part_components crosses its
    # weight threshold at 8× and measures full-graph CC — a regime shift
    # documented in STRESS.md, not a cliff)
    "waiting_suppliers",
    "benford_prices",
    "numeric_corr",
    "kmeans_step",
    "sketch_union",
    "part_kcore",
    "similar_parts_jaccard",
    "part_components",
    "event_type_drift",
    "kmeans_train",
    "customer_value_deciles",
    "referential_integrity",
    "part_walks",
]


def _salt_copy(name: str, df: DataFrame, i: int) -> DataFrame:
    """Decorrelate CONTENT across copies so the K× corpus has K× the data
    at the SAME dup-rate. Without this, identical text/vectors across
    copies make every doc an 8-way near-dup — pair counts grow K² for
    data reasons and the stress can't tell a scaling cliff in the
    operator from one baked into the synthetic corpus."""
    if i == 0:
        return df
    if name == "documents" and "text" in df.columns:
        # suffix every word: shingle/minhash sets become disjoint across
        # copies while within-copy dup structure is preserved exactly
        return df.withColumn(
            "text", F.regexp_replace(F.col("text"), r"(\S+)", rf"$1x{i}")
        )
    if name == "part" and "p_name" in df.columns:
        # suffix the name per copy: distinct-name space grows K× (the
        # canonicalize-first fuzzy matcher's real scale axis) while the
        # within-copy duplicate structure is preserved; the extra token
        # also makes cross-copy blocks disjoint
        return df.withColumn("p_name", F.concat(F.col("p_name"), F.lit(f" x{i}")))
    if name == "embeddings" and "embedding" in df.columns:
        # circular-shift coordinates: norm and within-copy geometry are
        # invariant; cross-copy cosine drops to noise
        dim = 64
        return df.withColumn(
            "embedding",
            F.concat(
                F.slice(F.col("embedding"), i + 1, dim - i),
                F.slice(F.col("embedding"), 1, i),
            ),
        )
    return df


def scaled_loader(k: int):
    def load(spark, sf_dir, name):
        base = load_table(spark, sf_dir, name)
        cols = SHIFT_COLS.get(name)
        if k == 1 or not cols:
            return base
        copies = []
        for i in range(k):
            df = _salt_copy(name, base, i)
            for c in cols:
                df = df.withColumn(c, F.col(c) + F.lit(i * 100_000_000))
            copies.append(df)
        return functools.reduce(DataFrame.unionAll, copies)

    return load


def _min_s(spark, build, label: str) -> float:
    return min(r.total_s for r in time_reps(spark, build, REPS, label))


def run_at_scale(spark, sf_dir: str, k: int, names: list[str]) -> dict[str, float]:
    """Min-of-REPS wall time per registry query in `names` at k× scale."""
    # queries is now a package (r10 split): rebind load_table inside every
    # query module; the package-level Q.load_table stays the restore point.
    Q.rebind_load_table(scaled_loader(k))
    # persisted-layout caches (_ensure_* helpers) must key on the scale too:
    # without the tag, the k× pass reads the 1× index built earlier and the
    # ratio measures a stale probe, not the operator (r6 bug, fixed here)
    original_tag = Q.get_cache_tag()
    Q.set_cache_tag(f"x{k}" if k != 1 else "")
    try:
        return {
            name: _min_s(spark, functools.partial(Q.REGISTRY[name].spark, spark, sf_dir), name)
            for name in names
        }
    finally:
        Q.rebind_load_table(Q.load_table)
        Q.set_cache_tag(original_tag)


def ledger_match_time(spark, sf_dir: str, k: int) -> float:
    """Witness the BandLedger scale contract end-to-end: ingest a k×
    history (untimed — index build), then time match_history on a FIXED
    1× batch. The contract (one equi-join per run, history never
    re-minhashed, digest-only history scan — sources/ledger.py, pinned
    structurally in tests/test_ledger.py) predicts near-flat wall time in
    history size: only the history fingerprint scan grows, never the
    minhash work. Batch texts equal copy-0 history texts, so match output
    is identical at every k (salted copies share no shingles with it)."""
    import shutil
    import tempfile

    from commerce_data_pipeline_spark.sources.ledger import BandLedger

    docs = load_table(spark, sf_dir, "documents")
    history = scaled_loader(k)(spark, sf_dir, "documents")
    batch = docs.withColumn("doc_id", F.col("doc_id") + F.lit(900_000_000))
    tmp = tempfile.mkdtemp(prefix=f"stress_ledger_{k}x_")
    try:
        led = BandLedger(spark, os.path.join(tmp, "bands"))
        led.ingest(history)
        return _min_s(spark, lambda: led.match_history(batch), "ledger_match_history")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or STRESS_QUERIES
    unknown = [n for n in names if n not in Q.REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark("stress")
    warm_up(spark, sf_dir)

    run_at_scale(spark, sf_dir, 1, names)  # untimed warm pass: codegen + readers
    base = run_at_scale(spark, sf_dir, 1, names)
    big = run_at_scale(spark, sf_dir, k, names)

    lines = [
        "# STRESS — wall-time scaling at K× data",
        "",
        f"`python tools/stress.py {k} {sf_dir}` — each query timed at 1× and {k}×",
        f"the sf0.1 tables (key-shifted union copies; fixed dims stay fixed;",
        "document text / embedding directions are decorrelated per copy so the",
        f"{k}× corpus keeps the base dup-rate — without that, pair counts grow",
        "K² for data reasons and hide/invent operator cliffs).",
        f"Every cell is the MIN of {REPS} warm runs, each building the query and",
        "materializing every column of its result with a noop write (this VM's",
        "single-run noise is 3-4×, enough to manufacture fake cliffs).",
        f"`ratio` ≈ {k} means linear scaling in input size; sub-{k} means fixed",
        "costs still dominate at this size; far above K would flag a cliff.",
        "",
        "| query | 1× sec | {k}× sec | ratio |".replace("{k}", str(k)),
        "|---|---|---|---|",
    ]
    for name in names:
        r = big[name] / base[name] if base[name] > 0 else float("nan")
        lines.append(f"| {name} | {base[name]:.2f} | {big[name]:.2f} | {r:.1f}× |")
    if sys.argv[3:]:
        print("\n".join(lines))
        return
    led_base = ledger_match_time(spark, sf_dir, 1)
    led_big = ledger_match_time(spark, sf_dir, k)
    led_r = led_big / led_base if led_base > 0 else float("nan")
    lines.append(
        f"| ledger_match_history (fixed batch, {k}× HISTORY) "
        f"| {led_base:.2f} | {led_big:.2f} | {led_r:.1f}× |"
    )
    lines.append("")
    lines.append(
        f"The ledger row scales the HISTORY {k}× while the incoming batch is "
        "fixed: its contract (one equi-join, digest-only history scan, no "
        "re-minhash of history — sources/ledger.py) predicts a near-flat "
        f"ratio, NOT ≈{k} like the rows above."
    )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "STRESS.md")
    # preserve hand-written sections (anything from the first "## " heading
    # after the table) across regenerations, like tools/plan_audit.py
    extra = ""
    if os.path.exists(out):
        prev = open(out).read()
        cut = prev.find("\n## ")
        if cut != -1:
            extra = prev[cut:]
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n" + extra)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
