"""Shared registry primitives (split from queries.py, r10): the
QuerySpec record, the exact-decimal sum helper, and the persisted-
layout cache-key root (CACHE_TAG is rebound by tools/stress.py via
queries.set_cache_tag while it scales tables).
"""
from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.operators import graph

# exact, order-independent sum of a double expression: see module docstring
def _dsum(col):
    return F.sum(col.cast("decimal(18,6)")).cast("double")


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver does a rows-only check
    doc: str = ""




# Suffix appended to every persisted-layout cache key. Default "" (plain
# per-sf caches). The stress harness sets this to "x{k}" while it rebinds
# load_table to k×-scaled tables — without it, a scaled run would silently
# read the UNSCALED persisted index built by the 1× pass (caught in r6: the
# first part_pagerank/bm25_indexed 8× rows measured stale 1× indexes).
CACHE_TAG = ""


def _cache_dir(kind: str, sf: str) -> str:
    import os

    leaf = os.path.basename(os.path.normpath(sf)) + (
        f"_{CACHE_TAG}" if CACHE_TAG else ""
    )
    return os.path.normpath(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", ".cache", kind, leaf
        )
    )

def _ensure_bpe_vocab(spark: SparkSession, sf: str):
    """Build-once handle for the documents word-frequency vocabulary
    (text._bpe_vocab: syms array + cnt) at this sf — the ONE corpus-sized
    stage every tokenizer-family query repeats (bpe_train,
    bpe_compression, bpe_tokenize, tokenizer_fertility). String arrays
    and integer counts roundtrip parquet exactly, and every downstream
    decision (top-pair, merges, totals, codebook) is a deterministic
    aggregate of this frame, so the persisted path is bit-identical to
    the inline build (pinned in tests/test_bpe_train.py). At 100 TB the
    corpus is word-counted once, not once per tokenizer query."""
    from commerce_data_pipeline_spark.operators import text as text_ops
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    path = _cache_dir("bpe_vocab", sf)
    fs = HadoopFS(spark, path)
    if not fs.exists(join_path(path, "vocab", "_SUCCESS")):
        docs = load_table(spark, sf, "documents")
        text_ops._bpe_vocab(docs, "text").write.mode("overwrite").parquet(
            join_path(path, "vocab")
        )
    return spark.read.parquet(join_path(path, "vocab"))


def _ensure_bpe_merges(spark: SparkSession, sf: str, rounds: int = 3):
    """Build-once handle for the LEARNED tokenizer artifacts at this sf —
    the merge table (bpe_train's output, trained over the persisted
    `_ensure_bpe_vocab` frame) plus the frequency-ranked symbol codebook
    of the merged vocabulary. Consumers (bpe_tokenize,
    tokenizer_fertility) read these instead of re-running the training
    loop's driver round-trips, exactly as bm25_indexed consumes the
    persisted postings and ann_ivf_indexed the persisted centroids;
    bpe_train itself stays the live training-loop surface. Strings and
    counts roundtrip parquet exactly and both tables are deterministic
    functions of the vocabulary (codebook order: count desc, sym asc —
    unique), so the consumed artifacts are bit-identical to inline
    training (pinned in tests/test_bpe_train.py). With them, the
    tokenize emit is ONE map-only corpus pass — zero non-scan work at
    query time, which is the 100 TB tokenization shape.

    Returns (merges, codebook): [(left, right)] in merge order and
    [(sym, id)] — both O(charset + rounds) driver state."""
    from pyspark.sql import Window as _W

    from commerce_data_pipeline_spark.operators import text as text_ops
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    path = _cache_dir("bpe_merges", sf)
    fs = HadoopFS(spark, path)
    mleaf = join_path(path, f"merges_r{rounds}")
    cleaf = join_path(path, f"codebook_r{rounds}")
    if not (
        fs.exists(join_path(mleaf, "_SUCCESS"))
        and fs.exists(join_path(cleaf, "_SUCCESS"))
    ):
        vocab = _ensure_bpe_vocab(spark, sf)
        text_ops.bpe_train(
            None, rounds=rounds, vocab=vocab
        ).write.mode("overwrite").parquet(mleaf)
        mrows = spark.read.parquet(mleaf).orderBy("rnk").collect()
        final_vocab = text_ops.apply_merges_to_vocab(
            vocab, [(r["left_sym"], r["right_sym"]) for r in mrows]
        )
        (
            final_vocab.select(F.explode("syms").alias("sym"), "cnt")
            .groupBy("sym")
            .agg(F.sum("cnt").cast("long").alias("n"))
            .withColumn(
                "id",
                F.row_number().over(_W.orderBy(F.desc("n"), F.asc("sym"))),
            )
            .select("sym", "id")
            .write.mode("overwrite")
            .parquet(cleaf)
        )
    mrows = spark.read.parquet(mleaf).orderBy("rnk").collect()
    crows = spark.read.parquet(cleaf).orderBy("id").collect()
    return (
        [(r["left_sym"], r["right_sym"]) for r in mrows],
        [(r["sym"], int(r["id"])) for r in crows],
    )


def _ensure_copurchase_pairs(spark: SparkSession, sf: str):
    """Build-once handle for the undirected co-purchase pair aggregate of
    lineitem at this sf (graph.co_occurrence_pairs, max_basket=64,
    unthresholded). The whole X12 family — PageRank, LPA, triangles,
    recommendations — derives its edges from this one persisted frame by
    filter + symmetrize (threshold-on-aggregate ≡ the inline HAVING, so
    results are bit-identical to per-query rebuilds; integer weights
    roundtrip parquet exactly). At 100 TB the fact table is
    pair-expanded once, not once per graph query."""
    from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

    path = _cache_dir("copurchase", sf)
    fs = HadoopFS(spark, path)
    if not fs.exists(join_path(path, "pairs", "_SUCCESS")):
        li = load_table(spark, sf, "lineitem")
        graph.co_occurrence_pairs(li, "l_orderkey", "l_partkey").write.mode(
            "overwrite"
        ).parquet(join_path(path, "pairs"))
    return spark.read.parquet(join_path(path, "pairs"))
