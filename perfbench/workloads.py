"""The benchmark's workloads: which ops each runs, the build-once frames
they read, and how a registry op's output is checked against its oracle.
The bronze and ledger steps, which write, are in bronze.py.
"""

from __future__ import annotations

import random
from collections.abc import Callable

from commerce_data_pipeline_spark.queries import REGISTRY, dedup_text

from tools.oracle_check import frame_hash

import bronze

# Ops per workload: bronze.py steps, then registry ops, every one of which
# has a DuckDB oracle. Each list is a cut of its family: enough ops that one
# op's run-to-run variation does not set the pass time, few enough that a
# run (session start, one cold checking pass, timed passes) fits the
# benchmark's time budget.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # JVM-only work. The bronze and ledger steps write through the sources
    # layer (bronze, hadoopfs, ledger), which does its work here and nowhere
    # else; the GA4 gold and TPC-H-shaped ops scan, join, aggregate and
    # window, plus one global sketch aggregate. No Python workers and, but
    # for rfm_segments, no job before an op's final action: Catalyst,
    # codegen, shuffle and storage-layout changes show here.
    "olap_ingest": (
        *(s.name for s in bronze.STEPS),
        "funnel", "sessionization", "journey_transitions", "pricing_summary",
        "market_share", "rfm_segments", "sketch_accuracy",
    ),
    # Per-row text expressions (higher-order functions), exact, MinHash,
    # SimHash and LSH dedup, and Python-worker similarity:
    # text-expression and worker changes show here. (ann_pq is left out: on
    # some generated inputs its output differs from its oracle.)
    "llm_corpus": (
        "text_repetition", "minhash_signature", "simhash_md5", "lsh_dedup_pairs",
        "dedup_exact", "similarity_topk",
    ),
}
# The input tables each workload stores data from (bronze and ledger roots,
# `.cache` frames): the denominator of stored_bytes_per_input_byte.
STORED_FROM: dict[str, tuple[str, ...]] = {
    "olap_ingest": ("events", "documents"),
    "llm_corpus": ("documents",),
}

# Build-once `.cache` frames each workload's ops read, built during set-up.
CACHE_FRAMES: dict[str, tuple[Callable, ...]] = {
    "llm_corpus": (dedup_text._ensure_lsh_pairs,),
}


def pass_order(workload: str, seed: int, n_pass: int) -> list[str]:
    """The seeded op order of one timed pass: the bronze.py steps, which
    depend on each other, in their order, then the registry ops shuffled."""
    steps = [n for n in WORKLOADS[workload] if n in bronze.STEP]
    ops = [n for n in WORKLOADS[workload] if n not in bronze.STEP]
    return steps + random.Random(seed * 7919 + n_pass).sample(ops, len(ops))


def oracle_digest(con, name: str) -> tuple[int, list[str], str]:
    """Row count, columns and order-insensitive value hash of an op's DuckDB oracle."""
    rel = con.sql(REGISTRY[name].oracle)
    cols, rows = rel.columns, rel.fetchall()
    return len(rows), cols, frame_hash(cols, rows)


def check(con, name: str, cols: list[str], rows: list[tuple]) -> str | None:
    """Why the op's collected output differs from its oracle, or None."""
    n, ocols, digest = oracle_digest(con, name)
    if len(rows) != n:
        return f"rows {len(rows)} vs oracle {n}"
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    if frame_hash(cols, rows) != digest:
        return "value hash differs from oracle"
    return None
