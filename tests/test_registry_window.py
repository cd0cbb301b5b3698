"""Pin the registry-ordering contract.

The driver's correctness harness oracle-checks only the FIRST 50 ``queries()``
entries in insertion order (observed: CORRECTNESS_r01/r02.json keys are exactly
the first 50 registry keys).  Round 2 accidentally pushed every LLM-pipeline
proving query past the window; this test makes that a hard failure instead of a
silent coverage loss.
"""

from commerce_data_pipeline_spark.queries import REGISTRY, oracle_sql, queries

CHECK_WINDOW = 50

# One proving query per operator family that MUST sit inside the checked window.
#
# r9 reset (VERDICT r8 directive #5): r8 closed the attested-ever gap, so
# the r9 window's job is FRESHNESS — rotate the stalest attestations
# (r2-r4-latest) back under the driver's oracle. The pin set shrinks to
# one proof per family, chosen FROM the stale rotate-ins wherever a
# family has one (those pins are both the family floor and the freshness
# payload); only the six families with no stale representative keep an
# r8-attested pin. The r8 pin-set's full rationale history lives in git
# (this file @ 8c40dcb).
# r12 reset (VERDICT r11 directive #3): the window is the ROTATION
# PAYLOAD — all 43 r8-latest + both r7-latest attestations — so pins are
# chosen FROM the rotate-ins wherever the family has one. Families whose
# every member is already fresh (attested ≥ r9: X8 bloom, X10 corpus,
# bronze P5/P6, core-G funnel/sessionization, core-streaming daily
# counts) cede their per-round pin slot to the payload this round —
# the pin exists to keep a family's freshness above the bar, and those
# families are above it without a slot. Prior pin-set rationale history
# lives in git.
# r16 reset (VERDICT r15 #1/#5): the window is the rotation payload —
# ann_pq + bigram_lm LEADING (the two named r11-tier overflows, due
# after two held rounds) + the never-attested ann_veto_rollback
# (registered this round) + 45 of the 48 r12-latest attestations
# (bpe_first_merge, kmeans_step and part_walks are the named overflows
# to r17 — 53 candidates for 50 slots) + the 2 single-query families —
# so pins are chosen FROM those rotate-ins wherever a family has one.
# Families whose every member is fresh (attested ≥ r13 after the green
# r15 run: the r13-r15 tiers — exact/MinHash dedup, multimodal md
# twins, heavy hitters, bloom, X9 resample, X10 corpus shaping,
# attribution/cohorts/funnel, streaming twins, SCD2, drift audits,
# seed expansion) cede their pin slot to the payload, per the standing
# precedent. Prior pin-set rationale history lives in git.
FAMILY_PROOFS = {
    # X3 ANN: the named PQ/ADC overflow lead + the NEW veto-rollback
    # lifecycle row + the LSM upsert lifecycle + inlined-plane LSH
    "ann_pq",
    "ann_veto_rollback",
    "ann_ivf_upsert",
    "ann_lsh",
    # X4 text/LM: the named bigram-LM overflow lead + its held-out twin
    # + BPE train (sequential & batched bit-parity) + lang-ID agreement
    # + n-gram novelty
    "bigram_lm",
    "heldout_perplexity",
    "bpe_train",
    "bpe_train_batched",
    "bpe_compression",
    "lang_id_agreement",
    "ngram_novelty",
    # X2 near-dup/linkage: canonical doc election + cluster-size audit +
    # multi-pass blocking + Jaccard over part names + LSH cost planner
    "canonical_docs",
    "dup_cluster_histogram",
    "multi_pass_name_pairs",
    "similar_parts_jaccard",
    "lsh_cost_plan",
    # X5 multimodal: connected near-dup image clusters
    "image_dup_clusters",
    # X6 sketches: reservoir/HLL accuracy + grouped approximates
    "approx_stats",
    "approx_group_stats",
    # X11 selection/eval: fasttext-style classifier + ranked-retrieval
    # NDCG + embedding outlier audit
    "quality_classifier",
    "ndcg_eval",
    "embedding_outliers",
    # X10 corpus: split-leakage contract
    "split_leakage",
    # X12 graph: LPA communities + components + k-core + triangles
    "part_communities",
    "part_components",
    "part_kcore",
    "part_triangles",
    # iterative ML: Lloyd training replay + power-iteration PCA
    "kmeans_train",
    "pca_power",
    # X13 audits: FD + k-anonymity + Benford + correlation matrix +
    # eight-way FK audit + categorical drift + snapshot diff
    "fd_check",
    "k_anonymity",
    "benford_prices",
    "numeric_corr",
    "referential_integrity",
    "event_type_drift",
    "snapshot_diff",
    # G analytics: strict-order funnel + position attribution +
    # state-machine violations + burst windows
    "session_funnel",
    "attribution_position",
    "sequence_violations",
    "burst_window_events",
    # R relational window/agg shapes: histogram + NTILE + bands +
    # winsorized + EXISTS/NOT-EXISTS + sliding windows + market-basket
    "price_histogram",
    "quantile_groups",
    "revenue_bands",
    "winsorized_revenue",
    "waiting_suppliers",
    "sliding_counts",
    "association_rules",
    "also_bought",
    # skew mitigation (single-query family — must always sit in-window)
    "salted_hot_join",
    # §4 layout (single-query family — must always sit in-window)
    "zorder_skipping",
}

def test_every_family_proof_inside_check_window():
    window = set(list(REGISTRY)[:CHECK_WINDOW])
    missing = sorted(FAMILY_PROOFS - window)
    assert not missing, (
        f"proving queries outside the driver's {CHECK_WINDOW}-entry window: {missing}"
    )


def test_every_window_entry_has_an_oracle():
    """Round-4 tightening: no window slot may be spent on a rows-only check.

    Rows-only fast-path twins (simhash, ann_lsh, pHash family, approx
    sketches) live past position 50; their evidence is the in-window
    oracle-checked md5 twin plus pytest accuracy pins.
    """
    window = list(REGISTRY)[:CHECK_WINDOW]
    no_oracle = [k for k in window if REGISTRY[k].oracle is None]
    assert not no_oracle, f"window entries without oracle SQL: {no_oracle}"


def test_registry_and_entrypoints_agree():
    assert list(queries()) == list(REGISTRY)
    # every oracle key is a registry key
    assert set(oracle_sql()) <= set(REGISTRY)


def test_registry_snapshot_unchanged():
    """Every entry's name, implementation, oracle SQL and doc, in registry
    order, hash to a pinned digest (201 entries, 197 with an oracle), so
    any change to `queries()` or `oracle_sql()` must update it on purpose."""
    import hashlib
    import json

    rows = [
        [n, s.spark.__module__, s.spark.__qualname__, s.oracle, s.doc]
        for n, s in REGISTRY.items()
    ]
    digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    assert digest == "24fe9cf1469749b594a8077d1869261814f2c02f0aa037f985ed601daa3c8ec0"


def test_rebind_load_table_reaches_every_consumer_module():
    """r10 ADVICE (medium): the stress harness scales tables by rebinding
    each query module's `load_table`; a queries submodule that calls
    load_table but is missing from _QUERY_MODULES would silently read
    UNSCALED tables at k× stress (the r6 stale-scale bug class —
    _shared._ensure_copurchase_pairs was the reintroduced instance).
    Mechanically pin: every queries.* module whose source references
    load_table is in the rebind tuple."""
    import inspect

    import commerce_data_pipeline_spark.queries as Q

    rebindable = set(Q._QUERY_MODULES)
    for mod in list(Q._QUERY_MODULES) + [Q._shared]:
        assert hasattr(mod, "load_table"), mod.__name__
    import pkgutil

    pkg = Q
    missing = []
    for info in pkgutil.iter_modules(pkg.__path__):
        mod = __import__(
            f"commerce_data_pipeline_spark.queries.{info.name}",
            fromlist=["_"],
        )
        src = inspect.getsource(mod)
        if "load_table(" in src and mod not in rebindable:
            missing.append(info.name)
    assert not missing, (
        f"queries modules calling load_table but absent from _QUERY_MODULES: {missing}"
    )

    sentinel = object()
    orig = Q.load_table
    Q.rebind_load_table(sentinel)
    try:
        assert Q._shared.load_table is sentinel
    finally:
        Q.rebind_load_table(orig)


def test_no_non_terminal_query_stranded_without_attestation():
    """VERDICT r7 directive #7: the cumulative-attestation ledger
    (tools/attestation_ledger.py over the CORRECTNESS_r*.json union)
    must show zero non-terminal queries that (a) have never been
    driver-attested AND (b) sit outside the current 50-entry window —
    i.e. every registry query is either attested-ever, declared
    terminal, or will be attested by this round's driver run."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "attestation_ledger",
        os.path.join(os.path.dirname(__file__), "..", "tools", "attestation_ledger.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    s = mod.summary()
    assert not s["uncovered"], (
        "never-attested non-terminal queries stranded outside the window: "
        f"{s['uncovered']}"
    )
