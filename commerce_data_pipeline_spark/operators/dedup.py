"""Deduplication operators for large-scale text corpora (SURVEY.md §2d X1/X2).

Five families, all pure DataFrame ops (no Python UDFs anywhere):

- exact         : normalized md5 fingerprint → keep first per group
- minhash_lsh   : word-shingle MinHash signatures, banded LSH candidate pairs
- ngram_jaccard : exact Jaccard over word n-gram sets via shingle self-join
- simhash       : 64-bit SimHash from xxhash64 word hashes, hamming buckets
- (embedding cosine near-dup lives in similarity.py — same pair machinery)

Hash choice: md5 where a DuckDB oracle must reproduce the value bit-for-bit
(md5 is identical everywhere); xxhash64 where only Spark-side consistency
matters (4-5× cheaper, stays in codegen).

Scale notes (100 TB posture):
- Exact dedup shuffles once on a 16-byte digest, never on the document text.
- MinHash: signatures are computed scan-side (one pass, no shuffle), LSH
  bucket join shuffles only (band_key, doc_id) pairs — bytes per doc, not
  the text. Band keys are md5 digests → uniformly distributed, no skew.
- ngram_jaccard's shingle self-join explodes on ubiquitous shingles; cap
  them with `max_shingle_freq` (drop shingles appearing in more than N docs
  — they carry no discriminative signal, exactly the stop-word argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint

# Normalization shared by all text-keyed dedup: lowercase, collapse runs of
# whitespace, trim. Mirrors what any corpus pipeline does before hashing.
def normalized_text(col: str = "text"):
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def fingerprint(col: str = "text"):
    """Content fingerprint: md5 of normalized text (DuckDB-reproducible)."""
    return F.md5(normalized_text(col))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """X1 — exact dedup keeping the lowest id per normalized-text group.

    min_by shuffles only (digest, id); the full rows are recovered by a
    semi-join on the surviving ids, so wide document rows never shuffle.
    """
    keep = (
        df.select(F.col(id_col), fingerprint(text_col).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def word_ngrams(text_col: str = "text", n: int = 3):
    """Word n-grams of the normalized text in document order, repeats kept,
    as an array column. Documents with fewer than n words, and NULL text,
    yield an empty array.

    Built by folding n−1 `zip_with`s of the word array against its own
    k-shifted slices (gram i accretes w_i..w_{i+n−1} left-to-right), NOT
    by a `transform` whose lambda slices the word array per element: HOF
    lambdas evaluate interpreted with no common-subexpression reuse, so
    the per-element slice re-ran normalize+split per gram — O(words²)
    regex work per document. zip_with evaluates the word array only as
    HOF *arguments* (once each), keeping the construction linear
    (measured 1.8× on the sf0.1 corpus, bit-identical output). Trailing
    zip slots pair with NULL (concat_ws skips them → short grams); the
    final slice keeps exactly the size−n+1 full n-grams."""
    words = F.split(normalized_text(text_col), " ")
    acc = words
    for k in range(1, n):
        shifted = F.slice(words, k + 1, F.greatest(F.size(words) - k, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(
        F.size(words) >= n, F.slice(acc, 1, F.size(words) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text_col: str = "text", n: int = 3):
    """Distinct word n-grams of the normalized text (`word_ngrams` with
    repeats dropped), as an array column. Documents with fewer than n
    words yield an empty shingle set."""
    return F.array_distinct(word_ngrams(text_col, n))


MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne), the classic minhash modulus


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation constants (a_i odd, LCG-derived).
    Shared by the Spark implementation and the SQL oracle generator so both
    engines compute bit-identical signatures."""
    out = []
    for i in range(num_hashes):
        a = ((1103515245 * (i + 1) + 12345) % 2147483648) | 1
        b = (22695477 * (i + 1) + 7777) % 2147483648
        out.append((a, b))
    return out


def minhash_signature(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """MinHash signature per document: ONE md5 per shingle → 60-bit int →
    `num_hashes` affine permutations h_i(v) = (a_i·v + b_i) mod (2³¹−1),
    min per permutation. One cryptographic hash per shingle instead of
    `num_hashes` — the standard k-permutation construction, ~k× cheaper
    than k seeded hashes and exactly reproducible in ANSI SQL
    (hex-substring → integer → same arithmetic).

    Computed entirely scan-side (transform + array_min): no shuffle, no
    explode — at 100 TB this is the difference between a map stage and a
    shingle-cardinality shuffle. Overflow-safe: v,a < 2³¹ → a·v+b < 2⁶³.
    """
    sh = word_shingles(text_col, shingle_n)
    vs = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % 2147483648,
    )
    # `_mb` (nondeterministic) blocks CollapseProject: without it Catalyst
    # merges the projections and inlines `_vs` — with its per-shingle md5 —
    # into every mh_i column, re-hashing k× per row. Benchmarked (sf0.1
    # doubled corpus, k=16): 16-seeded-md5 8.2s; aggregate-of-zip_with
    # 10.2s (per-element array allocation); this split construction 5.5s.
    staged = df.select(
        F.col(id_col),
        vs.alias("_vs"),
        F.monotonically_increasing_id().alias("_mb"),
    )

    # Each permutation is SQL text, parsed once in the JVM. Built through
    # the Column API, every node (lit, *, +, %, lambda, transform,
    # array_min) costs several py4j round trips: building a 16-hash
    # signature took 2,643 JVM calls that way and takes 603 as SQL text,
    # for the same plan.
    sig_cols = [
        F.expr(
            f"array_min(transform(_vs, v -> ({a} * v + {b}) % {MINHASH_PRIME}))"
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return staged.select(F.col(id_col), *sig_cols)


def minhash_band_rows(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 16, bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """One row per (document, band): `bkey` = md5 of the band's signature
    components. Two documents share a band key iff their signatures agree
    on that whole band — the LSH collision event. Shared by the in-batch
    pair generator (`minhash_lsh_pairs`) and the cross-run `BandLedger`
    (sources/ledger.py), so batch and historical collisions are defined
    identically."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sig = minhash_signature(df, id_col, text_col, num_hashes, shingle_n)
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws("|", *[F.col(f"mh_{b * r + i}") for i in range(r)])
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 16, bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """X2 — LSH candidate pairs: documents sharing at least one band
    (band = concat of rows_per_band consecutive signature components).

    Shuffle volume is O(docs × bands) small rows; the bucket self-join is an
    equi-join on the band hash — uniformly distributed, broadcast-free,
    AQE-splittable. Returns distinct (id_a, id_b) with id_a < id_b.
    """
    band_rows = minhash_band_rows(df, id_col, text_col, num_hashes, bands, shingle_n)
    # Pairs come from grouping ids per bucket and expanding in-bucket pairs
    # — NOT a band_rows self-join: the self-join scans + recomputes the
    # signature pipeline twice and shuffles both sides, and candidate
    # buckets are tiny by construction (band collisions are rare for
    # non-duplicates). One aggregation shuffle total. Degenerate giant
    # buckets (all-identical corpora) are quadratic in either formulation;
    # cap bucket size upstream if that's a real input.
    buckets = band_rows.groupBy("band", "bkey").agg(
        F.sort_array(F.collect_set(F.col(id_col))).alias("_ids")
    ).filter(F.size("_ids") >= 2)
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
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        shingle_n: int = 3, threshold: float = 0.5,
                        max_shingle_freq: int | None = None) -> DataFrame:
    """X2 — exact n-gram Jaccard similarity pairs above `threshold`.

    explode distinct shingles → self-join on shingle → |A∩B| per pair →
    jaccard = inter / (|A| + |B| - inter). Exact but quadratic in bucket
    size: at scale set `max_shingle_freq` to drop ubiquitous shingles
    (document-frequency cap), which bounds the join fan-out.
    """
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
    )
    if max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(rare, on="shingle", how="left_semi")
    # the shingling explode is the expensive stage and feeds THREE
    # consumers (sizes + both self-join sides) — materialize once
    # instead of re-shingling the corpus per consumer (r13 plan audit:
    # 4 identical scans; the minhash_estimate_audit precedent)
    sh = sh.transform(_checkpoint, eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_estimate_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """The MinHash ACCURACY CONTRACT — X2's analog of `ann_recall`: over
    every overlapping document pair (≥ 1 shared shingle), compare the
    exact n-gram Jaccard against the signature estimate (fraction of
    equal components) and report the absolute-error profile. The theory
    says E[estimate] = J with σ = √(J(1−J)/k); this measures what the
    deployed k actually delivers on this corpus, so the LSH family's
    candidate thresholds rest on a pinned number instead of an
    assumption.

    All integer-exact: jacc_e6 = floor(1e6·inter/union), est_e6 =
    floor(1e6·matches/k), err = |est − jacc| — engine-replayable bit
    for bit.

    Scale shape: signatures are scan-side (minhash_signature — no
    shuffle); the exact-Jaccard side is the audit's quadratic cost and
    is the CALLER's sampling responsibility (same contract as
    jaccard_topk/containment_topk — run it on a sampled slice;
    `max_shingle_freq` additionally caps the shingle-bucket fan-out).
    The signature join touches only the already-aggregated pair frame.

    When `max_shingle_freq` is set, BOTH sides of the comparison are
    computed over the SAME frequency-filtered shingle set: the exact
    Jaccard ignores frequent shingles by construction, so the signatures
    are aggregated from the filtered shingle frame too (min over the
    same md5→affine permutations — identical arithmetic, one grouped
    aggregation over the sampled slice instead of the scan-side array
    form). Estimate and exact then measure the same set statistic;
    filtering only the exact side would report an inflated error (it
    would compare full-set estimates against filtered-set truth).

    Returns ONE row: (n_pairs, mae_e6, max_err_e6) — NULL errors on an
    empty pair space.
    """
    # The audited slice is BY CONTRACT a sample (see docstring), so its
    # exploded shingle frame is the audit's working set: checkpoint it
    # once — it feeds sizes + both self-join sides, and re-evaluating it
    # would re-scan and re-shingle the corpus per consumer (the plan
    # audit showed 6 text scans before this). Same for the signature
    # frame (n_docs × k longs), joined on both pair sides.
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
    )
    if max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(rare, on="shingle", how="left_semi")
    sh = sh.transform(_checkpoint, eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    if max_shingle_freq is None:
        sig = minhash_signature(df, id_col, text_col, num_hashes, shingle_n)
    else:
        # signatures over the SAME filtered shingle set as the exact side
        # (see docstring): identical md5→affine arithmetic, min per
        # permutation aggregated from the exploded filtered frame.
        v = (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
            % 2147483648
        )
        sig = sh.groupBy(id_col).agg(
            *[
                F.min((F.lit(a) * v + F.lit(b)) % F.lit(MINHASH_PRIME))
                .cast("long")
                .alias(f"mh_{i}")
                for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
            ]
        )
    sig = sig.transform(_checkpoint, eager=False)
    sig_a = sig.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"_a{i}") for i in range(num_hashes)],
    )
    sig_b = sig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"_b{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    pairs = (
        inter.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"),
            "id_b",
        )
        .join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            F.expr("CAST((1000000 * inter) div (n_a + n_b - inter) AS BIGINT)").alias(
                "_jacc_e6"
            ),
            matches.cast("long").alias("_m"),
        )
        .select(
            "_jacc_e6",
            F.expr(f"CAST((1000000 * _m) div {num_hashes} AS BIGINT)").alias("_est_e6"),
        )
        .select(F.abs(F.col("_est_e6") - F.col("_jacc_e6")).alias("_err"))
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("CAST(CASE WHEN COUNT(1) > 0 THEN SUM(_err) div COUNT(1) END AS BIGINT)").alias(
            "mae_e6"
        ),
        F.max("_err").cast("long").alias("max_err_e6"),
    )


# Edge budget under which connected components runs as a driver-side
# union-find instead of distributed label rounds. Rationale: each
# distributed round is 2 keyed shuffles + a checkpoint + a convergence
# action — ~0.5-1 s of pure scheduling even on a 6 k-edge graph — while
# union-find over ≤500 k (src, dst) longs pulled through Arrow is
# O(E α(E)). Honest memory math: the Arrow transfer is 16 B/edge
# (~8 MB of numpy arrays at the cap), and the parent dict holds at most
# one entry per non-root node — ≤1 M entries ≈ 100 MB of CPython dict
# worst case, the real budget this cap is sized against (the previous
# 2 M cap with Row-object collect() cost several hundred MB of Row +
# py4j overhead; Arrow removes the Row tax, the lower cap bounds the
# dict). LSH banding contracts a corpus by orders of magnitude before
# this step (near-dup EDGES, not documents), so at 100 TB the edge list
# is usually far smaller than the corpus; when it genuinely isn't, the
# count guard routes to the O(log n) alternating rounds and nothing
# ever materializes on the driver. Same budget-guard philosophy as
# similarity.py's broadcast-GEMM path.
SMALL_GRAPH_EDGES = 500_000


def _driver_unionfind(edges: DataFrame) -> DataFrame:
    """Union-find (union-by-min + path compression) over an
    Arrow-collected edge list (plain int64 numpy columns — never Row
    objects, whose per-row Python overhead dwarfs the data). Root of
    every set is its minimum member, so labels match the distributed
    algorithms' contract exactly: (id, component = min reachable id),
    one row per edge endpoint."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    pdf = edges.toPandas()
    a_vals = pdf.iloc[:, 0].astype("int64").tolist()
    b_vals = pdf.iloc[:, 1].astype("int64").tolist()
    for a, b in zip(a_vals, b_vals):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    nodes = set(a_vals) | set(b_vals)
    labels = [(n, find(n)) for n in sorted(nodes)]
    return local_frame(edges.sparkSession, labels, schema="id long, component long")


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    a_col: str = "id_a",
    b_col: str = "id_b",
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components over a candidate-pair edge list: the step that
    turns near-dup PAIRS into dedup CLUSTERS (keep min-id per component,
    drop the rest). Returns (id, component) with component = min id
    reachable — deterministic.

    Algorithm: min-label propagation. Each node starts labeled with itself;
    every iteration each node takes the min label in its closed
    neighborhood; stop when an iteration changes nothing. Converges in
    O(component diameter) iterations — near-dup graphs are clique-ish, so
    2-3 in practice. Each iteration is one shuffle (join labels⋈edges +
    min-agg); `localCheckpoint` truncates the growing lineage so iteration
    N doesn't replay iterations 1..N-1 (the classic iterative-DataFrame
    trap). Crucially the EDGE LIST is checkpointed once up front: edges
    feed every iteration's join, and without materialization each
    iteration would replay the entire upstream pair-generation pipeline
    (for LSH candidates, that's the whole minhash/banding job per
    iteration — the dominant cost, measured ~3× the converged loop).
    The driver loop only inspects a scalar convergence flag every
    `check_every` iterations, over checkpointed data (no recompute);
    labels themselves never leave the executors.

    Small-graph fast path: when the deduped edge list is within
    `small_graph_edges`, the component structure fits trivially in driver
    memory and a union-find over the collected edges replaces the round
    loop (see SMALL_GRAPH_EDGES for the budget rationale).
    """
    check_every = 2
    # LAZY checkpoints throughout (r17): every frame is still materialized
    # exactly once — the budget count / first consuming job persists the
    # blocks — but the separate eager-materialization jobs are gone (one
    # per frame, plus one per loop iteration below; the kcore A/B
    # precedent, ~35% at bench scale on fixed-round graph loops).
    und = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .distinct()
        .transform(_checkpoint, eager=False)
    )
    if und.count() <= small_graph_edges:
        return _driver_unionfind(und)
    edges = (
        und.unionAll(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(_checkpoint, eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .transform(_checkpoint, eager=False)
    )
    for it in range(max_iter):
        # min label among neighbors, then min with own label
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("n_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("component"), F.coalesce(F.col("n_min"), F.col("component"))
                ).alias("component"),
                (F.col("n_min") < F.col("component")).alias("_changed"),
            )
        ).transform(_checkpoint, eager=False)
        labels = updated.drop("_changed")
        if it % check_every == check_every - 1 or it == max_iter - 1:
            if updated.filter(F.col("_changed")).limit(1).count() == 0:
                break
    return labels


def connected_components_alternating(
    pairs: DataFrame,
    max_iter: int = 20,
    a_col: str = "id_a",
    b_col: str = "id_b",
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components via the ALTERNATING algorithm (large-star /
    small-star; Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14). Same output contract as `connected_components`:
    (id, component) with component = min reachable id.

    Why a second implementation: plain min-label propagation converges in
    O(component diameter) rounds — fine for clique-ish duplicate graphs,
    degenerate (O(n) rounds) for chain-shaped ones. Alternating rounds
    contract every tree onto its minimum in O(log n) rounds on ANY graph
    shape, each round two keyed shuffles (groupBy min + self-join), no
    driver-side data, labels never leave executors.

    large-star: for every node u, hang u's LARGER neighbors off
    m = min(N(u) ∪ {u}).     (v > u) → (v, m)
    small-star: hang u's smaller-or-equal neighbors (and u) off m.
    Both preserve connectivity and strictly reduce edge "potential";
    convergence = edge multiset is a fixed point (checked via a count +
    min-sum checksum — one tiny action per round over checkpointed data).

    Small-graph fast path: edge lists within `small_graph_edges` skip the
    round loop for a driver union-find (see SMALL_GRAPH_EDGES); the
    distributed rounds engage exactly when the graph could not fit.
    """
    # Work on the symmetric closure with self-loops dropped; orient each
    # undirected edge both ways so groupBy(src) sees the full neighborhood.
    # LAZY checkpoints (r17): the budget count materializes `und`; `nodes`
    # (consumed once, by the final labeling join) and each round's edge
    # frame (materialized by its convergence-checksum action) keep their
    # lineage truncation without a dedicated job each.
    und = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_checkpoint, eager=False)
    )
    if und.count() <= small_graph_edges:
        return _driver_unionfind(und)
    nodes = (
        und.select(F.col("src").alias("id"))
        .unionAll(und.select(F.col("dst").alias("id")))
        .distinct()
        .transform(_checkpoint, eager=False)
    )
    edges = und

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def _large_star(e: DataFrame) -> DataFrame:
        sym = _sym(e)
        m = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        return (
            sym.join(m, on="src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient edges toward the smaller endpoint: (u, v) with v <= u
        oriented = e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        m = oriented.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        j = oriented.join(m, on="src")
        hang_nbrs = j.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        hang_self = j.select("src", F.col("m").alias("dst")).distinct()
        return (
            hang_nbrs.unionAll(hang_self)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _sig(e: DataFrame):
        # decimal(38,0) sums: xxhash64 values span the full long range, so a
        # long SUM overflows under ANSI mode on ~any real edge set
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("src") + F.col("dst")).cast("decimal(38,0)")).alias("s"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["s"], row["h"])

    # One scalar action per round is the floor for convergence detection:
    # compare each round's checksum to the PREVIOUS round's, seeded with
    # None so no up-front action runs over the input edges. An input that is
    # already a fixed point costs one (idempotent) extra round — cheaper
    # than paying an extra driver round-trip on every real invocation.
    sig = None
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).transform(_checkpoint, eager=False)
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    # Fixed point: every surviving edge points a node at its component min.
    comp = edges.groupBy("src").agg(F.min("dst").alias("component")).select(
        F.col("src").alias("id"), "component"
    )
    # Component minima (and any isolated nodes) label themselves.
    return (
        nodes.join(comp, on="id", how="left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    method: str = "alternating",
) -> DataFrame:
    """Complete near-dup dedup: keep one representative (min id) per
    component; rows not in any pair survive untouched. Anti-join drops the
    non-representative members — document rows never shuffle.

    `method`: "alternating" (default — O(log n) rounds on any graph shape)
    or "propagation" (min-label propagation — O(diameter) rounds, fine for
    clique-shaped duplicate graphs, degenerate on chains).
    """
    if method == "alternating":
        comp = connected_components_alternating(pairs)
    elif method == "propagation":
        comp = connected_components(pairs)
    else:
        raise ValueError(f"unknown method {method!r}: use 'alternating' or 'propagation'")
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def _simhash_from_word_hash(
    df: DataFrame, id_col: str, text_col: str, word_hash, bits: int
) -> DataFrame:
    """Shared SimHash construction: explode words → one hash per word-row →
    `bits` codegen'd ±1 SUM aggregates per document → sign-pack to a long.

    Why explode + groupBy instead of array HOFs: `F.aggregate` lambdas run
    INTERPRETED (no whole-stage codegen), and the bit-vote needs one pass
    per bit — 64 interpreted array traversals per row. The exploded form
    evaluates the word hash once per word and updates all `bits` agg
    buffers inside one codegen'd pass (~2-4× faster measured at sf0.1).
    Shuffle posture: partial aggregation combines map-side, so the
    exchange carries ONE row of (id, `bits` longs) per document — the text
    itself never shuffles. Bit b of the simhash = sign of sum over words
    of (bit b set ? +1 : -1); ties (vote == 0) give 0, matching the
    aggregate-HOF formulation this replaces (same values bit-for-bit).
    """
    # NULL text coalesces to '' so the document still emits a row (one
    # empty-string word, same as genuinely empty text) instead of silently
    # vanishing from the output — split(NULL) is NULL and explode drops it.
    exploded = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.coalesce(normalized_text(text_col), F.lit("")), " ")
        ).alias("_w"),
    ).select(F.col(id_col), word_hash(F.col("_w")).alias("_h"))
    # The `bits` vote aggregates and the sign-pack are SQL text, one JVM
    # parse each. Assembled one Column-API node at a time, every PySpark
    # function call costs several py4j round trips: building simhash_md5
    # (bits=32) took 6,214 JVM calls that way and 680 as SQL text, simhash
    # (bits=64) 12,379 and 1,142. On a 4-core box the simhash_md5 registry
    # query's build fell from 0.64–0.73 s to 0.12–0.19 s, against 0.08 s
    # of executor CPU.
    vote_aggs = [
        F.expr(f"sum((shiftright(_h, {b}) & 1) * 2 - 1)").alias(f"_v{b}")
        for b in range(bits)
    ]
    voted = exploded.groupBy(id_col).agg(*vote_aggs)
    # assemble via shiftleft: 1<<63 overflows a Python-side long literal,
    # but shifting a long keeps the sign-bit semantics correct for bit 63
    sim = F.expr(
        " + ".join(f"shiftleft(IF(_v{b} > 0, 1L, 0L), {b})" for b in range(bits))
    )
    return voted.select(F.col(id_col), sim.alias("simhash"))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """X2 — SimHash: sign-sum of per-word xxhash64 bits. Spark-side only
    (xxhash64 has no cross-engine oracle). One codegen'd explode+agg pass;
    the shuffle carries (id, vote longs) per doc — never the text.

    For near-dup detection, group on rotated prefix blocks of the simhash
    (the standard Charikar trick) — provided by `simhash_buckets`.
    """
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64] (64-bit xxhash64)")
    return _simhash_from_word_hash(df, id_col, text_col, F.xxhash64, bits)


def simhash_md5(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                bits: int = 32) -> DataFrame:
    """SimHash over md5-derived word hashes (≤60 usable bits): the
    oracle-checkable twin of `simhash` — identical bit-vote construction,
    but the word hash is the 60-bit md5 prefix, which any ANSI-SQL engine
    reproduces (`simhash` uses xxhash64: Spark-only, ~4× cheaper — prefer
    it when no cross-engine comparison is needed)."""
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (60-bit md5 prefix)")

    def _h(w):
        return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")

    return _simhash_from_word_hash(df, id_col, text_col, _h, bits)


def simhash_buckets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                    block_bits: int = 16) -> DataFrame:
    """Candidate pairs whose simhash shares at least one 16-bit block
    (≤ 3-bit hamming distance is guaranteed caught with 4 blocks of a
    64-bit hash)."""
    s = simhash(df, id_col, text_col)
    n_blocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    blocks = s.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned("simhash", i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", F.col("bb.block").alias("block"), F.col("bb.bval").alias("bval"))
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(b, on=["block", "bval"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )


def pair_group_matrix(
    pairs: DataFrame,
    meta: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Duplication audit matrix: annotate a candidate-pair list with each
    side's group label (source, domain, shard, snapshot …) and count
    pairs per UNORDERED group pair — the standard corpus-audit view
    ("which sources duplicate which", cross-snapshot leakage, mirror
    detection). Works over any pair list (LSH candidates, phash pairs,
    embedding near-dups).

    Scale shape: two equi-joins of the (already contracted) pair list
    against a thin (id, group) projection, then a groupBy on at most
    |groups|² keys with map-side combine — the corpus itself is never
    touched here. Unordered normalization via least/greatest keeps one
    row per group pair with a deterministic (lo ≤ hi) orientation.

    Output: (source_a, source_b, n_pairs) with source_a ≤ source_b.
    """
    # meta feeds BOTH join sides: materialize the thin (id, group)
    # projection once instead of re-scanning its source per side (r18)
    meta = meta.select(F.col(id_col), F.col(group_col)).transform(
        _checkpoint, eager=False
    )
    ma = meta.select(F.col(id_col).alias("_ia"), F.col(group_col).alias("_ga"))
    mb = meta.select(F.col(id_col).alias("_ib"), F.col(group_col).alias("_gb"))
    return (
        pairs.join(ma, pairs[id_a] == ma["_ia"])
        .join(mb, pairs[id_b] == mb["_ib"])
        .select(
            F.least("_ga", "_gb").alias("source_a"),
            F.greatest("_ga", "_gb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def canonical_records(
    clusters: DataFrame,
    records: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Canonical-record selection — the step AFTER clustering that every
    production dedup actually ships: each near-dup cluster keeps its
    best-quality member (ties → lowest id), everything else is dropped.
    `clusters` is (id, component) from any of this module's
    connected-components paths; `records` carries the quality signal.

    Plan: one equi-join (clusters ⋈ records on id) + one component-keyed
    argmax AGGREGATION (max_by over the lexicographic (quality, -id)
    struct — the ivf_invert tie-break trick, no window, map-side
    partials). Nothing beyond the cluster table is shuffled.

    Returns (component, canonical_id, canonical_quality, n_members) —
    one row per cluster; n_members - 1 is the dedup win per cluster.
    """
    joined = clusters.join(
        records.select(F.col(id_col).alias("id"), F.col(quality_col).alias("_q")),
        on="id",
    )
    return (
        joined.groupBy("component")
        .agg(
            F.max_by(
                "id", F.struct(F.col("_q"), (-F.col("id")).alias("_ni"))
            ).alias("canonical_id"),
            F.max(F.struct(F.col("_q"), (-F.col("id")).alias("_ni")))["_q"].alias(
                "canonical_quality"
            ),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
    )


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH COST PLANNER — the audit you run BEFORE committing to a pair
    expansion at 100 TB: per band, the bucket-size profile and the exact
    candidate-pair volume the expansion would emit (Σ c·(c-1)/2 over
    buckets). A heavy max_bucket or a candidate count out of budget means
    re-tune bands/hashes or cap buckets — decided from one cheap
    aggregation over the band rows, before any quadratic work exists.

    Same band construction as minhash_lsh_pairs (shared minhash_band_rows),
    so the plan numbers are exactly the pair stage's input: summed
    candidate_pairs across bands upper-bounds the distinct pair count the
    expansion produces. One (band, bkey) count + a `bands`-group rollup.

    Returns per band: (band, n_buckets, n_rows, max_bucket,
    n_collision_buckets, candidate_pairs).
    """
    band_rows = minhash_band_rows(df, id_col, text_col, num_hashes, bands, shingle_n)
    buckets = band_rows.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("_c").cast("long").alias("n_rows"),
        F.max("_c").cast("long").alias("max_bucket"),
        F.count(F.when(F.col("_c") >= 2, 1)).cast("long").alias("n_collision_buckets"),
        F.sum(F.expr("(_c * (_c - 1)) div 2")).cast("long").alias("candidate_pairs"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_containment: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """X2 — exact n-gram CONTAINMENT pairs: C(A in B) = |A ∩ B| / |A| over
    distinct shingle sets (Broder's containment, the asymmetric sibling of
    Jaccard). This is the near-dup case Jaccard structurally misses: a
    document quoted or embedded inside a much larger one has tiny Jaccard
    (size disparity dominates the union) but containment ≈ 1 — exactly the
    quote/boilerplate/subset duplication a training-corpus dedup must see.

    Same plan shape as ngram_jaccard_pairs (shingle-keyed equi-join over
    distinct shingles, document-frequency cap bounds fan-out at scale);
    both directions emit as e6-floored integers, and a pair survives if
    EITHER direction reaches `min_containment`. Returns
    (id_a, id_b, inter, n_a, n_b, cont_a_e6, cont_b_e6).

    Measurement space (r7 ADVICE, explicit): when `max_shingle_freq` is
    set, BOTH the intersection AND the |A|/|B| denominators are computed
    over the capped (rare-shingle) space — containment over rare
    shingles only, the same contract as ngram_jaccard_pairs. A document
    composed mostly of corpus-frequent shingles therefore reports its
    containment within the rare remainder, which can sit above or below
    its full-space containment; what the cap guarantees is that numerator
    and denominator are measured in the SAME space (mixing capped
    intersections with uncapped sizes would only ever deflate, and
    unpredictably so). Pass None to measure true full-space containment.
    """
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
    )
    if max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(rare, on="shingle", how="left_semi")
    # three consumers of the shingling explode — see ngram_jaccard_pairs
    sh = sh.transform(_checkpoint, eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    cut = int(min_containment * 1_000_000)
    return (
        inter.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"),
            "id_b",
        )
        .withColumn(
            "cont_a_e6",
            F.floor(F.col("inter") * F.lit(1_000_000) / F.col("n_a")).cast("long"),
        )
        .withColumn(
            "cont_b_e6",
            F.floor(F.col("inter") * F.lit(1_000_000) / F.col("n_b")).cast("long"),
        )
        .filter((F.col("cont_a_e6") >= cut) | (F.col("cont_b_e6") >= cut))
        .select("id_a", "id_b", "inter", "n_a", "n_b", "cont_a_e6", "cont_b_e6")
    )
