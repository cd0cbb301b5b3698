"""Graph analytics over relationship edges (SURVEY.md §2d extension).

The reference repo computes no graph metrics; this module adds the one
every large-scale data pipeline eventually needs — PageRank — expressed
as iterated DataFrame joins/aggregations (the connected-components family
in operators/dedup.py is the other resident graph algorithm).

Integer-exact contract (cross-engine oracle): ranks are BIGINTs at a
fixed scale. With r_0(u) = scale and out-weight ow(u) = Σ_v w(u,v),

    r_{t+1}(v) = floor(15·scale/100)
               + Σ_{u→v} (85 · r_t(u) · w(u,v)) div (100 · ow(u))

— every operation is integer multiply/floor-divide/sum, so Spark, the
driver, and a DuckDB recursive CTE replay the identical trajectory
bit-for-bit (no float mass to diverge). The per-edge floor loses < 1
rank unit per edge per iteration — deterministic rounding, not error
drift. scale=1e9 keeps the worst-case product 85·r·w far from BIGINT
overflow for realistic degree/weight distributions.

Plan shape for 100 TB:
- Each iteration is ONE equi-join (ranks ⋈ edges on src) + ONE keyed
  aggregation (groupBy dst) — both shuffles on node keys, map-side
  partial sums on the aggregate. Nothing corpus-sized is collected.
- The edge list (+ out-weights) is partitioned by src ONCE and
  localCheckpoint-ed: every iteration reuses the same co-partitioning,
  so the rank side alone shuffles per round (the dedup.py
  connected-components pattern, dedup.py:305-356).
- Rank frames are localCheckpoint-ed each round to truncate lineage —
  iterated lazy self-reference otherwise re-executes the whole prefix
  per action.
- Dangling nodes cannot occur on a symmetrized (undirected) edge list;
  `pagerank` asserts nothing about them and documents directed-graph
  callers must pre-drop or self-loop them (their mass would otherwise
  leak to the teleport term only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint

__all__ = ["pagerank", "co_occurrence_edges", "co_occurrence_pairs", "symmetrize_pairs", "label_propagation", "triangle_stats", "top_co_occurrences", "kcore", "neighbor_jaccard", "deterministic_walks"]


def co_occurrence_edges(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    min_weight: int = 1,
    max_basket: int = 64,
) -> DataFrame:
    """Undirected co-occurrence edge list: (src, dst, weight) with BOTH
    directions emitted per pair, weight = number of baskets containing
    both items. Baskets come from one groupBy (collect_set, capped at
    `max_basket` items — oversize baskets are near-degenerate for
    co-occurrence and quadratic in pair fan-out; the cap keeps per-row
    expansion bounded, deterministic via sort_array truncation). The
    in-basket pair expansion is scan-side HOFs (the basket_pairs /
    LSH-bucket trick) — the fact table is scanned once, never
    self-joined."""
    return symmetrize_pairs(
        co_occurrence_pairs(facts, basket_col, item_col, max_basket), min_weight
    )


def co_occurrence_pairs(
    facts: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int = 64,
) -> DataFrame:
    """The UNDIRECTED half of `co_occurrence_edges`: one (a < b, weight)
    row per co-occurring pair, no direction expansion, no weight filter.
    This is the frame worth persisting — the whole graph family
    (PageRank, LPA, triangles, recommendations) derives from it by a
    filter + symmetrize, so a 100 TB fact table is pair-expanded ONCE
    (the IVF-index materialize-once rule applied to graphs). Integer
    weights roundtrip parquet exactly."""
    baskets = (
        facts.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .groupBy("_b")
        .agg(F.slice(F.sort_array(F.collect_set("_i")), 1, max_basket).alias("_items"))
        .filter(F.size("_items") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_items"),
            lambda a, i: F.transform(
                F.slice(F.col("_items"), i + 2, F.size(F.col("_items"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_structs).alias("_p"))
        .groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )


def symmetrize_pairs(pairs: DataFrame, min_weight: int = 1) -> DataFrame:
    """(a < b, weight) pairs → both-direction (src, dst, weight) edges at
    the given weight threshold (threshold-on-aggregate == the HAVING the
    inline build applies, so filtered persisted pairs are bit-identical
    to a fresh min_weight build)."""
    p = pairs.filter(F.col("weight") >= min_weight)
    fwd = p.select(F.col("a").alias("src"), F.col("b").alias("dst"), "weight")
    rev = p.select(F.col("b").alias("src"), F.col("a").alias("dst"), "weight")
    return fwd.unionByName(rev)


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    scale: int = 10**9,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    driver_budget_edges: int = 32_000_000,
    undirected_pairs: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank, `iterations` fixed power-iteration rounds on
    the integer-exact contract in the module docstring. Returns
    (node, rank) — rank at `scale` (initial mass = scale per node);
    total mass is conserved up to the deterministic per-edge floors.

    Every node must have out-edges (guaranteed for symmetrized edge
    lists from `co_occurrence_edges`); nodes with no IN-edges would
    drop out of the aggregation, so the teleport term re-seeds them via
    a left join on the node set each round. Whether any such node
    exists is decided ONCE up front (one anti-join count) — on a
    symmetrized graph out-node-set == in-node-set, so the per-round
    left join (an extra node-keyed shuffle per iteration) is skipped
    entirely; directed graphs with in-degree-0 nodes keep it.

    Zero- or negative-weight edges are dropped up front: a node whose
    out-weight sum is 0 would divide by zero (Spark yields NULL, SUM
    skips it, and that node's mass would silently vanish). The w > 0
    requirement is therefore enforced, not assumed.

    Small-graph fast path (the dedup.py union-find precedent): when the
    post-filter edge count is at most `driver_budget_edges`, the three
    int64 edge columns are pulled through Arrow and the power iteration
    runs vectorized on the driver — the identical integer trajectory
    (numpy `//` == Spark `div` on non-negative int64; exact int64
    accumulation via np.add.at, never float bincount weights), so the
    cross-engine oracle cannot tell the paths apart. Rationale: each
    distributed round is 2 keyed shuffles, and at graph sizes measured
    in tens of MB the 2·iterations stage launches are pure scheduling
    overhead. Budget math: 3 int64 arrays = 24 B/edge → the 32M-edge
    default is ~0.8 GB of driver arrays, sized for the 128 GB local
    driver; shrink it on thin drivers. Above budget — or if any dst
    has no out-edges, or the int64 overflow guard trips — the loop
    routes to the distributed path automatically, so PB-scale edge
    lists never touch the driver.
    """
    if undirected_pairs is not None:
        # (a < b, weight) pairs: the driver fast path mirrors them in
        # numpy (half the Arrow bytes of a pre-symmetrized list); the
        # distributed path symmetrizes in-plan
        if edges is not None:
            raise ValueError("pass edges or undirected_pairs, not both")
        return _pagerank_pairs(
            undirected_pairs, iterations, scale, damp_num, damp_den,
            driver_budget_edges,
        )
    sp = edges.sparkSession
    n_shuffle = int(sp.conf.get("spark.sql.shuffle.partitions", "32"))
    e0 = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        F.col(weight).cast("long").alias("_w"),
    ).filter(
        (F.col("_w") > 0) & F.col("_src").isNotNull() & F.col("_dst").isNotNull()
    )
    teleport = 15 * scale // 100
    if driver_budget_edges > 0:
        # materialize the edge pipeline ONCE — the budget count and the
        # Arrow collect (or the distributed fallback) all read it back
        e0 = e0.transform(_checkpoint, eager=False)
        if e0.count() <= driver_budget_edges:
            out = _pagerank_driver(
                sp, e0, iterations, scale, teleport, damp_num, damp_den
            )
            if out is not None:
                return out
    e = e0.repartition(n_shuffle, "_src")
    # out-weights join ONCE, outside the loop: the (edge, ow) frame is
    # loop-invariant, so re-joining it per round would redo the same
    # co-partitioned merge `iterations` times
    ew = (
        e.join(e.groupBy("_src").agg(F.sum("_w").alias("_ow")), "_src")
        .transform(_checkpoint)
    )
    nodes = ew.select(F.col("_src").alias("node")).distinct().transform(_checkpoint)
    return _pagerank_distributed(
        ew, nodes, iterations, scale, teleport, damp_num, damp_den
    )


def _count_is_metadata_only(df: DataFrame) -> bool:
    """True when `df.count()` resolves from file metadata (a bare
    relation scan, possibly projected) rather than running a job.
    WHITELIST form (r9 review): the optimized logical plan must consist
    ONLY of projection/relation/alias nodes — any other node
    (aggregate, join, filter, repartition, sample, python map, ...)
    means the count is real work, so the caller checkpoints first. A
    blacklist here mislabels nodes it forgot (Repartition, Sample) AND
    trips on column names containing its tokens; the whitelist errs
    only toward False (checkpoint-first), which is never wrong, just
    conservatively eager."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    allowed = ("Project", "Relation", "LocalRelation", "SubqueryAlias")
    for line in plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if not node:
            continue
        if not node.startswith(allowed):
            return False
    return True


def _pagerank_pairs(pairs, iterations, scale, damp_num, damp_den, budget):
    """pagerank over (a, b, weight) undirected pairs: Arrow-collect the
    HALF-size pair list and mirror it in numpy when within budget (each
    pair = 2 directed edges), else symmetrize in-plan and run the
    distributed loop. Bit-identical to pagerank(symmetrize_pairs(pairs))."""
    import numpy as np
    import pandas as pd

    sp = pairs.sparkSession
    p0 = pairs.select(
        F.col("a").alias("_src"), F.col("b").alias("_dst"),
        F.col("weight").cast("long").alias("_w"),
    ).filter(
        (F.col("_w") > 0) & F.col("_src").isNotNull() & F.col("_dst").isNotNull()
    )
    teleport = 15 * scale // 100
    if budget > 0:
        # budget admission via the PRE-filter row count: on a parquet
        # source this is a metadata-only count (no scan, no materialize)
        # and it upper-bounds the filtered pair count, so admitting on
        # the bound is sound; only an over-budget bound pays for the
        # checkpoint + exact count (r8: this checkpoint+count was ~0.5 s
        # of part_pagerank's bench time for a frame consumed once).
        # That metadata-only assumption holds ONLY for scan-shaped
        # plans: a COMPUTED pair frame (aggregate/join upstream) would
        # pay a full job for the count and then recompute the upstream
        # again in toPandas() (and a third time in the rare int64-guard
        # fallback) — so computed frames checkpoint FIRST and every
        # consumer reads the one materialization (r8 ADVICE).
        if _count_is_metadata_only(pairs):
            ub = pairs.count()
            if 2 * ub > budget:
                p0 = p0.transform(_checkpoint, eager=False)
                ub = p0.count()
        else:
            p0 = p0.transform(_checkpoint, eager=False)
            ub = p0.count()
        if 2 * ub <= budget:
            pdf = p0.toPandas()
            a = pdf["_src"].to_numpy(dtype="int64")
            b = pdf["_dst"].to_numpy(dtype="int64")
            w = pdf["_w"].to_numpy(dtype="int64")
            # ONE hash factorize over [a;b] indexes both directions of
            # the mirrored edge list (d = [b;a] is a permutation of the
            # same concatenation), replacing sort-based np.unique +
            # searchsorted — the dominant driver-path cost at millions
            # of pairs. Codes are remapped to sorted-node order so the
            # output frame is bit-identical to the generic path; the
            # dst-coverage contract check is FREE here (mirrored lists
            # have dst set == src set by construction).
            codes, uniques = pd.factorize(np.concatenate([a, b]))
            order = np.argsort(uniques)
            inv = np.empty(len(order), dtype="int64")
            inv[order] = np.arange(len(order), dtype="int64")
            sc = inv[codes]
            m = len(a)
            out = _pagerank_iterate(
                sp, uniques[order], sc,
                np.concatenate([sc[m:], sc[:m]]), np.concatenate([w, w]),
                iterations, scale, teleport, damp_num, damp_den,
            )
            if out is not None:
                return out
    sym = symmetrize_pairs(p0.select(F.col("_src").alias("a"),
                                     F.col("_dst").alias("b"),
                                     F.col("_w").alias("weight")))
    return pagerank(sym, iterations, scale, damp_num, damp_den,
                    driver_budget_edges=0)


def _pagerank_driver(sp, e0, iterations, scale, teleport, damp_num, damp_den):
    """Vectorized driver-side power iteration. Returns None when the
    trajectory cannot be replayed exactly here (a dst without out-edges,
    or the per-edge product would leave int64) — the caller then runs
    the distributed loop instead."""
    return _pagerank_driver_arrays(
        sp, e0.toPandas(), iterations, scale, teleport, damp_num, damp_den
    )


def _pagerank_driver_arrays(sp, pdf, iterations, scale, teleport, damp_num, damp_den):
    import numpy as np

    s = pdf["_src"].to_numpy(dtype="int64")
    d = pdf["_dst"].to_numpy(dtype="int64")
    w = pdf["_w"].to_numpy(dtype="int64")
    nodes_arr, s_idx = np.unique(s, return_inverse=True)
    n = len(nodes_arr)
    d_idx = np.searchsorted(nodes_arr, d)
    np.clip(d_idx, 0, n - 1, out=d_idx)
    if not bool(np.array_equal(nodes_arr[d_idx], d)):
        return None  # some dst has no out-edges: module contract violated
    return _pagerank_iterate(
        sp, nodes_arr, s_idx, d_idx, w, iterations, scale, teleport,
        damp_num, damp_den,
    )


def _pagerank_iterate(
    sp, nodes_arr, s_idx, d_idx, w, iterations, scale, teleport,
    damp_num, damp_den,
):
    """The shared vectorized power-iteration core over pre-built node
    indices (callers guarantee every dst index has out-edges)."""
    import numpy as np
    import pandas as pd

    n = len(nodes_arr)
    if n == 0:
        return local_frame(sp, [], schema="node bigint, rank bigint")
    ow = np.zeros(n, dtype="int64")
    np.add.at(ow, s_idx, w)
    rank = np.full(n, int(scale), dtype="int64")
    w_max = int(w.max()) if len(w) else 1
    for _ in range(iterations):
        # overflow guard in exact Python ints: the distributed path would
        # wrap silently too, so trip BEFORE computing and route there only
        # if a caller-chosen scale actually approaches the int64 edge
        if damp_num * int(rank.max()) * w_max >= 2**63:
            return None
        contrib = (damp_num * rank[s_idx] * w) // (damp_den * ow[s_idx])
        acc = np.zeros(n, dtype="int64")
        np.add.at(acc, d_idx, contrib)
        rank = int(teleport) + acc
    return sp.createDataFrame(
        pd.DataFrame({"node": nodes_arr, "rank": rank}),
        schema="node bigint, rank bigint",
    )


def _pagerank_distributed(ew, nodes, iterations, scale, teleport, damp_num, damp_den):
    """The 2-shuffles-per-round distributed loop (module docstring)."""
    # decide ONCE whether the in-node set differs from the out-node set
    # (directed graphs only; symmetrized edge lists are identical on both
    # sides). The fast branch below substitutes the per-round aggregation
    # output for the node frame, which is only sound when dst-distinct ==
    # nodes EXACTLY: a node with no in-edges would silently vanish, and a
    # dst with no out-edges would silently APPEAR (it has no out-weight,
    # so the driver fast path refuses such graphs too — r6 ADVICE). When
    # the sets match, the left-join re-seed — one extra node-keyed
    # shuffle per iteration — is dead weight, so we skip it for all
    # `iterations` rounds; either mismatch direction keeps it.
    dsts = ew.select(F.col("_dst").alias("node")).distinct().transform(_checkpoint)
    needs_reseed = (
        nodes.join(dsts, "node", "left_anti").limit(1).count() > 0
        or dsts.join(nodes, "node", "left_anti").limit(1).count() > 0
    )
    ranks = nodes.select("node", F.lit(int(scale)).cast("long").alias("rank"))
    contrib_expr = F.expr(f"({damp_num} * rank * _w) div ({damp_den} * _ow)")
    for i in range(iterations):
        contribs = (
            ew.join(ranks, ew["_src"] == ranks["node"])
            .select(F.col("_dst").alias("node"), contrib_expr.alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        if needs_reseed:
            # left join on the full node set: nodes with no in-edges keep
            # receiving the teleport mass instead of silently vanishing
            ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (F.lit(int(teleport)) + F.coalesce(F.col("_in"), F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
        else:
            ranks = contribs.select(
                "node",
                (F.lit(int(teleport)) + F.col("_in")).cast("long").alias("rank"),
            )
        # truncate lineage every THIRD round: a 3-round plan is still
        # shallow (3 joins + 3 aggs), and each skipped localCheckpoint
        # removes one eager job — the per-round scheduling overhead, not
        # the data volume, dominates at modest graph sizes (stress 1.2×)
        if i % 3 == 2 or i == iterations - 1:
            ranks = ranks.transform(_checkpoint)
    return ranks


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    driver_budget_edges: int = 32_000_000,
    undirected_pairs: DataFrame | None = None,
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (community detection):
    labels start as node ids; each round every node adopts the label with
    the greatest total incident edge weight among its neighbors' current
    labels (ties → smallest label). `rounds` is fixed — asynchronous LPA
    (GraphFrames et al.) is run-order-dependent; the synchronous fixed-
    round variant is reproducible to the bit, so a SQL oracle can replay
    it by unrolling the rounds.

    Per round: ONE dst-keyed join (edges ⋈ labels) + ONE (src, label)
    aggregation + ONE src-keyed argmax aggregation — all keyed shuffles
    with map-side partials, same cost class as one PageRank round.
    Undirected graphs pass the symmetrized edge list (both directions),
    exactly as `co_occurrence_edges` emits. Edges whose dst carries no
    label (a dst with no out-edges, possible only on directed inputs)
    cast no vote in either path.

    Small-graph fast path (the pagerank precedent): at most
    `driver_budget_edges` post-filter edges → Arrow-collect the three
    int64 columns and run the rounds vectorized on the driver —
    identical votes, identical (max weight, min label) winners, so the
    SQL oracle cannot tell the paths apart; larger graphs (or int
    overflow in the vote keys) route to the distributed loop.

    Returns (node, label) — nodes = every src endpoint.
    """
    if undirected_pairs is not None:
        if edges is not None:
            raise ValueError("pass edges or undirected_pairs, not both")
        p0 = undirected_pairs.select(
            F.col("a").alias("_s"), F.col("b").alias("_d"),
            F.col("weight").cast("long").alias("_w"),
        ).filter(
            (F.col("_w") > 0) & F.col("_s").isNotNull() & F.col("_d").isNotNull()
        )
        if driver_budget_edges > 0:
            # budget admission via the PRE-filter metadata count when the
            # pair source is a bare scan (the _pagerank_pairs r8 pattern,
            # applied here in r17): the upper bound admits without a
            # checkpoint job + exact-count job; only an over-budget bound
            # pays for both. Computed pair frames checkpoint first so the
            # count and the Arrow collect read one materialization.
            if _count_is_metadata_only(undirected_pairs):
                ub = undirected_pairs.count()
                if 2 * ub > driver_budget_edges:
                    p0 = p0.transform(_checkpoint)
                    ub = p0.count()
            else:
                p0 = p0.transform(_checkpoint, eager=False)
                ub = p0.count()
            if 2 * ub <= driver_budget_edges:
                out = _label_propagation_driver(p0, rounds, mirror=True)
                if out is not None:
                    return out
        edges = symmetrize_pairs(
            p0.select(F.col("_s").alias("a"), F.col("_d").alias("b"),
                      F.col("_w").alias("weight"))
        )
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"),
        F.col(weight).cast("long").alias("_w"),
    ).filter(
        (F.col("_w") > 0) & F.col("_s").isNotNull() & F.col("_d").isNotNull()
    ).transform(_checkpoint, eager=False)
    if driver_budget_edges > 0 and e.count() <= driver_budget_edges:
        out = _label_propagation_driver(e, rounds)
        if out is not None:
            return out
    labels = e.select(F.col("_s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        votes = (
            e.join(labels, e["_d"] == labels["node"])
            .select(F.col("_s"), F.col("label"), F.col("_w"))
            .groupBy("_s", "label")
            .agg(F.sum("_w").alias("_tw"))
        )
        winners = (
            votes.groupBy("_s")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("_tw"), (-F.col("label")).alias("_nl"))
                ).alias("_wl")
            )
            .select(F.col("_s").alias("node"), "_wl")
        )
        # left-join the winners back onto the FULL node set: a src whose
        # every dst carries no label (possible only on directed inputs)
        # keeps its previous label instead of dropping out — mirroring the
        # driver path's `new_label = label_idx.copy()` exactly, so both
        # paths return the same node set on any input (r6 ADVICE). On
        # symmetrized graphs every src gets >= 1 vote and the coalesce is
        # a no-op; the extra node-keyed join is co-partitioned with the
        # argmax output.
        labels = (
            labels.join(winners, "node", "left")
            .select("node", F.coalesce(F.col("_wl"), F.col("label")).alias("label"))
            .transform(_checkpoint)
        )
    return labels


def _label_propagation_driver(e: DataFrame, rounds: int, mirror: bool = False):
    """Vectorized driver-side LPA rounds over Arrow-collected int64 edge
    columns (`mirror=True`: input is the undirected half — both
    directions are reconstructed in numpy at half the Arrow bytes).
    Votes group on a packed (src_idx, label_idx) key — returns None if
    that key would overflow int64 (routes distributed)."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    s_v = pdf["_s"].to_numpy(dtype="int64")
    d_v = pdf["_d"].to_numpy(dtype="int64")
    w = pdf["_w"].to_numpy(dtype="int64")
    if mirror:
        s_v, d_v, w = (
            np.concatenate([s_v, d_v]),
            np.concatenate([d_v, s_v]),
            np.concatenate([w, w]),
        )
    nodes_arr, s_idx = np.unique(s_v, return_inverse=True)
    n = len(nodes_arr)
    if n == 0 or n * n >= 2**63:
        return None
    # a dst without out-edges has no label: it casts no vote (matches the
    # distributed join semantics exactly)
    d_pos = np.searchsorted(nodes_arr, d_v)
    np.clip(d_pos, 0, n - 1, out=d_pos)
    valid = nodes_arr[d_pos] == d_v
    s_idx, d_pos, w = s_idx[valid], d_pos[valid], w[valid]
    label_idx = np.arange(n, dtype="int64")  # label = index into nodes_arr
    s_key = s_idx * n  # constant across rounds
    for _ in range(rounds):
        if s_key.size == 0:
            break  # no votes: every node keeps its label, as distributed
        key = s_key + label_idx[d_pos]
        # one argsort + reduceat per round instead of np.unique(+sort) +
        # np.add.at: add.at is a buffered scatter (~2× the whole round's
        # cost) and lexsort re-sorted the unique keys a second time —
        # replacing both cut the sf0.1 rounds 2.4 s → 1.4 s with
        # bit-identical labels (r14 VERDICT #4). Stable sort keeps the
        # per-key w order deterministic (int sums are order-free anyway).
        order = np.argsort(key, kind="stable")
        ks = key[order]
        ws = w[order]
        starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        sums = np.add.reduceat(ws, starts)
        uk = ks[starts]
        su = uk // n
        lu = uk - su * n
        # per src: max total weight, ties -> min label. uk is ascending,
        # so within a src segment labels ascend — the FIRST max hit is
        # the min label (nodes_arr is sorted: min index == min value)
        seg = np.r_[True, su[1:] != su[:-1]]
        seg_id = np.cumsum(seg) - 1
        segmax = np.maximum.reduceat(sums, np.flatnonzero(seg))
        idx = np.flatnonzero(sums == segmax[seg_id])
        first_in_seg = np.r_[True, seg_id[idx][1:] != seg_id[idx][:-1]]
        win = idx[first_in_seg]
        new_label = label_idx.copy()
        new_label[su[win]] = lu[win]
        label_idx = new_label
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes_arr, "label": nodes_arr[label_idx]}),
        schema="node bigint, label bigint",
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "degree",
) -> DataFrame:
    """Global triangle census over an undirected graph: triangle count,
    wedge (open-triad) count, and the floored-e6 global clustering
    coefficient 3·triangles / wedges — the graph-health number that says
    whether co-occurrence structure is clique-like or hub-and-spoke.

    Input may carry both edge directions (symmetrized lists); pairs are
    canonicalized to a < b first. Each triangle is enumerated exactly
    once by orienting every edge low→high under a total order and
    wedge-joining on the low endpoint + one closure semi-check — two
    equi-join shuffles either way. The DEFAULT order is
    degree-orientation, rank(v) = (deg(v), v): every wedge pivots at its
    minimum-degree vertex, which provably bounds per-key join fan-out at
    O(sqrt(|E|)) — on a power-law graph the hubs (whose deg² id-oriented
    fan-out explodes) become wedge *endpoints*, never pivots. Costs one
    extra degree join against the node-sized degree table. `orient="id"`
    keeps the plain a < b < c enumeration — output-identical (each
    triangle has exactly one minimal vertex under either total order),
    retained as the test cross-check (tests/test_r7_operators.py) and
    for graphs already known hub-free. Wedge volume is Σ deg(deg-1)/2
    regardless — feed a weight-thresholded edge list (the
    `co_occurrence_edges(min_weight=...)` knob) to control it.

    Returns ONE row: (n_nodes, n_edges, n_wedges, n_triangles,
    global_cc_e6).
    """
    if orient not in ("degree", "id"):
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(_checkpoint)
    )
    deg = (
        und.select(F.col("a").alias("k"))
        .unionAll(und.select(F.col("b").alias("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    wedges = deg.agg(
        (F.sum(F.col("_d") * (F.col("_d") - 1)) / F.lit(2)).cast("long").alias("n_wedges"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    if orient == "degree":
        # orient each canonical edge from its (degree, id)-smaller endpoint
        # to the larger: two keyed joins against the node-sized degree
        # table, then carry the high endpoint's rank so the wedge pair
        # (x, y) below can be ordered under the SAME total order.
        ranked = (
            und.join(deg.select(F.col("k").alias("a"), F.col("_d").alias("_da")), "a")
            .join(deg.select(F.col("k").alias("b"), F.col("_d").alias("_db")), "b")
        )
        lo_first = (F.col("_da") < F.col("_db")) | (
            (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
        )
        oriented = ranked.select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lo_first, F.col("_db")).otherwise(F.col("_da")).alias("_dv"),
        ).transform(_checkpoint)
        w1 = oriented.select("u", F.col("v").alias("x"), F.col("_dv").alias("_dx"))
        w2 = oriented.select("u", F.col("v").alias("y"), F.col("_dv").alias("_dy"))
        wedge_pairs = w1.join(w2, on="u").filter(
            (F.col("_dx") < F.col("_dy"))
            | ((F.col("_dx") == F.col("_dy")) & (F.col("x") < F.col("y")))
        )
        closure = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
        tri = (
            wedge_pairs.join(closure, on=["x", "y"], how="left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        )
    else:
        e1 = und.select(F.col("a"), F.col("b"))
        e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
        e3 = und.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
        tri = (
            e1.join(e2, on="b")
            .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        )
    n_edges = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        wedges.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   F.floor(F.col("n_triangles") * F.lit(3_000_000) / F.col("n_wedges")))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("global_cc_e6"),
        )
    )


def top_co_occurrences(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """The "customers who bought X also bought Y" surface: per source
    item, the top-k co-occurring items by (weight desc, item asc). One
    src-keyed window over the already-aggregated edge list — the edge
    build (`co_occurrence_edges`) did all the corpus work; this is a
    per-key top-k on (items × avg-degree) rows, never on facts.

    Returns (item, reco, weight, rnk)."""
    w = Window.partitionBy(src).orderBy(F.desc(weight), F.asc(dst))
    return (
        edges.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col(src).alias("item"),
            F.col(dst).alias("reco"),
            F.col(weight).cast("long").alias("weight"),
            "rnk",
        )
    )

def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    until_stable: bool = False,
    max_rounds: int = 50,
    canonical: bool = False,
) -> DataFrame:
    """k-core peeling: iteratively delete nodes of degree < k (and their
    edges) — the standard "dense backbone" extractor that strips the
    long tail of weakly-attached items before community/embedding work
    (no reference counterpart; the co-purchase analog of corpus quality
    filtering).

    Contract: runs EXACTLY `rounds` peel passes (deterministic, so a
    DuckDB oracle replays it as `rounds` nested CTE levels — the same
    fixed-trajectory trick as pagerank's integer rounds). Production
    callers set `until_stable=True` to peel to the true k-core: the
    loop then stops when a pass deletes nothing (one COUNT scalar per
    pass over checkpointed data — the connected_components convergence
    pattern), bounded by `max_rounds`.

    Plan shape per pass: one degree aggregation (groupBy node, map-side
    combine) + two left-semi joins of the edge list against the ~node-
    sized survivor set — all shuffles on node keys, nothing collected.
    Edge frames are localCheckpoint-ed per pass to truncate lineage
    (CLUSTER.md: swap for reliable checkpoint on preemptible fleets).

    Returns (node, degree) for nodes alive after the final pass, with
    degree measured in the surviving subgraph.

    `canonical=True` declares the input already holds DISTINCT undirected
    pairs with src < dst (true for `co_occurrence_pairs` output — it's a
    groupBy aggregate) and skips the normalize+distinct shuffle over the
    full edge list; the first peel pass then reads the input directly.
    """
    if canonical:
        und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        und = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .transform(_checkpoint)
        )

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        )

    n_pass = max_rounds if until_stable else rounds
    cur = und
    for _ in range(n_pass):
        if until_stable and cur.isEmpty():
            break
        keep = _deg(cur).filter(F.col("degree") >= k).select("node")
        # LAZY per-pass checkpoint (r17): each pass's survivor frame is
        # still materialized exactly once (persist-on-first-compute; both
        # consumers — next pass's degree agg and its semi-joins — read the
        # same blocks), but fixed-round peels no longer pay one driver
        # round-trip per pass (sf0.1 A/B warm min: 4.0 s → 2.5 s). In
        # until_stable mode the per-pass count() materializes each pass
        # as before, so lineage stays truncated round-by-round there.
        nxt = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .transform(_checkpoint, eager=False)
        )
        if until_stable and nxt.count() == cur.count():
            cur = nxt
            break
        cur = nxt
    return _deg(cur).filter(F.col("degree") >= k)


def neighbor_jaccard(
    pairs: DataFrame,
    min_common: int = 2,
    max_center_degree: int | None = None,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Structural node similarity: Jaccard overlap of two items'
    co-purchase NEIGHBOR SETS — "substitutes look alike to the graph
    even if never bought together" (the complement of `also_bought`,
    which only sees direct edges).

    Every unordered node pair (x < y) sharing >= `min_common` neighbors
    gets jaccard_e6 = floor(1e6 · |N(x)∩N(y)| / |N(x)∪N(y)|) — integer
    output, so the oracle is exact. Common-neighbor counting is the
    wedge expansion: each center w emits its neighbor pairs via the
    scan-side HOF trick (`co_occurrence_pairs` on the adjacency lists —
    the graph is never self-joined on facts). Per-center fan-out is
    C(deg(w), 2): at 100 TB the knobs are (1) the weight threshold on
    the input pair frame and (2) `max_center_degree` — centers keep only
    their `max_center_degree` smallest neighbor ids (deterministic
    truncation; common counts become a documented lower bound through
    hub centers, the same audited-truncation trade as multimodal's
    hamming blocking). The cap is applied BEFORE the adjacency-list
    aggregation (row_number over the same shuffle key), so no executor
    ever materializes a hub's full neighbor array — degrees come from a
    plain count over the untruncated edges (map-side combining, no
    array). Uncapped calls are for graphs whose wedge volume is known
    linear (weight-thresholded inputs).

    Returns (item_x, item_y, common, degree_x, degree_y, jaccard_e6).
    """
    fwd = pairs.select(F.col(a_col).alias("n"), F.col(b_col).alias("m"))
    rev = pairs.select(F.col(b_col).alias("n"), F.col(a_col).alias("m"))
    und = fwd.unionAll(rev)
    deg = und.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    kept = und
    if max_center_degree is not None:
        w = Window.partitionBy("n").orderBy(F.asc("m"))
        kept = (
            und.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_center_degree)
            .drop("_rn")
        )
    adj = kept.groupBy("n").agg(F.sort_array(F.collect_set("m")).alias("_nb"))
    pair_structs = F.flatten(
        F.transform(
            F.col("_nb"),
            lambda x, i: F.transform(
                F.slice(F.col("_nb"), i + 2, F.size(F.col("_nb"))),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    common = (
        adj.filter(F.size("_nb") >= 2)
        .select(F.explode(pair_structs).alias("_p"))
        .groupBy(F.col("_p.x").alias("item_x"), F.col("_p.y").alias("item_y"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    return (
        common.join(deg.select(F.col("n").alias("item_x"), F.col("_deg").alias("degree_x")), "item_x")
        .join(deg.select(F.col("n").alias("item_y"), F.col("_deg").alias("degree_y")), "item_y")
        .select(
            "item_x",
            "item_y",
            "common",
            "degree_x",
            "degree_y",
            F.floor(
                F.col("common") * F.lit(1_000_000)
                / (F.col("degree_x") + F.col("degree_y") - F.col("common"))
            ).cast("long").alias("jaccard_e6"),
        )
    )


def deterministic_walks(
    pairs: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 2,
    a_col: str = "a",
    b_col: str = "b",
    broadcast_state: bool | None = None,
    max_broadcast_rows: int = 8_000_000,
) -> DataFrame:
    """First-order random walks over an undirected pair graph — the
    sampling stage of graph-embedding training (DeepWalk / node2vec with
    p=q=1): every node starts `walks_per_node` walks, each step moves to
    a uniformly-chosen neighbor. Walk corpora feed skip-gram training
    exactly like text does; this emits them at fact scale.

    "Random" is DETERMINISTIC and engine-portable (the repo's md5-twin
    technique): step t from node v on walk (start, wid) picks neighbor
    rank 1 + (md5_60bit(v:t:start:wid) mod deg(v)) in the ascending-id
    adjacency order. Both engines derive the identical 60-bit integer
    from the identical string, so a SQL oracle replays every step and
    the whole walk corpus value-hashes. No seeds, no RNG state, no
    driver involvement.

    Plan shape per step: TWO 1:1 equi-joins — state ⋈ degree (node-keyed,
    computes the pick rank scan-side) then state ⋈ adjacency on
    (node, rank) — so hub degree never fans out an intermediate (the
    rank is computed BEFORE touching the adjacency). State stays
    (nodes × walks_per_node) rows for the whole walk; adjacency/degree
    are built once. walk_len is a fixed unrolled trajectory (the
    pagerank/kmeans_train contract).

    Returns (start_node, walk_id, step, node): step 0 is the start
    itself, rows = nodes × walks_per_node × (walk_len + 1).
    """
    und = pairs.select(F.col(a_col).alias("n"), F.col(b_col).alias("m")).unionAll(
        pairs.select(F.col(b_col).alias("n"), F.col(a_col).alias("m"))
    )
    w = Window.partitionBy("n").orderBy(F.asc("m"))
    adj = und.withColumn("rn", F.row_number().over(w)).transform(_checkpoint, eager=False)
    # deg is joined once per step: checkpoint it or every step re-runs the
    # grouped count from the raw pair scan (one shuffle per step)
    deg = (
        und.groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .transform(_checkpoint, eager=False)
    )
    # Broadcast the STATE side of every per-step join (r17): the plan
    # audit showed the planner building the hash relation from ADJACENCY
    # (|edges| rows — collected to the driver and re-shipped per union
    # branch) while streaming the (nodes × walks_per_node)-row state.
    # With the frontier as build side the adjacency never leaves its
    # checkpointed blocks (the personalized_pagerank posture). Guarded
    # exactly like PPR: state rows are nodes × walks_per_node for the
    # whole walk, so one deg count (which also materializes the lazy
    # checkpoint) decides; pass True/False to override.
    # SIZING (r18 ADVICE): each step broadcasts TWO 3-column frames
    # (state: start_node/walk_id/cur and picked: the chosen successor),
    # i.e. ~3 longs per row twice per step — roughly 2× the (node, rank)
    # payload PPR's 8M default was calibrated for. At the default budget
    # plan driver/executor memory for ~2·24 bytes·rows per in-flight
    # step, or lower max_broadcast_rows when walks_per_node is large.
    if broadcast_state is None:
        broadcast_state = deg.count() * walks_per_node <= max_broadcast_rows
    nodes = deg.select("n")
    state = nodes.crossJoin(
        F.broadcast(
            nodes.sparkSession.range(walks_per_node).select(
                F.col("id").cast("long").alias("walk_id")
            )
        )
    ).select(F.col("n").alias("start_node"), "walk_id", F.col("n").alias("cur"))
    out = [
        state.select(
            "start_node", "walk_id", F.lit(0).alias("step"), F.col("cur").alias("node")
        )
    ]
    for t in range(1, walk_len + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("cur").cast("string"),
                        F.lit(str(t)),
                        F.col("start_node").cast("string"),
                        F.col("walk_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        picked = (
            (F.broadcast(state) if broadcast_state else state)
            .join(deg, state["cur"] == deg["n"])
            .select(
                "start_node",
                "walk_id",
                "cur",
                (F.lit(1).cast("long") + h % F.col("deg")).alias("_pick"),
            )
        )
        # each step's state is consumed twice (this step's union branch +
        # the next step's join) and the union therefore re-derives every
        # prefix per branch — but MEASURED, that recompute is cheaper than
        # materializing: the prefix is a chain of broadcast 1:1 joins that
        # pipelines inside one stage (A/B at sf0.1 min-of-3: no
        # checkpoints 3.7 s, deg-only 2.8 s, deg+state 5.5 s — state
        # barriers add 4 job round-trips that dwarf the join work). Keep
        # state un-materialized; deg above is the one worth pinning.
        state = (
            (F.broadcast(picked) if broadcast_state else picked)
            .join(
                adj,
                (picked["cur"] == adj["n"]) & (picked["_pick"] == adj["rn"]),
            )
            .select("start_node", "walk_id", F.col("m").alias("cur"))
        )
        out.append(
            state.select(
                "start_node", "walk_id", F.lit(t).alias("step"),
                F.col("cur").alias("node"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def degree_histogram(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    assume_distinct: bool = True,
) -> DataFrame:
    """Power-law degree audit — the log2-bucketed degree distribution of
    an undirected pair frame. THE pre-flight check before any wedge/join-
    shaped graph op: a heavy top bucket predicts hub fan-out blowups
    (triangle counting, neighbor-Jaccard), and its slope is the skew
    input to salting decisions.

    Bucket = MSB position of the degree (length of its binary
    representation - 1) — integer-exact in both engines; floor(log2(x))
    via floating log is NOT exact (log(8)/log(2) can evaluate below 3).

    Plan: one node-keyed count over the pair endpoints (map-side
    partials), then a ~30-group aggregation. Returns per bucket
    (deg_bucket, n_nodes, min_deg, max_deg, sum_deg).

    Precondition (r7 ADVICE, now a parameter instead of a parenthesis):
    degrees count DISTINCT neighbors, so `pairs` must hold each
    undirected (a, b) edge exactly once. `assume_distinct=True`
    (default) trusts the caller — correct for every producer in this
    repo (`co_occurrence_pairs` is a groupBy output) and skips a
    pairs-sized shuffle; pass False for multi-edge/weighted-duplicate
    frames and the (a, b) projection is deduplicated first, at the cost
    of that one exchange.
    """
    if not assume_distinct:
        pairs = pairs.select(a_col, b_col).distinct()
    nodes = pairs.select(F.col(a_col).alias("_n")).unionAll(
        pairs.select(F.col(b_col).alias("_n"))
    )
    deg = nodes.groupBy("_n").agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    bucket = (F.length(F.conv(F.col("_deg").cast("string"), 10, 2)) - 1).cast("int")
    return deg.groupBy(bucket.alias("deg_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("_deg").cast("long").alias("min_deg"),
        F.max("_deg").cast("long").alias("max_deg"),
        F.sum("_deg").cast("long").alias("sum_deg"),
    )


def personalized_pagerank(
    undirected_pairs: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    scale: int = 10**9,
    damp_num: int = 85,
    damp_den: int = 100,
    a_col: str = "a",
    b_col: str = "b",
    weight: str = "weight",
    seed_col: str = "node",
    broadcast_frontier: bool | None = None,
    max_broadcast_nodes: int = 8_000_000,
) -> DataFrame:
    """Personalized PageRank from a SEED SET — the seed-expansion
    primitive of data selection (grow a small trusted set into a ranked
    candidate pool along co-occurrence structure; the graph analog of
    DSIR's importance weighting). Teleport mass goes ONLY to seeds:

        r_{t+1}(v) = [v ∈ S]·(15·scale div 100)
                   + Σ_{u→v} (85·r_t(u)·w_uv) div (100·ow_u)

    — all integer arithmetic on non-negative values, so `div` (truncate)
    == floor in both engines and a SQL oracle unrolls the rounds exactly
    (the pagerank contract, restricted to seed teleport).

    Unlike global pagerank there is NO driver fast path and no full-node
    teleport join: the rank frame starts at |S| rows and only ever grows
    to the seeds' r-hop neighborhood — PPR is localized, which is the
    whole point at 100 TB (a few keyed joins over a sparse frontier, the
    full graph never materializes a dense rank vector). Per round: one
    src-keyed join of the sparse ranks against the loop-invariant
    (edge, out-weight) frame + one dst-keyed sum. Each round's frontier
    is consumed exactly ONCE (the next round's join), so intermediate
    rounds stay UN-materialized (Catalyst plans the loop as one job), and
    when the frontier is broadcast-hinted into each join the edge frame
    is scanned map-side and NEVER shuffles per round — the decisive cost
    at bench scale (8 s → ~2 s; without the hint the checkpointed edge
    frame re-shuffles its full width every round).

    THE GUARD DECIDES (r7 VERDICT #4 — a guard is code, not a
    docstring): with `broadcast_frontier=None` (default) the hint is
    applied iff the graph's total node count — a sound upper bound on
    EVERY round's frontier, since the frontier can only ever grow into
    the node set — fits `max_broadcast_nodes` (default 8M ≈ 128 MB of
    (node, rank) broadcast state). A dense graph whose frontier could
    approach the full node set therefore falls back to the shuffle path
    automatically, with zero per-round counting jobs (the bound is one
    up-front aggregate on the checkpointed edge frame, amortized with
    the int64-overflow guard below). Pass True/False to override.

    int64 contract guard (r7 ADVICE): per-round contributions compute
    `damp_num·rank·w` in BIGINT; rank is bounded by |S|·scale (teleport
    injects (1−d)·|S|·scale per round while damping multiplies by d, so
    total mass never exceeds the initial |S|·scale), hence the product
    is bounded by damp_num·|S|·scale·w_max. If that bound reaches 2^63
    Spark (non-ANSI) would wrap silently while the DuckDB oracle errors
    — so this function RAISES up front instead (the max_codebook
    precedent: refuse, don't diverge); rescale `scale` down or pre-cap
    weights to proceed. Only `ew` and the seed set (multi-consumer
    frames) are checkpointed; for round counts deep enough that plan
    depth hurts (>>10), checkpoint every few rounds.

    `seeds` is deduplicated and intersected with the graph's node set
    (teleporting to isolated nodes would inject mass the oracle's edge
    scan never sees). Returns (node, rank) for every node with nonzero
    rank after `rounds` rounds.
    """
    if rounds < 1:
        raise ValueError("personalized_pagerank: rounds must be >= 1")
    pairs = undirected_pairs.select(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b"),
        F.col(weight).cast("long").alias("_w"),
    ).filter(F.col("_w") > 0)
    edges = pairs.select(
        F.col("_a").alias("_src"), F.col("_b").alias("_dst"), "_w"
    ).unionAll(pairs.select(F.col("_b").alias("_src"), F.col("_a").alias("_dst"), "_w"))
    n_shuffle = int(
        undirected_pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # Early broadcast admission from a metadata-only upper bound (r17,
    # the _pagerank_pairs pattern): n_nodes ≤ 2·|pairs|, so a bare-scan
    # pair source whose doubled row count fits the budget proves the
    # frontier will broadcast — BEFORE ew is built. That matters because
    # the _src repartition below only serves the NON-broadcast path's
    # co-partitioned join; when the frontier broadcasts, ew is consumed
    # map-side and the full-edge-frame shuffle is pure waste.
    if broadcast_frontier is None and _count_is_metadata_only(undirected_pairs):
        if 2 * undirected_pairs.count() <= max_broadcast_nodes:
            broadcast_frontier = True
    ew = edges.join(
        edges.groupBy("_src").agg(F.sum("_w").alias("_ow")), "_src"
    )
    if broadcast_frontier is not True:
        ew = ew.repartition(n_shuffle, "_src")
    ew = ew.transform(_checkpoint, eager=False)
    s = (
        seeds.select(F.col(seed_col).alias("node")).distinct()
        .join(ew.select(F.col("_src").alias("node")).distinct(), "node", "left_semi")
        .transform(_checkpoint, eager=False)
    )
    # ONE fused guard job (r17: was four driver round-trips — eager ew
    # checkpoint, eager s checkpoint, ew stats collect, s.count). The
    # cross-joined 1-row aggregates materialize BOTH lazy checkpoints as
    # a side effect (each subtree computes its full frame), so the loop
    # below still reads persisted blocks every round. countDistinct(_src)
    # is only paid while the broadcast decision is still open.
    n_agg = (
        F.countDistinct("_src").alias("_n")
        if broadcast_frontier is None
        else F.lit(0).cast("long").alias("_n")
    )
    stats = (
        ew.agg(n_agg, F.max("_w").alias("_wm"))
        .crossJoin(s.agg(F.count(F.lit(1)).alias("_ns")))
        .collect()[0]
    )
    n_nodes = int(stats["_n"] or 0)
    w_max = int(stats["_wm"] or 1)
    n_seeds = int(stats["_ns"] or 0)
    if n_seeds and damp_num * n_seeds * scale * w_max >= 2**63:
        raise ValueError(
            "personalized_pagerank: damp_num*|S|*scale*w_max = "
            f"{damp_num * n_seeds * scale * w_max} reaches 2^63; per-edge "
            "contributions would wrap int64 in Spark (non-ANSI) while an "
            "ANSI oracle errors. Lower `scale` or pre-cap edge weights."
        )
    if broadcast_frontier is None:
        broadcast_frontier = n_nodes <= max_broadcast_nodes
    teleport = (damp_den - damp_num) * scale // damp_den
    ranks = s.select("node", F.lit(int(scale)).cast("long").alias("rank"))
    for _ in range(rounds):
        frontier = F.broadcast(ranks) if broadcast_frontier else ranks
        contribs = (
            frontier.join(ew, frontier["node"] == ew["_src"])
            .select(
                F.col("_dst").alias("node"),
                F.expr(
                    f"({damp_num} * rank * _w) div ({damp_den} * _ow)"
                ).cast("long").alias("_x"),
            )
        )
        ranks = (
            contribs.unionAll(
                s.select("node", F.lit(int(teleport)).cast("long").alias("_x"))
            )
            .groupBy("node")
            .agg(F.sum("_x").cast("long").alias("rank"))
        )
    return ranks
