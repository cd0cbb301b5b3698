"""Persisted ANN indexes (SURVEY.md §2d X3 — the production shape).

`ivf_topk` rebuilds its centroid sample and inverted file on every call;
that is the right shape for one-off queries, but a 100 TB corpus is
indexed ONCE and probed millions of times. This module splits the two
phases at a storage boundary:

- `build_ivf_index(corpus, path)` materializes the inverted file as
  parquet PARTITIONED BY centroid_id, plus the (tiny) centroid table.
  Partitioning by list id means a probe of `n_probe` centroids reads
  exactly those directories — partition pruning does the inverted-file
  "seek", no full-index scan.
- `ivf_query(spark, path, queries)` loads the index and runs the same
  probe/score plan as the inline operator (`similarity.ivf_probe_score`
  — literally the same code), so results are bit-identical to
  `ivf_topk` on the same corpus.

The index is storage-format-stable: unit vectors are float64 arrays, so
a parquet roundtrip is exact and index-vs-inline equality is testable
bit-for-bit (pinned in tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from commerce_data_pipeline_spark.operators.similarity import (
    auto_n_centroids,
    ivf_centroids,
    ivf_invert,
    ivf_probe_score,
    pq_codebooks,
    pq_encode,
    require_centroids,
    with_unit_vector,
)
from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint

# Root-level witness that EVERY file under inverted/ carries the `gen`
# column, so readers can skip schema merging. Written by build_ivf_index
# (a fresh build stamps gen uniformly); appends/compaction/rebalance all
# write gen, so the property is preserved by every mutation — only a
# pre-generation index (built before the upsert layout) lacks it, and
# those also lack the marker, keeping the mergeSchema fallback.
_GEN_UNIFORM_MARKER = "_GEN_UNIFORM"


def _read_inverted(spark: SparkSession, path: str) -> DataFrame:
    """Read `inverted/`, paying the footer-merging mergeSchema pass ONLY
    when the layout can actually be mixed (pre-gen base + gen appends).
    mergeSchema reads every parquet footer as a distributed job before
    the query plan even exists — on a production index that is millions
    of files per probe; one marker-existence check replaces it whenever
    the build stamped the layout uniform."""
    uniform = HadoopFS(spark, path).exists(join_path(path, _GEN_UNIFORM_MARKER))
    reader = spark.read if uniform else spark.read.option("mergeSchema", "true")
    return reader.parquet(join_path(path, "inverted"))


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
    quantize: bool | str = False,
    pq_m: int = 4,
    pq_ksub: int = 16,
    dim: int = 64,
) -> None:
    """Materialize the IVF index under `path` (any Hadoop-FS scheme):
    `inverted/` (partitioned by centroid_id) + `centroids/`.

    `quantize` selects the list storage format:
    - False: float64 unit vectors (exact probe scoring).
    - True / "int8": int8 codes + per-vector scale — 8× fewer list bytes.
      Probes reconstruct x ≈ q·scale scan-side.
    - "pq": IVF-PQ, the billion-vector production layout — each list
      entry is `pq_m` product-quantization codes (pq_m bytes at
      ksub ≤ 256 vs dim·8 exact); the tiny codebook table persists
      beside the centroids and queries reconstruct list vectors from a
      literal codebook expression at scan time. Coarse routing stays
      exact (centroids are never quantized); only list scoring is
      approximate (recall pinned in tests)."""
    spark = corpus.sparkSession
    fs = HadoopFS(spark, path)
    # an in-place rebuild withdraws the uniform-gen witness first and
    # re-stamps it only once every file under inverted/ is rewritten
    fs.delete(join_path(path, _GEN_UNIFORM_MARKER))
    u = with_unit_vector(corpus, vec_col, "unit")
    total = corpus_count if corpus_count is not None else corpus.count()
    if n_centroids is None:  # √N rule — see similarity.auto_n_centroids
        n_centroids = auto_n_centroids(total)
    step = max(1, total // n_centroids)
    centroids = require_centroids(ivf_centroids(u, step, n_centroids, id_col), id_col)
    inverted = ivf_invert(u, centroids, id_col)
    if quantize == "pq":
        cb = pq_codebooks(u, pq_m, pq_ksub, dim, id_col, corpus_count=total)
        enc = pq_encode(u, cb, pq_m, dim, id_col)
        inverted = inverted.select("neighbor_id", "centroid_id").join(
            enc.withColumnRenamed(id_col, "neighbor_id"), on="neighbor_id"
        )
        cb.write.mode("overwrite").parquet(join_path(path, "codebooks"))
    elif quantize:
        v = F.col("c_unit")
        raw = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
        sc = F.when(raw == 0.0, F.lit(1.0)).otherwise(raw)
        inverted = inverted.select(
            "neighbor_id",
            "centroid_id",
            sc.alias("scale"),
            F.transform(v, lambda x: F.floor(x / sc + F.lit(0.5)).cast("int")).alias("qvec"),
        )
    # static overwrite: the session default (dynamic) would replace only
    # the centroid partitions this build writes and keep a previous
    # build's other lists — stale rows, without gen on a pre-gen index
    (
        inverted.withColumn("gen", F.lit(0).cast("int"))
        .repartition("centroid_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("centroid_id")
        .parquet(join_path(path, "inverted"))
    )
    centroids.write.mode("overwrite").parquet(join_path(path, "centroids"))
    _set_gen(spark, path, 0)
    # persist the ACTUAL build-time routing width, not the requested
    # n_centroids: on sparse id spaces ivf_centroids yields fewer rows
    # than requested (require_centroids tolerates gaps), and a base
    # recorded too high would tell recommended_n_probe to SHRINK the
    # serving n_probe after a split (r14 review). The centroid table is
    # ≤ √N rows — the count is a build-time-only action.
    actual = spark.read.parquet(join_path(path, "centroids")).count()
    _set_centroid_meta(spark, path, int(actual))
    # gen was stamped uniformly on every inverted row above; witness it so
    # readers skip the per-file footer merge (see _read_inverted)
    fs.write_bytes(join_path(path, _GEN_UNIFORM_MARKER), b"")


def _sidecar_readable(fs: HadoopFS, leaf: str) -> bool:
    """True when a one-row parquet sidecar under `leaf` is present and
    complete. Prefers the _SUCCESS marker (the committer's completion
    witness), but falls back to the presence of any part file: a
    deployment that disables success markers
    (mapreduce.fileoutputcommitter.marksuccessfuljobs=false) would
    otherwise make every sidecar read silently fall back to its default
    forever — for centroid_meta that reproduces exactly the silent
    recall loss the sidecar exists to prevent (r14 ADVICE)."""
    if not fs.exists(leaf):
        return False
    if fs.exists(join_path(leaf, "_SUCCESS")):
        return True
    return any(
        e.startswith("part-") and not e.endswith(".crc")
        for e in fs.listdir(leaf)
    )


def _read_sidecar_int(
    spark: SparkSession, path: str, leaf_name: str, col: str, default: int
) -> int:
    """Validated read of a one-row integer parquet sidecar, with the
    trust split the r15 ADVICE asked for: a `_SUCCESS`-marked sidecar is
    the committer's completion witness — a failure there raises loudly
    (a corrupted committed sidecar is an operator problem, not a
    default). The part-file FALLBACK path (markers disabled via
    mapreduce.fileoutputcommitter.marksuccessfuljobs=false) has no such
    witness: a job that crashed after task commit but before job commit,
    or a torn overwrite, leaves part files that parse as garbage — so
    that path validates the read (exactly one row, the expected column,
    a non-null value) and degrades to `default` (legacy behavior) on a
    VALIDATION failure or a parquet parse/schema error — the torn-write
    signatures. A transient IO/permission failure on a markerless
    sidecar propagates instead (r17 ADVICE): silently returning the
    default there would e.g. reset centroid_meta's split factor and
    shrink the serving n_probe — the recall regression the sidecar
    exists to prevent — on a sidecar that is actually healthy."""
    leaf = join_path(path, leaf_name)
    fs = HadoopFS(spark, path)
    if not _sidecar_readable(fs, leaf):
        return default
    trusted = fs.exists(join_path(leaf, "_SUCCESS"))
    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.parquet(leaf).collect()
        if len(rows) != 1 or col not in rows[0].asDict() or rows[0][col] is None:
            raise ValueError(
                f"sidecar {leaf} torn: expected one non-null `{col}` row, "
                f"got {len(rows)} row(s) with fields "
                f"{list(rows[0].asDict()) if rows else []}"
            )
        return int(rows[0][col])
    except (ValueError, TypeError, AnalysisException):
        # ValueError/TypeError: the validation above / a non-integer
        # value; AnalysisException: unreadable path or schema mismatch
        # — all torn-write shapes. Anything else (IO, permissions,
        # executor loss) is transient and must surface.
        if trusted:
            raise
        return default
    except Exception as e:
        # corrupt-footer reads surface as JVM exceptions at collect time;
        # match the parquet-corruption signatures only — a generic IO or
        # permission failure still propagates
        if trusted or not _is_torn_parquet_error(e):
            raise
        return default


def _is_torn_parquet_error(e: Exception) -> bool:
    """True only for the parquet-corruption signatures (torn sidecar
    writes). Classified on the JAVA CAUSE CHAIN — class names and each
    cause's OWN message — never on str(e): a Py4JJavaError's string
    embeds the full Java stack trace, so a TRANSIENT executor/IO failure
    that merely passes through parquet footer-reading frames
    (ParquetFileReader.readFooter) would contain 'parquet'+'footer' and
    silently degrade a healthy markerless sidecar to its default —
    exactly the split-factor/n_probe reset the fallback must never take
    on a live index (r18 ADVICE)."""
    je = getattr(e, "java_exception", None)
    if je is not None:
        cur, depth = je, 0
        while cur is not None and depth < 8:
            try:
                cls = (cur.getClass().getName() or "").lower()
                msg = (cur.getMessage() or "").lower()
            except Exception:  # pragma: no cover - py4j gateway hiccup
                return False
            if "parquetdecodingexception" in cls or "parquetcryptoexception" in cls:
                return True
            if "is not a parquet file" in msg or (
                "parquet" in msg and ("footer" in msg or "corrupt" in msg)
            ):
                return True
            try:
                cur, depth = cur.getCause(), depth + 1
            except Exception:  # pragma: no cover
                return False
        return False
    # non-py4j exception: no embedded trace, but still bound the match to
    # the first line in case a wrapper prepends one
    first = str(e).splitlines()[0].lower() if str(e) else ""
    return "parquet" in first and (
        "footer" in first or "not a parquet file" in first or "corrupt" in first
    )


def current_gen(spark: SparkSession, path: str) -> int:
    """Monotonic append-generation counter for the index at `path`.

    Generations make tombstones REPLACE-safe: a tombstone records
    (neighbor_id, upto_gen) and kills only list rows with gen <= upto_gen,
    so `upsert` = tombstone-at-current-gen + append-at-next-gen never
    deletes the row it just wrote. Stored as a one-row parquet under
    `gen_meta/` (tiny, rewritten per append — never derived by scanning
    the inverted file, which at 100 TB would be a full-index pass).
    Indexes built before generations existed read as gen 0."""
    return _read_sidecar_int(spark, path, "gen_meta", "gen", default=0)


def _set_gen(spark: SparkSession, path: str, gen: int) -> None:
    local_frame(spark, [(int(gen),)], "gen int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(join_path(path, "gen_meta"))


def _set_centroid_meta(spark: SparkSession, path: str, base_n_centroids: int) -> None:
    """One-row sidecar under `centroid_meta/`: the ACTUAL centroid count
    the index was BUILT with. Rebalance splits grow the routing table,
    and a serving config that keeps its n_probe fixed silently loses
    recall with every split (the r13 STRESS finding: recall@5 halved
    after an 8× split at fixed n_probe=4) — current/base is exactly the
    factor a serving n_probe must scale by to keep covering the same
    corpus fraction (`recommended_n_probe`). Only the BASE persists:
    the current width is always derived from the live centroid table
    (≤ √N rows), so maintenance passes have no meta write to crash
    around and no stale-counter window (r14 review — the first design
    wrote the current count post-swap, leaving a permanently stale
    sidecar if the driver died between the two)."""
    local_frame(
        spark,
        [(int(base_n_centroids),)], "base_n_centroids int"
    ).coalesce(1).write.mode("overwrite").parquet(join_path(path, "centroid_meta"))


def centroid_counts(spark: SparkSession, path: str) -> tuple[int, int]:
    """(current, base) centroid counts for the index at `path`. Current
    always comes from the live (tiny) centroid table; base from the
    sidecar. Indexes built before the sidecar existed report (n, n) —
    factor 1, the pre-rebalance behavior."""
    cur = int(spark.read.parquet(join_path(path, "centroids")).count())
    base = _read_sidecar_int(
        spark, path, "centroid_meta", "base_n_centroids", default=cur
    )
    return cur, base


def recommended_n_probe(spark: SparkSession, path: str, base_n_probe: int) -> int:
    """Scale a serving n_probe to the index's CURRENT routing width:
    n_probe' = ceil(base_n_probe · current_centroids / base_centroids).

    The rule keeps the probed corpus FRACTION constant as maintenance
    splits refine the routing — each split spreads the same members over
    proportionally more, smaller lists, so a fixed probe count covers a
    shrinking fraction (the silent recall loss `ivf_recall_audit`
    measures). Serving layers should read this after every maintenance
    window instead of pinning a literal n_probe."""
    cur, base = centroid_counts(spark, path)
    return -(-int(base_n_probe) * cur // base)  # ceil division


def _read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    leaf = join_path(path, "tombstones")
    fs = HadoopFS(spark, path)
    if not fs.exists(leaf) or not fs.listdir(leaf):
        return None
    return spark.read.parquet(leaf)


# Above this many pending tombstone ids the anti-filter joins by shuffle
# instead of broadcast: a takedown batch is normally bounded between
# compactions (broadcast is the fast path), but nothing enforces that —
# a delete of 10^8 ids must not OOM every executor with a broadcast it
# never needed (r12 ADVICE).
TOMBSTONE_BROADCAST_LIMIT = 2_000_000


# Tombstone directories at or under this many bytes skip the sizing job
# entirely (r13 ADVICE: `tomb.count()` is a real Spark job — Spark does
# NOT guarantee a footer-only count for a DataFrame read — and it ran on
# EVERY ivf_query call). Byte→row bound: this layout's tombstones are
# written exclusively by delete_from_ivf_index through Spark's default
# parquet v1 writer (PLAIN/RLE-dict int64 — ≥1 byte per value in
# practice, usually 8), so 64 KiB bounds the set far under the 2M-id
# broadcast limit. Theoretical worst case (an external v2 writer
# DELTA_BINARY_PACKing constant-stride ids at well under a bit each):
# a 64 KiB dir could hide a few million ids, whose max-upto_gen
# aggregate still broadcasts at low tens of MB — a bounded overshoot of
# the guard's margin, never an OOM cliff (r14 review).
TOMBSTONE_SMALL_BYTES = 64 * 1024


def _tombstone_agg(spark: SparkSession, path: str):
    """(max-upto_gen-per-id aggregate, sized-join handle) or None.

    The returned frame is pre-wrapped for joining: broadcast when the
    tombstone set is provably small, plain (shuffle) otherwise. Sizing
    is two-tier: a directory whose byte footprint is trivially small
    (TOMBSTONE_SMALL_BYTES, with bytes·8 still under the id limit)
    broadcasts on the filesystem size alone — getContentSummary is a
    listing, not a Spark job, so the normal between-compactions serving
    path runs NO job here. Above that, a real `tomb.count()` job runs
    (a cheap columnless scan, paid only by oversized takedown batches).
    Both tiers use an UPPER bound on distinct ids, so the decision can
    only demote a broadcastable set to the shuffle join, never broadcast
    one that is too big. The aggregate itself stays lazy and executes
    once, inside the consumer's join."""
    tomb = _read_tombstones(spark, path)
    if tomb is None:
        return None
    t = tomb.groupBy("neighbor_id").agg(F.max("upto_gen").alias("_upto"))
    fs = HadoopFS(spark, path)
    nbytes = fs.size(join_path(path, "tombstones"))
    # id upper bound in ID UNITS (r14 ADVICE — the first cut compared
    # nbytes against the id-count limit directly, a mixed-unit guard):
    # under this layout's ≥1-byte-per-id floor (see TOMBSTONE_SMALL_BYTES)
    # a directory of nbytes holds at most nbytes ids, so the bound is
    # conservative — it can only demote a broadcastable set to the
    # shuffle join, never broadcast one that is too big. Keeping the
    # comparison in id units means a deployment that LOWERS
    # TOMBSTONE_BROADCAST_LIMIT below the byte threshold gets exactly
    # the id semantics it asked for.
    ids_upper_bound = nbytes
    if nbytes <= TOMBSTONE_SMALL_BYTES and ids_upper_bound <= TOMBSTONE_BROADCAST_LIMIT:
        return F.broadcast(t)
    if tomb.count() <= TOMBSTONE_BROADCAST_LIMIT:
        return F.broadcast(t)
    return t


def delete_from_ivf_index(
    ids: DataFrame, path: str, id_col: str = "vec_id"
) -> None:
    """Tombstone-delete: append (neighbor_id, upto_gen=current_gen) rows —
    O(|ids|) write, NO inverted-list partition is touched. Queries
    anti-filter against the (broadcast-small between compactions)
    tombstone set; `compact_ivf_index` folds them into the lists. This is
    the takedown/dedup-removal path a live 100 TB corpus needs at
    interactive cost; ids not present in the index are harmless no-ops."""
    spark = ids.sparkSession
    g = current_gen(spark, path)
    (
        ids.select(
            F.col(id_col).cast("long").alias("neighbor_id"),
            F.lit(g).cast("int").alias("upto_gen"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(join_path(path, "tombstones"))
    )


def upsert_into_ivf_index(
    corpus_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Upsert = tombstone any existing version of these ids at the CURRENT
    generation, then append fresh assignments at the NEXT generation —
    the LSM discipline: old versions die, the new rows survive the very
    tombstones that killed them (gen > upto_gen). Only the touched
    centroid partitions gain files; nothing is rewritten until
    `compact_ivf_index`. Per-id history is never needed: the max
    upto_gen per id decides visibility."""
    spark = corpus_new.sparkSession
    g = current_gen(spark, path)
    delete_from_ivf_index(corpus_new.select(id_col), path, id_col)
    append_to_ivf_index(corpus_new, path, id_col, vec_col, _gen=g + 1)
    _set_gen(spark, path, g + 1)


def compact_ivf_index(spark: SparkSession, path: str) -> None:
    """Fold the tombstone set into the inverted file and clear it —
    query results are bit-identical before and after (pinned in tests).

    Partition-level surgery, not a rebuild: only centroid partitions that
    actually CONTAIN a tombstoned row are rewritten (dynamic partition
    overwrite); partitions whose every row died are deleted explicitly
    (dynamic overwrite writes nothing for an empty partition, which would
    otherwise resurrect the old files — the silent-resurface hazard).
    Centroids, codebooks, and untouched list partitions are never read
    twice or rewritten, so compaction cost scales with the tombstoned
    fraction, not the index size.

    Maintenance posture (shared by every mutator in this module):
    SINGLE WRITER, offline with respect to other maintenance — like a
    FAISS/Lucene segment merge. The survivor set is eagerly materialized
    (checkpoint) BEFORE the overwrite, so the rewrite never depends on
    lazily re-reading the very files it is replacing (r12 ADVICE:
    self-overwrite through dynamic-partition staging is version-fragile);
    concurrent QUERIES during the dynamic overwrite see per-partition
    commits — bounded staleness, never a torn list."""
    tomb = _tombstone_agg(spark, path)
    if tomb is None:
        return
    inv_leaf = join_path(path, "inverted")
    inverted = _read_inverted(spark, path)
    if "gen" not in inverted.columns:
        inverted = inverted.withColumn("gen", F.lit(0))
    inverted = inverted.withColumn("gen", F.coalesce(F.col("gen"), F.lit(0)))
    joined = inverted.join(tomb, on="neighbor_id", how="left")
    # bounded collect: distinct centroid ids ≤ n_centroids (≈ √N — the
    # ≤256-codebook precedent, never a data-sized collect); the isin
    # filters below push to the PARTITION column, so both the survivor
    # scan and the rewrite touch only these directories
    touched = [
        r["centroid_id"]
        for r in joined.filter(F.col("_upto").isNotNull())
        .filter(F.col("gen") <= F.col("_upto"))
        .select("centroid_id")
        .distinct()
        .collect()
    ]
    fs = HadoopFS(spark, path)
    if touched:
        survivors = (
            joined.filter(F.col("centroid_id").isin(touched))
            .filter(F.col("_upto").isNull() | (F.col("gen") > F.col("_upto")))
            .drop("_upto")
            # EAGER materialization (bounded by the tombstoned fraction):
            # the overwrite below replaces the files this plan scans —
            # survivors must exist as blocks before the first file dies
            .transform(_checkpoint)
        )
        kept = {
            r["centroid_id"]
            for r in survivors.select("centroid_id").distinct().collect()
        }
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            if kept:
                (
                    survivors.filter(F.col("centroid_id").isin(list(kept)))
                    .repartition("centroid_id")
                    .write.mode("overwrite")
                    .partitionBy("centroid_id")
                    .parquet(inv_leaf)
                )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        for cid in set(touched) - kept:
            fs.delete(join_path(inv_leaf, f"centroid_id={cid}"))
    fs.delete(join_path(path, "tombstones"))


def _sweep_unroutable(spark: SparkSession, path: str) -> list[int]:
    """Delete every inverted partition whose centroid id is absent from
    the live routing table — unroutable ⇒ provably dead. This is crash
    debris from a prior rebalance attempt (appended-but-never-promoted
    new lists, retired-but-never-deleted old lists) or, on the gated
    veto path, the just-demoted sub-lists after the pre-split routing is
    restored. Bounded work: one listing + one collect of the ≤ √N-row
    centroid table. Returns the swept centroid ids."""
    fs = HadoopFS(spark, path)
    inv_leaf = join_path(path, "inverted")
    routable = {
        int(r["centroid_id"])
        for r in spark.read.parquet(join_path(path, "centroids"))
        .select("centroid_id")
        .collect()
    }
    swept = []
    for entry in fs.listdir(inv_leaf):
        if entry.startswith("centroid_id="):
            cid = int(entry.split("=", 1)[1])
            if cid not in routable:
                fs.delete(join_path(inv_leaf, entry))
                swept.append(cid)
    return swept


def rebalance_ivf_index(
    spark: SparkSession,
    path: str,
    max_list_size: int,
    n_splits: int = 2,
    _defer_cleanup: bool = False,
) -> list[int]:
    """Drift REMEDIATION for a long-lived IVF index: split every inverted
    list larger than `max_list_size` into `n_splits` sub-lists with
    locally re-sampled centroids — the FAISS-style answer to appended
    data piling onto a few lists (`ivf_assignment_profile` is the
    signal, this is the fix; a full rebuild stops being an option long
    before the index stops growing).

    Deterministic and engine-replayable end to end:
    - sub-centroid SEEDS: each oversized list's members sorted by
      neighbor_id, seeds at evenly spaced positions
      1 + j·size div n_splits (the ivf_centroids id-stride rule applied
      within the list);
    - new centroid ids: max existing id + 1, assigned in (old list id,
      seed position) order;
    - members REASSIGN LOCALLY: argmax dot against their own list's new
      sub-centroids only (ties → smaller centroid_id) — routing is
      refined where it is dense, no global reassignment, untouched
      lists are never read twice or rewritten.

    Physical work scales with the OVERSIZED fraction only: the split
    lists' members are appended under the new centroid ids, the (tiny)
    centroid table is swapped, and the retired partitions are deleted.
    Pending tombstones are folded first (compaction), so splits never
    copy dead rows.

    Crash consistency (r12 ADVICE): steps are ordered so every crash
    window leaves a READABLE index — (0) every inverted partition whose
    centroid id is NOT in the routing table is deleted: unroutable ⇒
    provably dead, and such partitions are exactly what ANY crashed
    prior attempt leaves behind (appended-but-never-promoted new lists
    from a crash before the routing swap, retired-but-never-deleted old
    lists from a crash after it — without this sweep the latter re-enter
    the size census and a retry would re-split them into ADDITIONAL
    routable lists, duplicating every member in top-k results);
    (1) reassigned members are APPENDED under the new ids — unroutable
    until routing changes, so readers still see the old lists; (2) the
    centroid table is swapped via write-tmp → rename-aside — after the
    swap, probes route ONLY to the new sub-lists and the retired
    partitions become unreachable (never a duplicated-member read);
    (3) the retired partition dirs are deleted last (pure space
    reclamation). The only non-atomic instant is the centroid-table
    rename pair (copy+delete on s3a) — same posture as every mutator
    here: SINGLE WRITER, offline maintenance pass. Queries need no change — with n_probe ≥ the new centroid
    count, results are BIT-IDENTICAL to pre-split (same score set),
    pinned in tests. Float-vector lists only (quantized lists would
    need reconstructed seeds — use the float master index for
    maintenance, the quantized one for serving). Returns the list of
    split (retired) centroid ids.

    `_defer_cleanup=True` (the gated caller) stops after step (2): the
    retired partitions stay on disk (unroutable under the new routing —
    invisible to probes) and the centroid table's rename-aside copy
    stays under `._rebal_old`. The caller then either
    `_commit_deferred_rebalance` (delete the aside copy, then the
    retired lists — copy-first so a crash never leaves a copy whose
    restore would route to partially-deleted lists)
    or `_rollback_deferred_rebalance` (restore the pre-split routing and
    sweep the new sub-lists). While deferred, `check_no_pending_swap`
    refuses every other maintenance entry — single-writer, and a crash
    in the window surfaces as the standard pending-swap recovery."""
    inv_leaf = join_path(path, "inverted")
    fs = HadoopFS(spark, path)
    cent_leaf = join_path(path, "centroids").rstrip("/")
    cent_tmp = cent_leaf + "._rebal_tmp"
    cent_old = cent_leaf + "._rebal_old"
    check_no_pending_swap(spark, path, what="rebalance_ivf_index")
    # (0) sweep unroutable partitions (see Crash consistency above): any
    # inverted dir whose centroid id is absent from the routing table is
    # dead — either crash debris from a prior attempt or a retired list
    # whose delete never ran.
    _sweep_unroutable(spark, path)
    compact_ivf_index(spark, path)  # fold pending deletes first
    inverted = _read_inverted(spark, path)
    if "c_unit" not in inverted.columns:
        raise ValueError(
            "rebalance_ivf_index: float-vector lists required (quantized "
            "layouts reconstruct approximations — maintain the float "
            "master index and re-encode)"
        )
    # bounded collect: one row per centroid (≤ √N), not per list entry
    sizes = inverted.groupBy("centroid_id").count()
    oversized = sorted(
        r["centroid_id"]
        for r in sizes.filter(F.col("count") > max_list_size).collect()
    )
    if not oversized:
        return []
    centroids = spark.read.parquet(join_path(path, "centroids"))
    next_id = centroids.agg(F.max("centroid_id")).collect()[0][0] + 1

    from pyspark.sql import Window

    members = inverted.filter(F.col("centroid_id").isin(oversized))
    w = Window.partitionBy("centroid_id").orderBy("neighbor_id")
    ranked = members.withColumn("_pos", F.row_number().over(w)).withColumn(
        "_sz", F.count(F.lit(1)).over(Window.partitionBy("centroid_id"))
    )
    # seed rows: evenly spaced positions within each oversized list
    seed_pos = F.array(
        *[F.lit(1) + (F.lit(j) * F.col("_sz")) / F.lit(n_splits) for j in range(n_splits)]
    )
    seeds = (
        ranked.filter(
            F.exists(seed_pos, lambda p: F.floor(p).cast("int") == F.col("_pos"))
        )
        .withColumn(
            "_j", F.row_number().over(Window.partitionBy("centroid_id").orderBy("_pos")) - 1
        )
        .select(
            F.col("centroid_id").alias("_old"),
            F.col("_j"),
            F.col("c_unit").alias("c_vec"),
        )
    )
    # new ids in (old list id, seed position) order — deterministic
    off_entries = []
    for i, cid in enumerate(oversized):
        off_entries.append(F.lit(int(cid)))
        off_entries.append(F.lit(int(i * n_splits)))
    off_map = F.create_map(*off_entries)
    new_cents = seeds.select(
        (F.lit(int(next_id)) + F.element_at(off_map, F.col("_old")) + F.col("_j"))
        .cast("int")
        .alias("centroid_id"),
        "c_vec",
        "_old",
    ).transform(_checkpoint)
    # local reassignment: argmax among the member's OWN list's seeds
    from commerce_data_pipeline_spark.operators.similarity import _dot

    if "gen" not in members.columns:
        members = members.withColumn("gen", F.lit(0))
    members = members.withColumn("gen", F.coalesce(F.col("gen"), F.lit(0)))
    seeds_keyed = new_cents.select(
        F.col("centroid_id").alias("_new"),
        F.col("c_vec"),
        F.col("_old").alias("centroid_id"),
    )
    reassigned = (
        members.join(F.broadcast(seeds_keyed), on="centroid_id")
        .withColumn("_sim", _dot(F.col("c_unit"), F.col("c_vec")))
        .groupBy("neighbor_id")
        .agg(
            F.max_by("_new", F.struct(F.col("_sim"), (-F.col("_new")).alias("_t")))
            .alias("new_cid"),
            F.first("c_unit").alias("c_unit"),
            F.first("gen").alias("gen"),
        )
        .select(
            "neighbor_id",
            F.col("new_cid").alias("centroid_id"),
            "c_unit",
            "gen",
        )
    )
    # (1) append the reassigned members — unroutable until step (2)
    # (debris under the planned new ids was removed by the step-(0)
    # sweep: those ids are above the routing table's max by construction)
    (
        reassigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(inv_leaf)
    )
    # (2) promote the new routing: rename-aside swap of the centroid
    # table (driver-tiny by contract); from here probes see ONLY the
    # refined sub-lists, so the retired partitions are unreachable
    new_table = centroids.filter(~F.col("centroid_id").isin(oversized)).unionByName(
        new_cents.select("centroid_id", "c_vec")
    )
    rows = new_table.collect()  # centroid table is driver-tiny by contract
    from commerce_data_pipeline_spark.sources.hadoopfs import begin_swap, swap_dir

    begin_swap(spark, cent_leaf, cent_tmp, cent_old, what="rebalance_ivf_index")
    local_frame(spark, rows, new_table.schema).write.mode("overwrite").parquet(
        cent_tmp
    )
    swap_dir(
        spark, cent_leaf, cent_tmp, cent_old,
        what="rebalance_ivf_index", keep_old=_defer_cleanup,
    )
    # the new routing width needs NO meta write: recommended_n_probe
    # derives the current count from the live centroid table just
    # swapped in (only the build-time base persists — see
    # _set_centroid_meta on why maintenance must not own a counter)
    if _defer_cleanup:
        # the retired partitions are unroutable under the promoted table
        # (invisible to probes) but still intact — together with the
        # ._rebal_old routing copy they ARE the pre-split index, so the
        # gated caller can veto by restoring instead of raising over an
        # already-destroyed state
        return oversized
    # (3) reclaim the retired (now-unreachable) partitions
    for cid in oversized:
        fs.delete(join_path(inv_leaf, f"centroid_id={cid}"))
    return oversized


def _commit_deferred_rebalance(
    spark: SparkSession, path: str, retired: list[int]
) -> None:
    """Finish a `_defer_cleanup` rebalance after the gate admits it:
    remove the centroid table's rename-aside copy FIRST, then reclaim
    the retired (unroutable) partitions. The order is load-bearing
    (r15 ADVICE): while `._rebal_old` exists, EVERY retired partition is
    still intact, so the pending-swap recovery guidance ("rename the
    copy back to roll back") is unconditionally safe — the first design
    deleted the copy LAST, and a crash mid-way left a copy whose rename
    would restore a pre-split routing over partially-deleted lists
    (silent recall loss, indistinguishable from a safe deferred-window
    crash). With delete-first, a crash after the copy delete leaves only
    unroutable retired partitions — exactly the debris the next
    maintenance pass's step-(0) `_sweep_unroutable` self-heals, with no
    ambiguous pending-swap state."""
    fs = HadoopFS(spark, path)
    cent_old = join_path(path, "centroids").rstrip("/") + "._rebal_old"
    fs.delete(cent_old)
    if fs.exists(cent_old):
        # delete returns a boolean; a surviving copy must stop the
        # commit HERE — deleting any retired list while the copy exists
        # would make its "rename back to roll back" recovery silently
        # wrong (the exact hazard the copy-first order eliminates). The
        # index stays in the deferred window: retry, or resolve with
        # the maintenance CLI's index-recover.
        raise RuntimeError(
            f"_commit_deferred_rebalance: could not remove {cent_old} — "
            "refusing to reclaim retired lists while the rename-aside "
            "routing copy survives; retry the commit (index-recover "
            "--action commit)"
        )
    inv_leaf = join_path(path, "inverted")
    for cid in retired:
        fs.delete(join_path(inv_leaf, f"centroid_id={cid}"))


def _rollback_deferred_rebalance(spark: SparkSession, path: str) -> None:
    """Veto a `_defer_cleanup` rebalance: restore the pre-split centroid
    table from the rename-aside copy (rollback_swap: delete the promoted
    table, rename the copy back), then sweep the now-unroutable new
    sub-lists. The retired lists were never deleted, so after this the
    index is BIT-IDENTICAL to its pre-split state (pinned in
    tests/test_similarity.py). A crash between the two rollback renames
    leaves only `._rebal_old` — the pending-swap state every maintenance
    entrypoint detects with recovery guidance."""
    from commerce_data_pipeline_spark.sources.hadoopfs import rollback_swap

    cent_leaf = join_path(path, "centroids").rstrip("/")
    rollback_swap(
        spark, cent_leaf, cent_leaf + "._rebal_old",
        what="rebalance_with_gate veto",
    )
    _sweep_unroutable(spark, path)


def check_no_pending_swap(spark: SparkSession, path: str, what: str) -> None:
    """Entry guard (r13 ADVICE, hoisted for every maintenance entrypoint
    in r14 review): a crash between swap_dir's two renames leaves the
    only complete centroid table under ._rebal_old and no live
    centroids dir — without this check a retry (or a pre-split recall
    audit, which reads the centroid table FIRST on the gated default
    path) dies with a raw "path does not exist" parquet error instead
    of begin_swap's recovery guidance."""
    cent_old = join_path(path, "centroids").rstrip("/") + "._rebal_old"
    if HadoopFS(spark, path).exists(cent_old):
        raise RuntimeError(
            f"{what}: {cent_old} already exists — recover or remove the "
            "previous swap's rename-aside copy first. Either a prior "
            "rebalance crashed mid-swap (that copy may be the only "
            "complete centroid table) or a gated pass crashed in its "
            "deferred window (the copy is the pre-split routing and the "
            "live table the post-split one). While this copy exists, no "
            "retired list has been deleted (commit removes the copy "
            "FIRST), so renaming the copy back over the live table is a "
            "safe rollback — UNLESS a commit's copy delete already "
            "failed partway (the copy may be torn; after a failed "
            "commit delete, retry the commit instead of rolling back). "
            "Deleting the copy commits the split. Either way the next "
            "maintenance pass sweeps the unroutable leftover lists. "
            "Executable form: the maintenance CLI's `index-recover "
            "--path ... --action rollback|commit` (recover_pending_swap; "
            "its rollback verifies the copy is readable before demoting "
            "the live table)."
        )


def recover_pending_swap(
    spark: SparkSession, path: str, action: str
) -> dict:
    """Operator-facing recovery for the pending-swap state
    `check_no_pending_swap` refuses on — the executable form of its
    guidance (r16: added once the copy-first commit order made BOTH
    choices unconditionally safe while `._rebal_old` exists, because no
    retired list has been deleted yet).

    States detected:
    - `clean`: no rename-aside copy — nothing pending; the unroutable
      sweep still runs (reclaims debris from a commit that crashed
      AFTER its copy delete) and its ids are reported.
    - `deferred_window`: copy + live table both present (a gated pass
      crashed between the routing swap and its commit/rollback, or a
      commit crashed before its first delete). `rollback` restores the
      pre-split routing bit-identically; `commit` deletes the copy and
      sweeps the now-unroutable retired lists (recovery needs no
      retired-id list — unroutable ⇒ retired, by construction).
    - `mid_swap`: copy present, NO live table (a crash between
      swap_dir's two renames — the copy is the only complete routing).
      Only `rollback` is possible; `commit` raises, there is no
      promoted routing to commit.

    Returns {state, action, swept} — `swept` is the sorted list of
    inverted-partition centroid ids reclaimed by the post-action sweep.
    `commit` verifies the copy is actually gone before sweeping (a
    partially-failed object-store delete raises with nothing reclaimed
    — retry, or roll back). Single-writer like every mutator here: run
    it INSTEAD of, never beside, another maintenance pass."""
    if action not in ("rollback", "commit"):
        raise ValueError(
            f"recover_pending_swap: action must be 'rollback' or "
            f"'commit', got {action!r}"
        )
    from commerce_data_pipeline_spark.sources.hadoopfs import rollback_swap

    cent_leaf = join_path(path, "centroids").rstrip("/")
    cent_old = cent_leaf + "._rebal_old"
    fs = HadoopFS(spark, path)
    if not fs.exists(cent_old):
        return {
            "state": "clean",
            "action": "none",
            "swept": sorted(_sweep_unroutable(spark, path)),
        }
    state = "deferred_window" if fs.exists(cent_leaf) else "mid_swap"
    if action == "commit":
        if state == "mid_swap":
            raise RuntimeError(
                f"recover_pending_swap: {cent_old} is the only complete "
                "centroid table (crash between the swap renames) — there "
                "is no promoted routing to commit; recover with "
                "action='rollback'"
            )
        fs.delete(cent_old)
        if fs.exists(cent_old):
            # same guard as _commit_deferred_rebalance: never sweep
            # retired lists while the routing copy survives. r17 ADVICE:
            # recommend COMMIT-RETRY ONLY — a partially-failed delete may
            # have torn the copy itself, and a rollback would demote the
            # complete live table onto it (silent data loss).
            raise RuntimeError(
                f"recover_pending_swap: could not remove {cent_old} — "
                "refusing to sweep while the rename-aside routing copy "
                "survives. Retry the commit; do NOT roll back after a "
                "failed copy delete (the delete may have torn the copy, "
                "and rollback would replace the complete live table "
                "with it)."
            )
    else:
        if state == "deferred_window":
            # Rollback DEMOTES the complete live table, so before
            # deleting it verify the copy is at least a readable,
            # non-empty routing table (r17 ADVICE: a partially-failed
            # commit delete can tear the copy; this catches a copy torn
            # past its footer/last part-file — a copy missing only some
            # part files is undetectable here, which is why the commit
            # path above refuses to hand such a state to rollback).
            try:
                if spark.read.parquet(cent_old).limit(1).count() < 1:
                    raise ValueError("zero rows")
            except Exception as e:
                raise RuntimeError(
                    f"recover_pending_swap: {cent_old} is not a readable "
                    f"non-empty routing table ({e!r}) — refusing to "
                    "demote the live centroid table onto a torn copy; "
                    "recover with action='commit' instead"
                ) from e
        rollback_swap(spark, cent_leaf, cent_old, what="recover_pending_swap")
    return {
        "state": state,
        "action": action,
        "swept": sorted(_sweep_unroutable(spark, path)),
    }


def _oversized_lists(spark: SparkSession, path: str, max_list_size: int) -> list[int]:
    """Centroid ids whose inverted list exceeds `max_list_size` — the
    cheap size census (one groupBy-count over the inverted file, one
    ≤ √N-row collect) shared by rebalance and its gated wrapper, so a
    steady-state no-op maintenance pass never pays a recall audit."""
    inverted = _read_inverted(spark, path)
    sizes = inverted.groupBy("centroid_id").count()
    return sorted(
        r["centroid_id"]
        for r in sizes.filter(F.col("count") > max_list_size).collect()
    )


class RecallRegression(RuntimeError):
    """Raised by `rebalance_with_gate` when a split drops mean recall@k at
    the fixed serving n_probe by more than the budget. The veto is REAL
    (r14 VERDICT): when this raises, the split has been ROLLED BACK —
    the rename-aside centroid copy is restored and the new sub-lists
    swept, so the index serves bit-identical pre-split results. The
    exception is the operational signal to raise the serving n_probe
    (`.recommended_n_probe` carries the value the split WOULD need) or
    revisit max_list_size before re-attempting. `.split` carries the
    centroid ids the vetoed pass would have retired, `.pre`/`.post` the
    audit rows measured on the two routings."""

    def __init__(
        self, message: str, pre: dict, post: dict, recommended: int,
        split: list[int],
    ):
        super().__init__(message)
        self.pre = pre
        self.post = post
        self.recommended_n_probe = recommended
        self.split = split


class UnevaluableGate(ValueError):
    """Raised by `rebalance_with_gate` when the audit query set is empty:
    an unevaluable gate must not silently pass, and must not split the
    index it cannot price — raised BEFORE any mutation. A dedicated type
    (r14 ADVICE) so CLI/json callers can map exactly this refusal to a
    clean outcome without swallowing unrelated ValueErrors from the
    audit internals."""


def rebalance_with_gate(
    spark: SparkSession,
    path: str,
    max_list_size: int,
    corpus: DataFrame,
    queries: DataFrame,
    max_recall_drop_e6: int | None,
    k: int = 5,
    n_probe: int = 4,
    n_splits: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """The DEFAULT maintenance path for a serving index (r13 VERDICT #2):
    `rebalance_ivf_index` with the fixed-n_probe recall audit wired in,
    not a CLI courtesy. Measures recall@k at the SERVING n_probe before
    the split (`ivf_recall_audit` vs exact brute force over `corpus` /
    `queries`), applies the split, measures again, and raises
    `RecallRegression` when the mean drops by more than
    `max_recall_drop_e6` — the exact failure a fixed-n_probe caller hits
    (STRESS.md r13: recall@5 halved after an 8× split at n_probe=4,
    invisible to the bit-identity contract, which holds only at
    n_probe ≥ the post-split centroid count).
    `max_recall_drop_e6=None` = report-only: audits run and report, the
    gate never raises.

    A VETO RESTORES THE INDEX (r14 VERDICT #2): the split runs with
    deferred cleanup — the retired lists stay on disk (unroutable, so
    the post-audit measures the refined routing) and the pre-split
    centroid table stays under its `._rebal_old` rename-aside. If the
    post-audit passes the budget the pass COMMITS (retired lists
    reclaimed, aside copy removed); if it fails, the pre-split routing
    is RESTORED and the new sub-lists swept before `RecallRegression`
    raises — the vetoed index serves bit-identical pre-split results
    (pinned in tests). A crash inside the deferred window leaves the
    aside copy in place, which every maintenance entrypoint detects as
    the standard pending-swap state with recovery guidance.

    Returns {"split_centroids", "pre", "post", "drop_e6",
    "recommended_n_probe"}. A NO-OP pass (the cheap size census finds
    nothing oversized) skips the audits entirely — pre/post are None,
    drop 0 — so the steady-state maintenance cadence never pays a
    brute-force corpus scan for a pass that changes nothing (run
    `ivf_recall_audit` directly for a standalone number). When the gate
    DOES evaluate, the zero-query case refuses with `UnevaluableGate`
    BEFORE the split (an unevaluable gate must not mutate the index it
    cannot price). The two audits on a splitting pass scan the corpus
    twice — maintenance-cadence cost, never per-query. Raw
    `rebalance_ivf_index` remains for float master indexes re-probed at
    full width (bit-identity callers)."""
    check_no_pending_swap(spark, path, what="rebalance_with_gate")
    # census FIRST (pre-compaction, so it can only over-estimate — a
    # pass that looks oversized but compacts below threshold pays the
    # pre-audit and splits nothing; the reverse, skipping a real split,
    # cannot happen)
    if not _oversized_lists(spark, path, max_list_size):
        return {
            "split_centroids": [],
            "pre": None,
            "post": None,
            "drop_e6": 0,
            "recommended_n_probe": recommended_n_probe(spark, path, n_probe),
        }
    pre_row = ivf_recall_audit(
        spark, path, corpus, queries, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    ).collect()[0]
    pre = {c: pre_row[c] for c in pre_row.asDict()}
    if pre["n_queries"] == 0:
        raise UnevaluableGate(
            "rebalance_with_gate: the audit query set is empty — an "
            "unevaluable gate must not silently pass (or split the index "
            "it cannot price); supply queries that exist in the corpus"
        )
    # deferred cleanup: keep the pre-split state recoverable (retired
    # lists on disk + the routing's rename-aside copy) until the gate
    # decides — commit on admit, restore on veto
    split = rebalance_ivf_index(
        spark, path, max_list_size=max_list_size, n_splits=n_splits,
        _defer_cleanup=True,
    )
    if not split:  # compaction shrank every census candidate below threshold
        return {
            "split_centroids": [],
            "pre": pre,
            "post": dict(pre),
            "drop_e6": 0,
            "recommended_n_probe": recommended_n_probe(spark, path, n_probe),
        }
    post_row = ivf_recall_audit(
        spark, path, corpus, queries, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    ).collect()[0]
    post = {c: post_row[c] for c in post_row.asDict()}
    drop = pre["mean_recall_e6"] - post["mean_recall_e6"]
    rec = recommended_n_probe(spark, path, n_probe)
    if max_recall_drop_e6 is not None and drop > max_recall_drop_e6:
        _rollback_deferred_rebalance(spark, path)
        raise RecallRegression(
            f"rebalance_with_gate: mean recall@{k} at n_probe={n_probe} "
            f"dropped {drop}e-6 (> {max_recall_drop_e6}e-6) after splitting "
            f"{len(split)} list(s); the split has been ROLLED BACK — the "
            "index serves its pre-split results. Raise the serving n_probe "
            f"to ~{rec} (recommended_n_probe) or revisit max_list_size "
            "before re-attempting",
            pre,
            post,
            rec,
            split,
        )
    _commit_deferred_rebalance(spark, path, split)
    return {
        "split_centroids": split,
        "pre": pre,
        "post": post,
        "drop_e6": drop,
        "recommended_n_probe": rec,
    }


def ivf_recall_audit(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """recall@k of the persisted index at a FIXED n_probe vs exact brute
    force — one summary row (n_queries, k, n_probe, mean_recall_e6,
    min_recall_e6).

    Why this exists (r12 VERDICT #3): `rebalance_ivf_index` guarantees
    bit-identical results only for n_probe ≥ the post-split centroid
    count; a production caller keeps its n_probe FIXED, so every split
    silently re-prices recall (the same score mass now spreads over more,
    smaller lists — a fixed probe budget covers a smaller corpus
    fraction). Run this audit before/after maintenance with the SERVING
    n_probe and gate the split on the delta — the `ann_recall` shape
    attached to the maintenance lifecycle. Brute force scans the corpus
    once per audit: an audit cost, paid on the maintenance cadence, not
    per query. The IVF side probes with `static_prune` (r14 VERDICT #3):
    audit query sets are bounded by contract, so the probe routing is
    computed once and checkpointed instead of re-executed by dynamic
    partition pruning's subquery — one routing per audit, not two."""
    from commerce_data_pipeline_spark.operators.similarity import brute_force_topk

    exact = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    approx = (
        ivf_query(spark, path, queries, k=k, n_probe=n_probe,
                  vec_col=vec_col, query_id_col=id_col, static_prune=True)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    per_query = (
        # both sides are n_queries·k rows (audit-bounded); broadcasting
        # the probe side turns the overlap join map-side — without the
        # hint the static plan sort-merge-joins two tiny frames through
        # two exchanges (r14 VERDICT #3)
        exact.join(F.broadcast(approx), on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"))
        .select(
            "query_id",
            F.expr(f"(n_overlap * 1000000) div {k}").cast("long").alias("recall_e6"),
        )
    )
    return per_query.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.lit(k).cast("int").alias("k"),
        F.lit(n_probe).cast("int").alias("n_probe"),
        # integer div: engine-exact (a float mean cast to long can differ
        # at representation boundaries between engines)
        F.expr("sum(recall_e6) div count(1)").cast("long").alias("mean_recall_e6"),
        F.min("recall_e6").cast("long").alias("min_recall_e6"),
    )


def append_to_ivf_index(
    corpus_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _gen: int | None = None,
) -> None:
    """Incrementally index NEW vectors against the EXISTING centroids:
    assign each to its nearest centroid (broadcast argmax, the same
    `ivf_invert` code as the build) and append to the partitioned
    inverted file — only the touched centroid_id partitions gain files,
    nothing is rewritten. This is how a live corpus grows its ANN index
    between periodic rebuilds; recall degrades only as the data
    distribution drifts from the centroid sample, so rebuild cadence is
    a drift question, not a correctness one. Queries need no change:
    `ivf_query` reads whatever the partitions contain."""
    spark = corpus_new.sparkSession
    centroids = spark.read.parquet(join_path(path, "centroids"))
    u = with_unit_vector(corpus_new, vec_col, "unit")
    gen = current_gen(spark, path) + 1 if _gen is None else _gen
    inverted_new = ivf_invert(u, centroids, id_col).withColumn(
        "gen", F.lit(int(gen)).cast("int")
    )
    (
        inverted_new.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(join_path(path, "inverted"))
    )
    if _gen is None:  # upsert path bumps the counter itself
        _set_gen(spark, path, gen)


def index_exists(spark: SparkSession, path: str) -> bool:
    """Complete-index probe: the centroid table's _SUCCESS marker (written
    last) plus at least one inverted-list partition directory. A dynamic
    partition overwrite commits per-partition and leaves no root-level
    _SUCCESS under inverted/, so that marker can't be the check there."""
    fs = HadoopFS(spark, path)
    if not fs.exists(join_path(path, "centroids", "_SUCCESS")):
        return False
    return any(
        n.startswith("centroid_id=") for n in fs.listdir(join_path(path, "inverted"))
    )


def ivf_query(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    static_prune: bool = False,
) -> DataFrame:
    """Probe a persisted IVF index. The centroid_id equi-join against the
    partitioned inverted file prunes to the probed lists' directories —
    check `.explain` for the partition filter on centroid_id.

    Tombstone-aware: if `tombstones/` is non-empty, list rows with
    gen <= the id's max upto_gen are filtered out through a size-guarded
    left join — broadcast under TOMBSTONE_BROADCAST_LIMIT pending ids
    (the normal between-compactions state; run `compact_ivf_index` on a
    cadence to keep it so), shuffle above it. An index without
    generations (pre-upsert layout) reads as gen 0. mergeSchema handles
    the mixed old-build + new-append footer case; a fresh build writes a
    uniform gen column so production indexes never pay the merge.

    `static_prune=True` (audit callers, r14 VERDICT #3): the probe
    routing is computed ONCE, lineage-truncated, and the scan is pruned
    by the EXPLICIT list of probed centroid ids instead of dynamic
    partition pruning — DPP re-executes the whole routing frame (cross
    join + window + shuffle) as a subquery, which an audit pays per
    routing. The distinct-id collect is bounded by the centroid count
    (≤ √N, the standard routing-table bound); the checkpointed routing
    frame is n_queries·n_probe rows, so the flag is for bounded
    (audit-sized) query sets — serving callers with arbitrarily large
    query batches keep the default DPP path."""
    inv_leaf = join_path(path, "inverted")
    fs = HadoopFS(spark, path)
    if not any(n.startswith("centroid_id=") for n in fs.listdir(inv_leaf)):
        # every list compacted away (or nothing indexed yet): an empty
        # result with the probe-score schema, not a scan of nothing
        q_type = dict(queries.dtypes)[query_id_col]
        return local_frame(
            spark,
            [],
            f"query_id {q_type}, neighbor_id long, cosine_sim double, rank int",
        )
    inverted = _read_inverted(spark, path)
    if "gen" not in inverted.columns:
        inverted = inverted.withColumn("gen", F.lit(0))
    tomb = _tombstone_agg(spark, path)
    if tomb is not None:
        inverted = (
            inverted.withColumn("gen", F.coalesce(F.col("gen"), F.lit(0)))
            .join(tomb, on="neighbor_id", how="left")
            .filter(F.col("_upto").isNull() | (F.col("gen") > F.col("_upto")))
            .drop("_upto")
        )
    if "codes" in inverted.columns:  # IVF-PQ lists: codebook reconstruction
        cb_rows = spark.read.parquet(join_path(path, "codebooks")).collect()
        m = max(r["s"] for r in cb_rows) + 1
        ksub = max(r["code"] for r in cb_rows) + 1
        table: list[list[list[float]]] = [[[] for _ in range(ksub)] for _ in range(m)]
        for r in cb_rows:
            table[r["s"]][r["code"]] = [float(x) for x in r["sub_vec"]]
        # reconstruction as a LITERAL nested-array expression: the codebook
        # is m·ksub·d_sub floats (tiny), so it inlines into codegen — no
        # join, no broadcast variable, pure scan-side concat of the m
        # looked-up subvectors. Built from ONE parsed SQL string per
        # subspace: per-element F.lit()/F.array() marshals every float
        # through py4j individually (~1 s of driver time per thousand
        # elements — same lesson as bloom._bits_literal); repr() floats
        # round-trip exactly through the SQL double parser.
        def _arr_sql(vals: list[float]) -> str:
            return "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"

        sub_lits = [
            F.expr("array(" + ",".join(_arr_sql(cv) for cv in table[s]) + ")")
            for s in range(m)
        ]
        reconstructed = F.flatten(
            F.array(*[
                F.element_at(sub_lits[s], F.element_at(F.col("codes"), s + 1) + 1)
                for s in range(m)
            ])
        )
        inverted = inverted.select(
            "neighbor_id", "centroid_id", reconstructed.alias("c_unit")
        )
    elif "qvec" in inverted.columns:  # int8 lists: reconstruct on read
        inverted = inverted.select(
            "neighbor_id",
            "centroid_id",
            F.transform(F.col("qvec"), lambda q: q.cast("double") * F.col("scale"))
            .alias("c_unit"),
        )
    centroids = spark.read.parquet(join_path(path, "centroids"))
    if static_prune:
        from commerce_data_pipeline_spark.checkpoint import checkpoint
        from commerce_data_pipeline_spark.operators.similarity import probe_routing

        probes = probe_routing(
            queries, centroids, n_probe, vec_col, query_id_col
        ).transform(checkpoint, eager=False)
        # bounded collect: distinct probed ids ≤ the centroid count (≤ √N)
        probed = sorted(
            r["centroid_id"]
            for r in probes.select("centroid_id").distinct().collect()
        )
        inverted = inverted.filter(F.col("centroid_id").isin(probed))
        return ivf_probe_score(
            inverted, centroids, queries, k, n_probe, vec_col, query_id_col,
            probes=probes,
        )
    return ivf_probe_score(inverted, centroids, queries, k, n_probe, vec_col, query_id_col)
