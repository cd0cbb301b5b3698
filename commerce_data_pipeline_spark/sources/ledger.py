"""Incremental dedup ledger: cross-run exact-dedup state as a parquet
fingerprint table.

The streaming dedup (streaming/corpus_stream.py) bounds its state to the
watermark window; duplicates that recur ACROSS runs/windows need durable
state. The ledger is that state, kept deliberately minimal: one column of
md5 content fingerprints, partitioned by a fingerprint prefix.

Scale posture (100 TB corpus, billions of fingerprints):
- The ledger stores ONLY digests (32-char md5) — never text, and the
  prefix partitioning keeps per-run appends small and prunable.
- `filter_new` reads its batch ONCE: one hash-partitioning of the batch
  rows on fp serves both the intra-batch collapse (keep the row whose
  id is the fingerprint's min id, a window over fp) and the anti-join
  against the ledger, which is then either a broadcast of the ledger's
  digests or a sort-merge join reusing that same partitioning — one
  full-row shuffle per lookup at any size. Intra-batch dup fan-in never
  reaches the join, and an empty ledger plans no join at all.
- `commit` appends only the fingerprints actually admitted, so the
  ledger is exactly the set of content ever accepted — idempotent
  re-ingestion of the same batch admits nothing.

This mirrors the reference pipeline's partition-exists idempotency
(`pipeline.py` skip-if-exists, SURVEY §2b P3) lifted from
partition granularity to content granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.operators.dedup import fingerprint, minhash_band_rows
from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint


def _swap_rewrite(spark: SparkSession, path: str, write_tmp) -> None:
    """Rewrite a ledger directory via write-tmp → rename-aside swap (the
    shared `hadoopfs.begin_swap`/`swap_dir` protocol): `write_tmp(tmp)`
    materializes the replacement, then `path`→`old`, `tmp`→`path`,
    delete `old`. A crash between any two steps leaves a complete copy
    under a recoverable name — the live path is never the only casualty.
    Readers between the two renames can see a missing dir on s3a (rename
    is copy+delete there); ledger compaction is an offline-maintenance
    pass, same single-writer posture as the IVF index maintenance ops."""
    from commerce_data_pipeline_spark.sources.hadoopfs import begin_swap, swap_dir

    live = path.rstrip("/")
    tmp = live + "._compact_tmp"
    old = live + "._compact_old"
    begin_swap(spark, live, tmp, old, what="ledger compact")
    write_tmp(tmp)
    swap_dir(spark, live, tmp, old, what="ledger compact")


class FingerprintLedger:
    def __init__(self, spark: SparkSession, path: str, prefix_chars: int = 2):
        self.spark = spark
        self.path = path
        self.prefix_chars = prefix_chars

    def exists(self) -> bool:
        return HadoopFS(self.spark, self.path).exists(self.path)

    def known(self) -> DataFrame:
        """The fingerprint set admitted so far (empty frame if no ledger).
        The digest column is declared, so reading it runs no
        footer-inference job."""
        if not self.exists():
            return local_frame(self.spark, [], "fp string")
        return self.spark.read.schema("fp string").parquet(self.path).select("fp")

    def with_fingerprint(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        return df.withColumn("fp", fingerprint(text_col))

    def filter_new(
        self, df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """Rows whose content has never been admitted: intra-batch
        collapse (the rows holding their fingerprint's min id; NULL text
        has no fingerprint and is never admitted) then an anti-join
        against the ledger on fp. Returns the original columns plus `fp`
        (callers pass the result straight to `commit`)."""
        batch_unique = (
            # fp is NULL exactly when the text is; testing the text keeps
            # Catalyst from computing the digest twice per row
            self.with_fingerprint(df.filter(F.col(text_col).isNotNull()), text_col)
            .withColumn("_min_id", F.min(id_col).over(Window.partitionBy("fp")))
            .filter(F.col(id_col) == F.col("_min_id"))
            .drop("_min_id")
        )
        return batch_unique.join(self.known(), on="fp", how="left_anti")

    def commit(self, admitted: DataFrame) -> None:
        """Append the admitted fingerprints (prefix-partitioned). The
        prefix is a function of fp, so deduplicating on (prefix, fp)
        keeps the same rows and reuses the prefix partitioning: one
        exchange serves both the dedup and the file layout."""
        (
            admitted.select(
                "fp", F.substring("fp", 1, self.prefix_chars).alias("fp_prefix")
            )
            .repartition("fp_prefix")
            .dropDuplicates(["fp_prefix", "fp"])
            .write.mode("append")
            .partitionBy("fp_prefix")
            .parquet(self.path)
        )

    def ingest(
        self, df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """filter_new + commit in one step; returns the admitted rows.
        NB: materializes the admitted set (the commit is an action)."""
        new_rows = self.filter_new(df, id_col, text_col).transform(_checkpoint)
        self.commit(new_rows)
        return new_rows

    def compact(self, files_per_prefix: int = 1) -> None:
        """Retention/compaction pass (r12 VERDICT #5): the ledger grows
        one file-set per run forever — a multi-year corpus accumulates
        unbounded small files (per-file open/footer cost, driver file
        index) and, under replayed/concurrent commits, duplicate digests.
        Rewrites the ledger as DISTINCT fingerprints in `files_per_prefix`
        files per prefix partition, swapped in with the rename-aside
        protocol. `filter_new` results are bit-identical pre/post
        (membership is all the anti-join reads; pinned in
        tests/test_ledger.py), and compacting twice is a no-op by
        construction. Digests are never dropped — admitted content stays
        admitted; this ledger's retention IS its identity."""
        if not self.exists():
            return
        spark, prefix_chars = self.spark, self.prefix_chars

        def _write(tmp: str) -> None:
            (
                self.known()
                .withColumn("fp_prefix", F.substring("fp", 1, prefix_chars))
                .withColumn("_salt", F.pmod(F.crc32("fp"), F.lit(files_per_prefix)))
                # (prefix, salt) keying: one prefix CAN split across
                # files_per_prefix tasks; task count scales with the
                # prefix space so the rewrite parallelizes at any size.
                # Prefix and salt are functions of fp, so the dedup on
                # (prefix, salt, fp) keeps the same rows and runs on this
                # one exchange.
                .repartition(
                    (16**prefix_chars) * files_per_prefix, "fp_prefix", "_salt"
                )
                .dropDuplicates(["fp_prefix", "_salt", "fp"])
                .drop("_salt")
                .write.partitionBy("fp_prefix")
                .mode("overwrite")
                .parquet(tmp)
            )

        _swap_rewrite(spark, self.path, _write)


class BandLedger:
    """Cross-run NEAR-dup state: the `FingerprintLedger` idea lifted from
    exact content equality to MinHash/LSH band collisions. The ledger
    stores (band, bkey, doc_id) rows for every admitted document; a new
    batch near-dups history iff it shares at least one band key — the
    SAME collision event `minhash_lsh_pairs` uses in-batch (both build on
    `dedup.minhash_band_rows`), so in-batch and cross-run dedup agree on
    what "near-duplicate" means.

    Scale posture:
    - Ledger rows are (band int, 32-char bkey, id) — bands·|docs| rows of
      ~45 bytes; text and signatures are never stored.
    - `match_history` is one equi-join on (band, bkey): uniform md5 keys,
      broadcast-free, AQE-splittable; partition pruning on the bkey
      prefix keeps per-run appends small.
    - History never recomputes: each run minhashes only ITS batch — the
      property that makes incremental corpus ingestion O(batch), not
      O(corpus).
    """

    def __init__(self, spark: SparkSession, path: str,
                 num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
                 prefix_chars: int = 2):
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.prefix_chars = prefix_chars

    def exists(self) -> bool:
        return HadoopFS(self.spark, self.path).exists(self.path)

    def known(self) -> DataFrame:
        if not self.exists():
            return local_frame(self.spark, [], "band int, bkey string, doc_id long")
        return self.spark.read.parquet(self.path).select("band", "bkey", "doc_id")

    def band_rows(self, df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
        return minhash_band_rows(
            df, id_col, text_col, self.num_hashes, self.bands, self.shingle_n
        )

    def match_history(self, df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
        """Candidate cross-run near-dup pairs: (new_id, old_id) for every
        batch document sharing at least one band with an admitted one."""
        batch = self.band_rows(df, id_col, text_col).select(
            F.col(id_col).alias("new_id"), "band", "bkey"
        )
        hist = self.known().select("band", "bkey", F.col("doc_id").alias("old_id"))
        return (
            batch.join(hist, on=["band", "bkey"])
            .select("new_id", "old_id")
            .distinct()
        )

    def filter_unmatched(self, df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
        """Batch rows with NO historical near-dup candidate (the admit
        policy a dedup-against-history ingest wants). Anti-join on the
        matched id set — document rows never shuffle on text."""
        matched = self.match_history(df, id_col, text_col).select(
            F.col("new_id").alias(id_col)
        ).distinct()
        return df.join(matched, on=id_col, how="left_anti")

    def commit(self, df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> None:
        """Append the band rows of admitted documents (bkey-prefix
        partitioned, like the fingerprint ledger)."""
        (
            self.band_rows(df, id_col, text_col)
            .select(
                F.col(id_col).alias("doc_id"), "band", "bkey",
                F.substring("bkey", 1, self.prefix_chars).alias("bkey_prefix"),
            )
            .repartition("bkey_prefix")
            .write.mode("append")
            .partitionBy("bkey_prefix")
            .parquet(self.path)
        )

    def ingest(self, df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
        """Admit only documents with no near-dup in history, record their
        band keys, return the admitted rows. Intra-batch near-dups are
        NOT collapsed here — run `minhash_lsh_pairs`/`dedup_by_components`
        on the batch first if that's wanted; the ledger's job is the
        cross-run boundary."""
        admitted = self.filter_unmatched(df, id_col, text_col).transform(_checkpoint)
        self.commit(admitted, id_col, text_col)
        return admitted

    def compact(
        self, files_per_prefix: int = 1, max_ids_per_key: int | None = None
    ) -> None:
        """Retention/compaction pass (r12 VERDICT #5). Two concerns:

        1. Small files + replayed-commit duplicates: rewrites the ledger
           as DISTINCT (band, bkey, doc_id) rows, ≈`files_per_prefix`
           files per bkey-prefix partition, rename-aside swap. With
           `max_ids_per_key=None` (default) `match_history` results are
           **bit-identical** pre/post (pinned in tests/test_ledger.py)
           and re-compacting is a no-op.
        2. Hot-band growth: a pathological band key collects every
           near-identical document ever admitted, so match_history pair
           fan-out grows with corpus age. `max_ids_per_key=k` keeps only
           the k SMALLEST doc_ids per (band, bkey) — a deterministic
           retention policy that PRESERVES every `filter_unmatched`
           admit decision (key existence is what the admit gate reads;
           any k ≥ 1 keeps the key) while bounding `match_history`'s
           per-key old_id fan-out at k. Use it when the pair *lists*
           are diagnostics and the admit *gate* is the contract.
        """
        if not self.exists():
            return
        spark, prefix_chars = self.spark, self.prefix_chars

        def _write(tmp: str) -> None:
            rows = (
                spark.read.parquet(self.path)
                .select("band", "bkey", "doc_id")
                .dropDuplicates(["band", "bkey", "doc_id"])
            )
            if max_ids_per_key is not None:
                from pyspark.sql import Window

                w = Window.partitionBy("band", "bkey").orderBy("doc_id")
                rows = (
                    rows.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") <= max_ids_per_key)
                    .drop("_rn")
                )
            (
                rows.withColumn("bkey_prefix", F.substring("bkey", 1, prefix_chars))
                .repartition(
                    (16**prefix_chars) * files_per_prefix,
                    "bkey_prefix",
                    F.pmod(F.crc32("bkey"), F.lit(files_per_prefix)),
                )
                .write.partitionBy("bkey_prefix")
                .mode("overwrite")
                .parquet(tmp)
            )

        _swap_rewrite(spark, self.path, _write)


class QualityGateLedger:
    """Cross-run RANKING + CALIBRATION gate state: the release-gate twin
    of the dedup ledgers above, for quality-classifier outputs instead
    of content fingerprints.

    Stores per-ingest BIN AGGREGATES — (bin, n, n_pos, sum_conf) over
    fixed equal-width bins of an integer confidence in [0, conf_scale]
    — and never a raw row. The binning is the SAME `conf_bin_aggs`
    every batch calibration operator uses (one definition, so
    ingest-time bins are provably the bins the report and the parity
    tests compute over). Bin aggregates are plain sums, so they are
    EXACTLY mergeable: report(ingest(A); ingest(B)) equals the report
    over A ∪ B computed in one pass, bit for bit (pinned in
    tests/test_ledger.py). A stream gates an arbitrarily long ingestion
    history with O(n_bins) appended state per run — `foreachBatch(
    lambda b, _: ledger.ingest(b, ...))` composes directly, the
    BandLedger precedent.

    Config safety: every appended row carries its (n_bins, conf_scale),
    and `merged()` REFUSES a history whose stored config differs from
    this handle's — silently merging histograms binned under different
    widths would break the AUC containment contract with no error.

    The report derives, from the merged bins alone:
      - banded AUC + its falsifiable error bound Σ np·nn/(2PN) — the
        bound holds for ANY banding (`selection.banded_auc_metrics`,
        shared with ranking_auc_banded), fixed-width included, so a
        gate can assert "AUC ≥ θ" whenever auc − err clears θ with no
        exact pass over history;
      - the integer-exact ECE (`selection.ece_from_bins`, shared with
        expected_calibration_error).

    Bins must be FIXED up front (percentile re-banding would need the
    raw history back): fixed-width over a CALIBRATED confidence is the
    right default — `selection.calibrate_scores` upstream makes the
    scale uniform. n_bins trades bound tightness for state size.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_bins: int = 100,
        conf_scale: int = 1_000_000,
    ):
        if n_bins < 2:
            raise ValueError("QualityGateLedger: n_bins must be >= 2")
        self.spark = spark
        self.path = path
        self.n_bins = n_bins
        self.conf_scale = conf_scale

    def exists(self) -> bool:
        return HadoopFS(self.spark, self.path).exists(self.path)

    def ingest(self, df: DataFrame, label_col: str, conf_col: str) -> None:
        """Append this batch's bin aggregates (one parquet append of
        ≤ n_bins rows; NULL confidences excluded, the report counts only
        scored rows). Re-ingesting the same batch counts it again — this
        is a metrics ledger, not a dedup ledger; dedup upstream."""
        from commerce_data_pipeline_spark.operators.selection import conf_bin_aggs

        per = conf_bin_aggs(
            df, label_col, conf_col, self.n_bins, self.conf_scale
        ).select(
            "bin",
            "n",
            "n_pos",
            "sum_conf",
            F.lit(self.n_bins).cast("int").alias("n_bins"),
            F.lit(self.conf_scale).cast("long").alias("conf_scale"),
        )
        per.write.mode("append").parquet(self.path)

    def merged(self) -> DataFrame:
        """The history's bins re-merged: groupBy(bin) over appended
        aggregates — sums of sums, exact at any ingest count. A ledger
        never ingested into merges to the empty frame (and `report`
        then yields n=0 with NULL metrics — the FingerprintLedger
        empty-state precedent). Raises ValueError if the stored bin
        config differs from this handle's."""
        if not self.exists():
            return local_frame(
                self.spark, [], "bin int, n long, n_pos long, sum_conf decimal(38,0)"
            )
        raw = self.spark.read.parquet(self.path)
        configs = [
            (r["n_bins"], r["conf_scale"])
            for r in raw.select("n_bins", "conf_scale").distinct().collect()
        ]
        if any(c != (self.n_bins, self.conf_scale) for c in configs):
            raise ValueError(
                f"QualityGateLedger at {self.path} was written with bin "
                f"config {configs}; this handle has "
                f"({self.n_bins}, {self.conf_scale}) — merging differently "
                "binned histograms would silently void the AUC bound"
            )
        return raw.groupBy("bin").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("n_pos").cast("long").alias("n_pos"),
            F.sum("sum_conf").cast("decimal(38,0)").alias("sum_conf"),
        )

    def report(self, out_scale: int = 1_000_000) -> DataFrame:
        """One row over the whole ingestion history:
        (n, n_pos, n_neg, auc_banded_e6, max_err_e6, ece_e6) — the
        identical arithmetic as selection.ranking_auc_banded /
        expected_calibration_error, via the shared
        `banded_auc_metrics` / `ece_from_bins` reducers over the merged
        bins."""
        from commerce_data_pipeline_spark.operators.selection import (
            banded_auc_metrics,
            ece_from_bins,
        )

        per = self.merged().transform(_checkpoint, eager=False)  # two reducers
        auc = banded_auc_metrics(
            per.select("bin", "n_pos", (F.col("n") - F.col("n_pos")).alias("n_neg")),
            out_scale,
        )
        ece = ece_from_bins(per, self.conf_scale)
        return auc.crossJoin(ece).select(
            "n", "n_pos", "n_neg", "auc_banded_e6", "max_err_e6", "ece_e6"
        )

    def compact(self) -> None:
        """Retention/compaction pass (r12 VERDICT #5): replace the
        per-ingest append history with its merged bins — ≤ n_bins rows
        total, one file, regardless of ingest count. Bin aggregates are
        plain sums, so `report()` is bit-identical pre/post and a
        re-compaction is a no-op; `merged()`'s config check still holds
        (the rewritten rows carry this handle's (n_bins, conf_scale),
        which `merged()` already validated against the history)."""
        if not self.exists():
            return
        spark = self.spark

        def _write(tmp: str) -> None:
            (
                self.merged()
                .select(
                    "bin",
                    "n",
                    "n_pos",
                    "sum_conf",
                    F.lit(self.n_bins).cast("int").alias("n_bins"),
                    F.lit(self.conf_scale).cast("long").alias("conf_scale"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )

        _swap_rewrite(spark, self.path, _write)
