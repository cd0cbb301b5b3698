"""Relational operators: the reference's pushed-down SQL surface, Spark-native.

Covers SURVEY.md §2a (R2-R8) and the set-oriented halves of §2b (P4-P6).
The reference ships these as a SQL template executed by BigQuery
(/root/reference/config/queries/extract_events.sql) plus Python list/set
manipulation; here each is a lazy DataFrame transform so Catalyst gets to
push filters into the Parquet scan, prune columns, and pick join strategies.

Scale notes (100 TB posture):
- `project_events` / `filter_event_date` compose into a partition-pruned,
  column-pruned scan — the whole reference extract path is one codegen'd stage.
- `top_k` uses orderBy+limit, which Spark executes as TakeOrderedAndProject
  (per-partition heap + driver merge of k rows) — no global sort shuffle.
- `missing_dates` is a left-anti join (broadcast when either side is small),
  replacing the reference's driver-side Python set difference
  (/root/reference/src/pipeline/pipeline.py:252).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.checkpoint import checkpoint as _checkpoint


def project(df: DataFrame, columns: Sequence[str | Column]) -> DataFrame:
    """R2 — projection. Mirrors the 60-column SELECT list
    (extract_events.sql:5-95); Catalyst prunes the scan to these columns."""
    return df.select(*columns)


def extract_nested(df: DataFrame, paths: dict[str, str]) -> DataFrame:
    """R3 — nested-field extraction with alias: {alias: "struct.dot.path"}.

    Mirrors `traffic_source.source AS traffic_source` etc.
    (extract_events.sql:24-58). Dot-path access is native and participates in
    nested-schema pruning, so the scan reads only the referenced subfields.
    """
    return df.select(*(F.col(path).alias(alias) for alias, path in paths.items()))


def filter_event_date(df: DataFrame, date_col: str, value) -> DataFrame:
    """R4 — partition-equality filter (extract_events.sql:98). On a
    date-partitioned source this becomes partition pruning, reading only the
    matching directory."""
    return df.filter(F.col(date_col) == F.lit(value))


def filter_date_between(df: DataFrame, date_col: str, start, end) -> DataFrame:
    """P8 set-based backfill predicate: one ranged scan replaces the
    reference's per-day Python loop (pipeline.py:174-200)."""
    return df.filter(F.col(date_col).between(start, end))


def ordered(df: DataFrame, *cols: str | Column) -> DataFrame:
    """R5 — total-order sort (extract_events.sql:99 ORDER BY event_timestamp).
    Range-partitioned exchange + per-partition sort; only use when a consumer
    truly needs global order (for write layout prefer sortWithinPartitions)."""
    return df.orderBy(*cols)


def top_k(df: DataFrame, k: int, *order_cols: Column) -> DataFrame:
    """Top-k: `sorted(...)[:limit]` in the reference
    (s3_loader.py:212, bigquery_extractor.py:163). orderBy+limit lowers to
    TakeOrderedAndProject — each task keeps a k-row heap, driver merges."""
    return df.orderBy(*order_cols).limit(k)


def missing_dates(source_dates: DataFrame, sink_dates: DataFrame, on: str) -> DataFrame:
    """P6 — gap detection as a left-anti join: dates present in source,
    absent from sink (reference: Python list comprehension, pipeline.py:252).
    Anti-join broadcasts the smaller side; no driver collect."""
    return source_dates.join(sink_dates, on=on, how="left_anti")


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    rank_col: str = "_rn",
    num_partitions: int | None = None,
    keep_pid: bool = False,
) -> DataFrame:
    """Distributed total-order rank (1-based `row_number` semantics)
    WITHOUT the single-partition global window (`WindowExec: No Partition
    Defined`) that `row_number().over(orderBy(...))` funnels through.

    Contract: `order_cols` must define a UNIQUE total order (include a
    tiebreaker key). RangePartitioner maps equal keys to one partition,
    so uniqueness makes the within-partition order — hence the global
    rank — deterministic and engine-replayable (the output is identical
    to the naive global window, which stays the oracle shape).

    Scale shape (the VERDICT r7 prescription): `repartitionByRange` on
    the order columns (the same sampled range exchange a global sort
    uses — every task bounded by one range slice), `spark_partition_id()`
    is then monotone in the order, so

        rank = row_number() PARTITIONED by slice  +  slice offset

    where the offsets come from a per-slice count — a ≤`num_partitions`-
    row aggregate collected to the driver (scalar-sized, the repo's
    collect budget) and broadcast back. The slice-stamped frame is
    lazily checkpointed so the counts job and the rank join read the
    SAME materialized slices (range boundaries are sampled; the two
    consumers must not re-draw them independently).
    """
    return global_order_stats(df, order_cols, rank_col=rank_col,
                              num_partitions=num_partitions, keep_pid=keep_pid)


def global_cumsum(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    value_col: str,
    cum_col: str = "_cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed INCLUSIVE prefix sum over a total order —
    `global_rank`'s sibling (same range-exchange shape, offsets are
    per-slice SUMS instead of counts). `value_col` must be integral
    (the offsets round-trip the driver as exact Python ints).
    """
    return global_order_stats(df, order_cols, sum_cols=[(value_col, cum_col)],
                              num_partitions=num_partitions)


def global_order_stats(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    rank_col: str | None = None,
    sum_col: str | None = None,
    cum_col: str = "_cum",
    num_partitions: int | None = None,
    sum_cols: Sequence[tuple[str, str]] | None = None,
    keep_pid: bool = False,
    with_totals: bool = False,
) -> DataFrame:
    """One range exchange, every order statistic a consumer needs:
    global row_number (`rank_col`) and/or inclusive running totals —
    `sum_cols` as (value_col, cum_col) pairs, or the single-column
    `sum_col`/`cum_col` form. The per-slice offset aggregate carries
    (count, sums...) together, so consumers needing rank AND several
    cumsums over the SAME order (ks_drift runs two) pay for a single
    arrangement instead of one range exchange + offsets job each.

    `with_totals=True` returns (df, {"rows": N, "sums": [...]}) — the
    GRAND totals the offsets fold already accumulated on the driver
    (exact Python-int arithmetic over the same per-slice aggregate), so
    a caller needing Σvalue alongside the cumsums inlines it as a
    literal instead of re-aggregating the arranged frame in a second
    pass (r18: value_ks_drift's totals-broadcast subtree re-read every
    arranged block for two sums this collect already knew)."""
    pairs = list(sum_cols) if sum_cols else []
    if sum_col is not None:
        pairs.append((sum_col, cum_col))
    if rank_col is None and not pairs:
        raise ValueError("global_order_stats: need rank_col and/or sum column(s)")
    sp = df.sparkSession
    n = num_partitions or int(sp.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    arranged = (
        df.repartitionByRange(n, *cols)
        .withColumn("_gr_pid", F.spark_partition_id())
        .transform(_checkpoint, eager=False)
    )
    aggs = [F.count(F.lit(1)).alias("_c")] + [
        F.coalesce(F.sum(v), F.lit(0)).cast("long").alias(f"_s{i}")
        for i, (v, _) in enumerate(pairs)
    ]
    per_slice = arranged.groupBy("_gr_pid").agg(*aggs).collect()
    offsets, acc_c = [], 0
    acc_s = [0] * len(pairs)
    for row in sorted(per_slice, key=lambda r: r["_gr_pid"]):
        offsets.append((int(row["_gr_pid"]), acc_c, *acc_s))
        acc_c += int(row["_c"])
        for i in range(len(pairs)):
            acc_s[i] += int(row[f"_s{i}"])
    off_schema = "_gr_pid int, _gr_offc long" + "".join(
        f", _gr_offs{i} long" for i in range(len(pairs))
    )
    off_df = local_frame(sp, offsets, schema=off_schema)
    from pyspark.sql import Window as W

    w = W.partitionBy("_gr_pid").orderBy(*cols)
    out = arranged.join(F.broadcast(off_df), "_gr_pid")
    if rank_col is not None:
        out = out.withColumn(
            rank_col,
            (F.row_number().over(w) + F.col("_gr_offc")).cast("long"),
        )
    for i, (v, c) in enumerate(pairs):
        local_sum = F.sum(v).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        out = out.withColumn(
            c, (local_sum + F.col(f"_gr_offs{i}")).cast("long")
        )
    # keep_pid: callers running further windows over the SAME slices
    # (e.g. snm_pairs' lead() neighbor pass) keep the slice id so their
    # window spec matches this one's — same partitioning, same order, no
    # extra exchange or sort
    drop = ["_gr_offc", *[f"_gr_offs{i}" for i in range(len(pairs))]]
    if not keep_pid:
        drop.append("_gr_pid")
    out = out.drop(*drop)
    if with_totals:
        return out, {"rows": acc_c, "sums": list(acc_s)}
    return out


def row_count(df: DataFrame) -> int:
    """R7 — count. Partial counts per partition, single-row exchange."""
    return df.count()


def is_empty(df: DataFrame) -> bool:
    """R8 — empty-set guard (pipeline.py:118-121). isEmpty touches at most
    one partition; never count() for this."""
    return df.isEmpty()
