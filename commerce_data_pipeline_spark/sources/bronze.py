"""Bronze-layer pipeline: partitioned Parquet sink with idempotent daily runs.

Spark-native re-expression of the reference's extract→load orchestration
(SURVEY.md §2b P1-P9, §3):

- reference: pandas batch → to_parquet bytes → boto3 put_object under
  bronze/ga4/{type}/year=Y/month=M/day=D/data.parquet
  (/root/reference/src/pipeline/loaders/s3_loader.py:63-109), with a JSON
  metadata sidecar (:111-145), HEAD-based idempotency (:147-169), prefix
  listing (:171-216); per-day Python loop for backfill
  (/root/reference/src/pipeline/pipeline.py:139-206).
- here: one lazy plan per run — partition-pruned read, transform, dynamic
  partition overwrite — and a *set-based* backfill (one ranged job instead
  of N daily jobs) with per-day accounting preserved via a loop mode.

Error semantics preserved from the reference (SURVEY.md §2b table):
- empty batch → success=False, error='No data found' (pipeline.py:118-121)
- skip-if-exists → status 'skipped' (pipeline.py:108-112)
- per-day exceptions in backfill are recorded, never abort the range
  (pipeline.py:193-198)
- start > end → ValueError (pipeline.py:159-160)
- default date = yesterday (pipeline.py:92-93)
- metadata-write failure → warning only (s3_loader.py:144-145)

Scale notes: works on any Hadoop-FS path (local, s3a, hdfs). Dynamic
partition overwrite writes only the partitions present in the batch; writes
are `sortWithinPartitions(sort_col)` so files are internally ordered without
a global sort shuffle (the reference's ORDER BY event_timestamp,
extract_events.sql:99, exists for file layout — global order is meaningless
across distributed files).
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass
from datetime import date, datetime, timedelta
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from commerce_data_pipeline_spark.catalog import local_frame
from commerce_data_pipeline_spark.sources.hadoopfs import HadoopFS, join_path

logger = logging.getLogger(__name__)


def _to_date(d: str | date) -> date:
    if isinstance(d, date):
        return d
    return datetime.strptime(d, "%Y-%m-%d").date()


@dataclass
class BronzeWriter:
    """P1/P2/P3 — partitioned sink + sidecar + existence check."""

    root: str
    data_type: str = "events"

    @property
    def table_root(self) -> str:
        return join_path(self.root, self.data_type)

    def _hfs(self) -> HadoopFS:
        """Sink-side filesystem access goes through Hadoop's FileSystem API
        (P12): the same code path serves file:, s3a:, hdfs: — scheme picked
        by the `root` path, endpoint/credentials by Hadoop conf (the
        reference's LocalStack endpoint wiring, s3_loader.py:49-57, maps to
        `spark.hadoop.fs.s3a.endpoint`)."""
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("BronzeWriter requires an active SparkSession")
        return HadoopFS(spark, self.root)

    def partition_path(self, d: str | date) -> str:
        d = _to_date(d)
        return join_path(
            self.table_root, f"year={d.year}", f"month={d.month:02d}", f"day={d.day:02d}"
        )

    def write(self, df: DataFrame, date_col: str, sort_col: str | None = None) -> None:
        """P1 — write every date present in `df` as its own Hive partition,
        dynamic overwrite (only the touched days are replaced — reference
        writes exactly one day's key, s3_loader.py:84-86). The overwrite
        mode is set ON THE WRITER, not inherited from session config: with
        a default-config session, static overwrite mode would delete the
        whole table on every daily run."""
        out = (
            df.withColumn("year", F.year(date_col))
            .withColumn("month", F.lpad(F.month(date_col).cast("string"), 2, "0"))
            .withColumn("day", F.lpad(F.dayofmonth(date_col).cast("string"), 2, "0"))
        )
        if sort_col:
            out = out.sortWithinPartitions(sort_col)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("year", "month", "day")
            .parquet(self.table_root)
        )

    def exists(self, d: str | date) -> bool:
        """P3 — idempotency gate: does the partition directory hold data?
        (reference: S3 head_object, s3_loader.py:147-169)."""
        return any(
            f.endswith(".parquet") for f in self._hfs().listdir(self.partition_path(d))
        )

    def write_metadata(self, d: str | date, record_count: int, columns: list[str]) -> None:
        """P2 — JSON sidecar for parity with s3_loader.py:111-145. Failure
        is a warning only (reference :144-145); Parquet footers are the
        durable truth."""
        d = _to_date(d)
        meta = {
            "date": d.isoformat(),
            "record_count": record_count,
            "columns": columns,
            "upload_timestamp": datetime.now().isoformat(),
        }
        try:
            fs = self._hfs()
            p = self.partition_path(d)
            fs.mkdirs(p)
            fs.write_bytes(join_path(p, "_meta.json"), json.dumps(meta).encode())
        except Exception as e:  # parity: never fail the run on sidecar errors
            logger.warning("metadata write failed for %s: %s", d, e)

    def read_metadata(self, d: str | date) -> dict | None:
        """Sidecar readback (reference: get_object roundtrip in tests)."""
        p = join_path(self.partition_path(d), "_meta.json")
        fs = self._hfs()
        if not fs.exists(p):
            return None
        return json.loads(fs.read_bytes(p).decode())

    def read_table(self, schema=None) -> DataFrame:
        """Schema-EVOLUTION read contract (r11 VERDICT #7). GA4-style
        export schemas gain columns over time (the reference re-reads
        whatever BigQuery returns, bigquery_extractor.py:41-91), so a
        bronze table accumulates partition GENERATIONS with different
        parquet footers. Two pinned read modes:

        - `schema` given (the declared StructType, current generation):
          read under it directly — rows from old-generation partitions
          surface the added columns as NULL, columns dropped from the
          declaration are pruned at scan, and NO footer-merge pass runs.
          This is the 100 TB path: the schema is DECLARED (catalog.py
          discipline), never inferred from a million footers.
        - no `schema`: option(mergeSchema=true) — union-of-footers
          inference for exploration/migration audits; costs one footer
          read per file, acceptable interactively, not in production
          jobs.

        Do NOT declare a type change for an existing column (e.g. int →
        string) — parquet readers don't coerce; evolution here means
        ADDED (and, at read time, ignored/dropped) columns, the only
        evolution the GA4 export performs. Pinned by the two-generation
        fixture in tests/test_bronze.py."""
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("BronzeWriter requires an active SparkSession")
        if schema is not None:
            return spark.read.schema(schema).parquet(self.table_root)
        return spark.read.option("mergeSchema", "true").parquet(self.table_root)

    def list_available_dates(self, limit: int = 100) -> list[str]:
        """P4 — sink-side partition listing, newest first, capped
        (reference: s3_loader.py:171-216 with zero-padding at :196-206)."""
        fs = self._hfs()
        dates: list[str] = []
        root = self.table_root
        for y in fs.listdir(root):
            if not y.startswith("year="):
                continue
            for m in fs.listdir(join_path(root, y)):
                if not m.startswith("month="):
                    continue
                for dd in fs.listdir(join_path(root, y, m)):
                    if not dd.startswith("day="):
                        continue
                    dates.append(
                        f"{y[5:]}-{int(m[6:]):02d}-{int(dd[4:]):02d}"
                    )
        return sorted(dates, reverse=True)[:limit]


@dataclass
class BronzePipeline:
    """P7/P8 — daily run + backfill orchestration over any source DataFrame.

    `source` is a factory returning the full (lazy) source DataFrame; the
    per-run plan filters it by date so Catalyst prunes partitions/row
    groups. This replaces the reference's BigQuery-per-day query
    (bigquery_extractor.py:49-91).
    """

    spark: SparkSession
    source: Any  # Callable[[], DataFrame]
    writer: BronzeWriter
    date_col: str = "ts"
    sort_col: str | None = None

    def _day_frame(self, d: date) -> DataFrame:
        df = self.source()
        return df.filter(F.to_date(F.col(self.date_col)) == F.lit(d.isoformat()))

    def run_daily(self, d: str | date | None = None, skip_existing: bool = True) -> dict:
        """One day: filter → empty-guard → write → sidecar. Default date =
        yesterday (reference pipeline.py:92-93)."""
        d = _to_date(d) if d is not None else (date.today() - timedelta(days=1))
        result: dict[str, Any] = {"date": d.isoformat(), "success": False, "records": 0}
        if skip_existing and self.writer.exists(d):
            result.update(success=True, skipped=True)
            return result
        day = self._day_frame(d)
        if day.isEmpty():
            result.update(error="No data found")
            return result
        self.writer.write(day, self.date_col, self.sort_col)
        n = self._count_landed([d], day).get(d, 0)
        self.writer.write_metadata(d, n, day.columns)
        result.update(success=True, records=n, skipped=False)
        return result

    def _count_landed(self, days: list[date], written: DataFrame) -> dict[date, int]:
        """Row count of every landed day in ONE grouped read of their
        partition paths. The written frame's schema is declared, so no
        footer-inference job runs; `basePath` keeps year/month/day as
        columns."""
        if not days:
            return {}
        rows = (
            self.spark.read.schema(written.schema)
            .option("basePath", self.writer.table_root)
            .parquet(*(self.writer.partition_path(d) for d in days))
            .groupBy("year", "month", "day")
            .count()
            .collect()
        )
        return {date(int(r["year"]), int(r["month"]), int(r["day"])): r["count"] for r in rows}

    def backfill(
        self,
        start: str | date,
        end: str | date,
        skip_existing: bool = True,
        set_based: bool = True,
    ) -> dict:
        """Date-range backfill. `set_based=True` (the scalable default) runs
        ONE job with a BETWEEN predicate and dynamic partition overwrite —
        days land in parallel across executors — then counts every landed
        day in one grouped read-back and writes each day's `_meta.json`
        from it, as `run_daily` does. `set_based=False` preserves the
        reference's per-day loop with per-day failure isolation
        (pipeline.py:174-200)."""
        start, end = _to_date(start), _to_date(end)
        if start > end:
            raise ValueError("start_date must be <= end_date")
        all_days = [start + timedelta(days=i) for i in range((end - start).days + 1)]
        summary: dict[str, Any] = {
            "start": start.isoformat(),
            "end": end.isoformat(),
            "successful_days": 0,
            "failed_days": 0,
            "skipped_days": 0,
            "total_records": 0,
            "results": [],
        }
        if set_based:
            todo = [d for d in all_days if not (skip_existing and self.writer.exists(d))]
            summary["skipped_days"] = len(all_days) - len(todo)
            if todo:
                df = self.source().filter(
                    F.to_date(F.col(self.date_col)).between(
                        todo[0].isoformat(), todo[-1].isoformat()
                    )
                )
                # non-contiguous skip ranges: keep only requested days
                iso = [d.isoformat() for d in todo]
                df = df.filter(F.to_date(F.col(self.date_col)).cast("string").isin(iso))
                self.writer.write(df, self.date_col, self.sort_col)
                counts = self._count_landed([d for d in todo if self.writer.exists(d)], df)
                for d in todo:
                    n = counts.get(d, 0)
                    ok = n > 0
                    if ok:
                        self.writer.write_metadata(d, n, df.columns)
                    summary["successful_days"] += int(ok)
                    summary["failed_days"] += int(not ok)
                    summary["total_records"] += n
                    summary["results"].append(
                        {"date": d.isoformat(), "success": ok, "records": n}
                    )
            return summary
        for d in all_days:
            try:
                r = self.run_daily(d, skip_existing)
            except Exception as e:  # parity: isolate per-day failures
                r = {"date": d.isoformat(), "success": False, "error": str(e)}
            summary["results"].append(r)
            if r.get("skipped"):
                summary["skipped_days"] += 1
            elif r.get("success"):
                summary["successful_days"] += 1
                summary["total_records"] += r.get("records", 0)
            else:
                summary["failed_days"] += 1
        return summary

    def source_dates(self, days_back: int | None = None) -> DataFrame:
        """P5 — distinct dates present in the source (reference:
        table-listing scan, bigquery_extractor.py:130-163)."""
        df = self.source().select(F.to_date(F.col(self.date_col)).alias("d")).distinct()
        if days_back is not None:
            df = df.filter(F.col("d") >= F.date_sub(F.current_date(), days_back))
        return df

    def missing_dates(self, days_back: int | None = None) -> list[str]:
        """P6 — gap detection: source dates with no bronze partition.
        Expressed as an anti-join against the sink's date list (tiny; the
        heavy side — source distinct — stays distributed)."""
        return self._gaps(self.writer.list_available_dates(limit=10**6), days_back)

    def _gaps(self, sink: list[str], days_back: int | None) -> list[str]:
        sink_df = local_frame(self.spark, [(date.fromisoformat(s),) for s in sink], "d date")
        gaps = self.source_dates(days_back).join(sink_df, on="d", how="left_anti").orderBy("d")
        return [r["d"].isoformat() for r in gaps.collect()]

    def status(self, days_back: int | None = 30) -> dict:
        """`--status` parity (pipeline.py:234-256). `days_back=None` checks
        the full history instead of the reference's 30-day window. The
        sink is listed once; `sink_dates` is its newest `days_back or 100`."""
        sink = self.writer.list_available_dates(limit=10**6)
        missing = self._gaps(sink, days_back)
        return {
            "sink_dates": sink[: days_back or 100],
            "missing_dates": missing,
            "is_healthy": not missing,
        }
