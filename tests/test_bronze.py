"""Bronze pipeline tests: partitioned writes, idempotency, backfill
accounting, and the reference's error semantics (SURVEY.md §2b)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from commerce_data_pipeline_spark.sources.bronze import BronzePipeline, BronzeWriter


def _source(spark):
    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1.0),
        (2, datetime(2024, 1, 1, 11, 0), 2.0),
        (3, datetime(2024, 1, 2, 10, 0), 3.0),
        # note: no data for 2024-01-03
        (4, datetime(2024, 1, 4, 10, 0), 4.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    return lambda: df


def _pipeline(spark, tmp_path):
    writer = BronzeWriter(root=str(tmp_path), data_type="events")
    return BronzePipeline(spark=spark, source=_source(spark), writer=writer, date_col="ts")


def test_run_daily_roundtrip(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    res = p.run_daily("2024-01-01")
    assert res["success"] and res["records"] == 2
    back = spark.read.parquet(p.writer.partition_path("2024-01-01"))
    assert back.count() == 2
    assert p.writer.exists("2024-01-01")


def test_run_daily_skip_existing(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_daily("2024-01-01")
    res = p.run_daily("2024-01-01")
    assert res["success"] and res.get("skipped") is True


def test_run_daily_empty_day_error_semantics(spark, tmp_path):
    # reference parity: empty batch → success=False, error='No data found'
    p = _pipeline(spark, tmp_path)
    res = p.run_daily("2024-01-03")
    assert res["success"] is False
    assert res["error"] == "No data found"
    assert not p.writer.exists("2024-01-03")


def test_backfill_validates_range(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    with pytest.raises(ValueError):
        p.backfill("2024-01-05", "2024-01-01")


def test_backfill_set_based_accounting(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    res = p.backfill("2024-01-01", "2024-01-04")
    assert res["successful_days"] == 3
    assert res["failed_days"] == 1  # 2024-01-03 has no data
    assert res["skipped_days"] == 0
    assert res["total_records"] == 4


def test_backfill_loop_mode_matches_set_based(spark, tmp_path):
    p1 = _pipeline(spark, tmp_path / "a")
    p2 = _pipeline(spark, tmp_path / "b")
    r1 = p1.backfill("2024-01-01", "2024-01-04", set_based=True)
    r2 = p2.backfill("2024-01-01", "2024-01-04", set_based=False)
    for k in ("successful_days", "failed_days", "skipped_days", "total_records"):
        assert r1[k] == r2[k], k


def test_backfill_skips_existing_partitions(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_daily("2024-01-02")
    res = p.backfill("2024-01-01", "2024-01-02")
    assert res["skipped_days"] == 1
    assert res["successful_days"] == 1


def test_dynamic_overwrite_preserves_other_partitions(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_daily("2024-01-01")
    p.run_daily("2024-01-02")
    # re-write day 2; day 1 must survive (partitionOverwriteMode=dynamic)
    p.run_daily("2024-01-02", skip_existing=False)
    assert p.writer.exists("2024-01-01")
    total = spark.read.parquet(p.writer.table_root).count()
    assert total == 3


def test_list_available_and_missing_dates(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_daily("2024-01-01")
    assert p.writer.list_available_dates() == ["2024-01-01"]
    missing = p.missing_dates()
    assert missing == ["2024-01-02", "2024-01-04"]
    status = p.status(days_back=10**5)
    assert status["is_healthy"] is False


def test_status_lists_newest_sink_dates(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_daily("2024-01-01")
    p.run_daily("2024-01-02")
    full = p.status(days_back=None)
    assert full == {
        "sink_dates": ["2024-01-02", "2024-01-01"],
        "missing_dates": ["2024-01-04"],
        "is_healthy": False,
    }
    # the 2024 source holds no date within the last day; one sink date shown
    assert p.status(days_back=1) == {
        "sink_dates": ["2024-01-02"],
        "missing_dates": [],
        "is_healthy": True,
    }


def test_set_based_backfill_writes_sidecars_like_loop_mode(spark, tmp_path):
    set_based = _pipeline(spark, tmp_path / "set")
    loop = _pipeline(spark, tmp_path / "loop")
    set_based.backfill("2024-01-01", "2024-01-04", set_based=True)
    loop.backfill("2024-01-01", "2024-01-04", set_based=False)
    for d in ("2024-01-01", "2024-01-02", "2024-01-04"):
        got, want = set_based.writer.read_metadata(d), loop.writer.read_metadata(d)
        assert got is not None and want is not None, d
        assert (got["record_count"], got["columns"]) == (want["record_count"], want["columns"]), d
    assert set_based.writer.read_metadata("2024-01-03") is None


def test_metadata_sidecar(spark, tmp_path):
    import json
    import os

    p = _pipeline(spark, tmp_path)
    p.run_daily("2024-01-01")
    meta_path = os.path.join(p.writer.partition_path("2024-01-01"), "_meta.json")
    assert os.path.exists(meta_path)
    meta = json.load(open(meta_path))
    assert meta["record_count"] == 2
    assert "ts" in meta["columns"]


def test_schema_evolution_two_generations(spark, tmp_path):
    """r11 VERDICT #7 — the pinned evolution contract: a partition
    written under the OLD schema and one written after a column was
    added must both read under the CURRENT declared StructType (old
    rows surface the new column as NULL; no footer merge), and the
    explorer path (no schema -> mergeSchema) sees the union."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    w = BronzeWriter(root=str(tmp_path), data_type="events")
    gen1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0), 1.0)],
        "event_id long, ts timestamp, value double",
    )
    w.write(gen1, "ts")
    # the export gains a column: day 2 ships `source` too
    gen2 = spark.createDataFrame(
        [(2, datetime(2024, 1, 2, 10, 0), 2.0, "web")],
        "event_id long, ts timestamp, value double, source string",
    )
    w.write(gen2, "ts")

    declared = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("source", StringType()),  # the added column
            StructField("year", LongType()),      # partition columns
            StructField("month", StringType()),
            StructField("day", StringType()),
        ]
    )
    both = w.read_table(schema=declared).orderBy("event_id").collect()
    assert [r["event_id"] for r in both] == [1, 2]
    assert both[0]["source"] is None and both[1]["source"] == "web"
    assert both[0]["value"] == 1.0 and both[1]["value"] == 2.0

    # declared-schema read also PRUNES data columns (partition columns
    # year/month/day are appended by the source when not declared)
    narrow = StructType(
        [StructField("event_id", LongType()), StructField("value", DoubleType())]
    )
    cols = w.read_table(schema=narrow).columns
    assert cols == ["event_id", "value", "year", "month", "day"]

    # explorer path: mergeSchema unions the generations
    merged = w.read_table().orderBy("event_id")
    assert "source" in merged.columns
    rows = merged.collect()
    assert rows[0]["source"] is None and rows[1]["source"] == "web"
