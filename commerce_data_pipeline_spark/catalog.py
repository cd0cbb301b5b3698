"""Catalog: named-table access over a testdata directory.

Replaces the reference's two ad-hoc catalogs — BigQuery table-name
construction (/root/reference/src/pipeline/extractors/bigquery_extractor.py:60-62)
and S3 prefix listing (/root/reference/src/pipeline/loaders/s3_loader.py:171-216) —
with one schema-explicit Parquet catalog. Daily `events_YYYYMMDD` tables become
partitions of a single DataFrame (SURVEY.md §1.1).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from commerce_data_pipeline_spark.schemas import EVENTS_RAW, TABLE_SCHEMAS

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5, nation=25 rows are fixed; supplier/part/customer grow slowly).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def _events_ts_unit(path: str) -> str | None:
    """Sniff the physical time unit of `events.ts` from the parquet footer.

    The generator has shipped the column as both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across dataset revisions, and the two need different
    read plans (Spark only reads NANOS as INT64, via nanosAsLong). One
    driver-side footer read per load keeps the catalog correct under either
    without a config knob the caller would have to know about.
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:
        warnings.warn(
            "pyarrow unavailable: cannot sniff events.ts time unit from the "
            "parquet footer; assuming MICROS — an ns-unit dataset will fail "
            "to read (this warning, not the query, is the cause)",
            stacklevel=2,
        )
        return None
    try:
        target = path
        if os.path.isdir(path):
            with os.scandir(path) as it:
                target = next(
                    (e.path for e in it if e.name.endswith(".parquet")), path
                )
        return getattr(pq.read_schema(target).field("ts").type, "unit", None)
    except Exception as e:
        # distinguish "sniff unavailable" from "unit is µs": a swallowed
        # footer failure silently selects the µs read plan and surfaces
        # later as a confusing type-conversion error far from the cause
        warnings.warn(
            f"could not sniff events.ts time unit from {path!r} ({e!r}); "
            "assuming MICROS — if the dataset is ns-unit the read will "
            "fail downstream, and this footer sniff is the real cause",
            stacklevel=2,
        )
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with its declared schema (no inference pass).

    `events.ts` lands as either parquet TIMESTAMP(MICROS) — read natively
    as TimestampType — or TIMESTAMP(NANOS), which Spark reads as INT64
    (spark.sql.legacy.parquet.nanosAsLong) and we convert with the same
    ns→µs truncation DuckDB applies, so oracle comparisons see identical
    instants either way.
    """
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _events_ts_unit(path) == "ns":
        raw = spark.read.schema(EVENTS_RAW).parquet(path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view so `spark.sql` works alongside the
    DataFrame API. Returns the DataFrames keyed by name."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A driver-built frame: `rows` (tuples in `schema` field order) under
    `schema` (DDL string or StructType), planned as a `LocalRelation`.

    `spark.createDataFrame(<python rows>)` plans a `LogicalRDD` that Python
    workers re-serve on every execution, `defaultParallelism` tasks each
    time, even for no rows. The same rows handed over as a pyarrow table
    become a `LocalRelation`: it runs no task, Catalyst sizes it for a
    broadcast, and a join against an empty one is folded away. Every
    driver-built frame in the package goes through here
    (tests/test_local_frame.py holds the guard)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct, timestamp_utc=False)
    rows = list(rows)
    width = len(struct.fields)
    if any(len(r) != width for r in rows):
        raise ValueError(f"every row needs {width} values for schema {struct.simpleString()}")
    cols = list(zip(*rows)) if rows else [()] * width
    table = pa.table(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
