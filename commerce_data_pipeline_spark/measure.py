"""Steps every timing tool shares: session warm-up and the persisted-block
drop between timed runs (bench.py and the tools/ harnesses)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM paths once so per-query numbers measure the queries,
    not session bring-up: codegen compile, parquet reader init (footer +
    vectorized reader classes), shuffle machinery, python worker fork +
    numpy import (several seconds on first use otherwise billed to
    whichever query happens to run first)."""
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    warm.join(warm.select(F.col("r_regionkey")), on="r_regionkey").groupBy("r_name").count().count()
    spark.range(100).mapInPandas(lambda it: it, "id long").count()


def drop_persisted(spark: SparkSession) -> None:
    """Drop cached relations and every persisted RDD block, including
    localCheckpoint storage, so each query is timed on its own.

    clearCache() only evicts SQL-cached relations; the iterative
    operators (pagerank/LPA rounds, dedup CC, pHash bases) localCheckpoint
    intermediate frames whose blocks otherwise accumulate across a
    multi-query run — by the tail of the run the block manager is full
    and collect-heavy queries measure memory churn, not their own cost
    (part_communities: 3.5 s isolated vs 14-21 s late-suite before this).
    The RDD drop never raises: it is hygiene, not part of the result.
    """
    spark.catalog.clearCache()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            try:
                jrdd.unpersist(False)
            except Exception:
                pass
    except Exception:
        pass


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Classes the driver JVM has compiled from generated code so far, and
    the seconds spent compiling them (both cumulative since JVM start).
    Take the difference around a run: a warm run of a query whose
    generated code is deterministic compiles nothing, because its classes
    are served from the codegen cache."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e9
