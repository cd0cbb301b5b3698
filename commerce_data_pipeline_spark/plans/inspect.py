"""Physical-plan inspection helpers.

The reference delegates all planning to BigQuery and never sees a plan
(SURVEY.md §4). Here the plan IS the performance contract, so these helpers
make plan properties assertable in tests: a query that silently loses its
broadcast hint, stops pushing a filter into the parquet scan, or picks up
an extra shuffle fails CI — at 100 TB each of those is a regression measured
in hours, and sf0.01 timings won't reveal them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text (operator tree + per-node details)."""
    jdf = df._jdf
    return df.sparkSession._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        jdf.queryExecution(), "formatted"
    )


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def num_shuffles(df: DataFrame) -> int:
    """Exchange nodes in the physical plan (broadcast exchanges excluded) —
    the number of data-movement barriers the query pays."""
    plan = formatted_plan(df)
    return len(re.findall(r"\bExchange \(", plan))


def pushed_filters(df: DataFrame) -> list[str]:
    """Predicates reaching the parquet scan (row-group/page pruning)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", formatted_plan(df)):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan — the witness for
    column pruning (a 2-column projection must not read 16 columns)."""
    cols: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", formatted_plan(df)):
        body = m.group(1)
        cols.append([p.split(":")[0].strip() for p in body.split(",") if ":" in p])
    return cols


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen regions — wider/fewer spans mean more of
    the query runs as fused JVM loops. Under AQE the final plan (and its
    codegen subtrees) exists only after execution — run an action on `df`
    first, else this returns 0."""
    text = df.sparkSession._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), "codegen"
    )
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    return int(m.group(1)) if m else 0
