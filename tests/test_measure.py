"""The timing harness in `measure.py`: `materialize` computes every column
of a result, `time_reps` drops persisted blocks even when a build fails,
and the timing tools time only through it (an ast guard in the style of
tests/test_imports.py)."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from commerce_data_pipeline_spark.measure import materialize, time_reps

REPO = pathlib.Path(__file__).resolve().parent.parent
TIMING_TOOLS = (
    "bench.py",
    "tools/profile_query.py",
    "tools/stress.py",
    "tools/ab_lazy_eager.py",
)


def test_materialize_runs_projected_udf_on_every_row(spark):
    calls = spark.sparkContext.accumulator(0)

    def plus_one(x):
        calls.add(1)
        return x + 1

    udf = F.udf(plus_one, "long")
    df = spark.range(100).select(udf("id").alias("y"))

    df.count()
    assert calls.value == 0  # count() prunes the projected UDF away
    materialize(df)
    assert calls.value == 100


def test_time_reps_drops_persisted_blocks_when_build_raises(spark):
    sc = spark.sparkContext

    def build():
        rdd = sc.parallelize(range(10)).persist()
        rdd.count()
        assert rdd.id() in {r.id() for r in sc._jsc.getPersistentRDDs().values()}
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        time_reps(spark, build, 2, "raises")
    assert len(sc._jsc.getPersistentRDDs()) == 0


def test_time_reps_reports_each_rep_under_its_own_job_group(spark):
    reps = time_reps(spark, lambda: spark.range(10).selectExpr("id * 2 AS y"), 2, "groups")
    assert len(reps) == 2
    assert len({r.group for r in reps}) == 2
    tracker = spark.sparkContext.statusTracker()
    for r in reps:
        assert 0 <= r.build_s <= r.total_s
        assert tracker.getJobIdsForGroup(r.group)


def _timing_calls(path: pathlib.Path) -> list[str]:
    """`perf_counter` calls and argument-less `.count()` calls in `path`."""
    tree = ast.parse(path.read_text(), filename=str(path))
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name == "perf_counter" or (
            name == "count" and isinstance(f, ast.Attribute) and not node.args and not node.keywords
        ):
            found.append(f"{name} (line {node.lineno})")
    return found


def test_timing_tools_time_only_through_measure():
    found = {
        rel: calls for rel in TIMING_TOOLS if (calls := _timing_calls(REPO / rel))
    }
    assert not found, f"timed loops or count() materializations outside measure.py: {found}"
