"""`catalog.local_frame`: driver-built frames as Arrow `LocalRelation`s.

`spark.createDataFrame(<python rows>)` plans a `LogicalRDD` that Python
workers re-serve on every execution; `local_frame` hands the same rows
over as a pyarrow table. The guard keeps every driver-built frame in the
package on that path; the unit tests pin that the switch changes no
schema and no value.
"""

import ast
import datetime
import pathlib
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from commerce_data_pipeline_spark import catalog

PKG = pathlib.Path(__file__).resolve().parent.parent / "commerce_data_pipeline_spark"


def _is_pandas_frame(node: ast.expr) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "DataFrame"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "pd"
    )


def _python_row_sites(path: pathlib.Path) -> list[str]:
    """`createDataFrame` calls outside `catalog.local_frame` whose data is
    not a `pd.DataFrame(...)` (those take the Arrow path already)."""
    sites: list[str] = []

    def visit(node: ast.AST, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
                and not (path.name == "catalog.py" and fn == "local_frame")
                and not (child.args and _is_pandas_frame(child.args[0]))
            ):
                sites.append(f"{path.relative_to(PKG)}:{child.lineno}")
            visit(child, inner)

    visit(ast.parse(path.read_text(), filename=str(path)), None)
    return sites


def test_driver_frames_go_through_local_frame():
    sites = [s for p in sorted(PKG.rglob("*.py")) for s in _python_row_sites(p)]
    assert not sites, f"{len(sites)} createDataFrame(<python rows>) sites: {sites}"


def _struct() -> StructType:
    return StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("vec", ArrayType(DoubleType())),
            StructField("ok", BooleanType()),
        ]
    )


CASES = {
    "no_rows": ([], "a long, b string"),
    "nulls": ([(1, None), (None, "x"), (None, None)], "a long, b string"),
    "array_double": ([([1.0, None, 2.5],), (None,), ([],)], "v array<double>"),
    "decimal_38_0": (
        [(Decimal("12345678901234567890123456789012345678"),), (Decimal(0),), (None,)],
        "d decimal(38,0)",
    ),
    "boolean": ([(True,), (False,), (None,)], "f boolean"),
    "ddl_string": (
        [(1, "a", 2.5, datetime.date(2024, 1, 2))],
        "i int, s string, x double, d date",
    ),
    "struct_type": ([(7, "b", [0.5, -1.0], True), (8, None, None, False)], _struct()),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    got = catalog.local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 values"):
        catalog.local_frame(spark, [(1, "a"), (2,)], "a long, b string")
