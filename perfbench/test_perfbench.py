"""Smoke test of the benchmark at scale 0.001: every workload runs one timed
pass, prints every metric BENCHMARK.json names with its unit and fails no
op; a corrupted oracle digest counts as a failed op; the generated tables
have the fixed test tables' row counts (FIXTURES.md, sf 0.001).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import timedelta

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import bronze  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args: str, code: str | None = None) -> dict:
    argv = ["--seed", "1", "--seconds", "0", "--scale", "0.001", *args]
    if code is None:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), *argv]
    else:
        cmd = [sys.executable, "-c", code, *argv]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


# FIXTURES.md, section A: rows of each test table at sf 0.001.
FIXTURE_ROWS = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
    "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}


def test_generated_tables_have_fixture_row_counts():
    tables = datagen.tables(seed=1, scale=0.001)
    assert {k: t.num_rows for k, t in tables.items()} == FIXTURE_ROWS


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_one_pass_prints_every_end_to_end_metric(workload):
    result = _run("--workload", workload, "--trace", "0")
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["ok_ratio"]["value"] == 1.0
    assert result["attempted"] == 2 * len(workloads.WORKLOADS[workload])


def test_traced_run_prints_every_per_layer_metric():
    result = _run("--workload", "olap_ingest", "--trace", "1")
    _assert_metrics(result, SPEC["per_layer"])
    assert result["failed"] == 0


def test_corrupted_digest_counts_as_failure():
    code = (
        "import sys; sys.path[:0] = ['.', 'perfbench']\n"
        "import workloads, run\n"
        "real = workloads.oracle_digest\n"
        "def corrupt(con, name):\n"
        "    n, cols, digest = real(con, name)\n"
        "    return n, cols, '0' * len(digest) if name == 'pricing_summary' else digest\n"
        "workloads.oracle_digest = corrupt\n"
        "raise SystemExit(run.main(sys.argv[1:]))\n"
    )
    result = _run("--workload", "olap_ingest", "--trace", "0", code=code)
    assert not result["correct"] and result["failed"] == 1
    ops = len(workloads.WORKLOADS["olap_ingest"])
    assert result["metrics"]["ok_ratio"]["value"] == pytest.approx(1 - 1 / (2 * ops))


def test_bronze_checks_catch_a_wrong_day_count():
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT TIMESTAMP '2024-01-01 12:00:00' + to_days(CAST(i % 5 AS INTEGER)) AS ts"
        " FROM range(10) t(i)"
    )
    ctx = bronze.Ctx(spark=None, data_dir="", work="", seed=1, con=con)
    days = [(bronze.FIRST_DAY + timedelta(days=i)).isoformat() for i in range(bronze.BRONZE_DAYS)]
    summary = {"successful_days": 5, "results": [{"date": d, "records": 2} for d in days]}
    assert bronze._check_backfill(ctx, summary) is None
    summary["results"][0]["records"] = 3
    assert "backfill day counts" in bronze._check_backfill(ctx, summary)
    assert bronze._check_rerun(ctx, {"skipped_days": 5, "results": []}) is None
    assert bronze._check_rerun(ctx, {"skipped_days": 4, "results": [{}]}) is not None
