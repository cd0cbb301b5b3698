"""Benchmark harness: runs the engine's headline queries at the target
scale factor and prints ONE JSON line for the driver (BENCH_r{N}.json).

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

Each query is built and fully materialized by a noop write
(`measure.time_reps`; no driver-side collect of payload rows), so every
column of the result is computed. Wall-clock per query; `value` is the
total. The artifact records what it measured: `sf`, `cpus`
(defaultParallelism), `materialize` and the git `sha`.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from commerce_data_pipeline_spark.measure import WRITE_FORMAT, probe, time_reps, warm_up
from commerce_data_pipeline_spark.queries import REGISTRY
from commerce_data_pipeline_spark.session import get_spark


def load_defense_history(
    repo_dir: str, sf_norm: str, cpus: int, materialize: str, k: int = 4
) -> dict[str, float]:
    """Per-query MIN over the last-committed BENCH_FULL.json AND the last
    `k` round artifacts (BENCH_r*.json) measured like this run:
    same sf, same `cpus` and same `materialize`. An artifact without
    `materialize` predates the noop write and counts as "count" (a
    count() time prunes columns, so it can sit far below the noop time of
    the same code); one without `cpus` never defends, because its core
    count is unknown.

    The min over several runs means one contended refresh can never raise
    the bar (a contended BENCH_FULL once carried bigram_lm at 3.56 s
    against a 1.42 s same-code run, and became its own baseline): a row
    only enters history at the best time any recent run achieved.
    """
    rounds: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    paths = [os.path.join(repo_dir, "BENCH_FULL.json")] + [p for _, p in sorted(rounds)[-k:]]
    hist: dict[str, float] = {}
    for path in paths:
        try:
            with open(path) as f:
                art = json.load(f)
        except (OSError, ValueError):
            continue
        # round artifacts wrap the stdout line in `parsed`; their own
        # top-level keys (sf, cpus) take precedence
        meta = {**(art.get("parsed") or {}), **art}
        if (
            str(meta.get("sf")) != sf_norm
            or meta.get("cpus") != cpus
            or meta.get("materialize", "count") != materialize
        ):
            continue
        for name, v in (meta.get("queries") or {}).items():
            if isinstance(v, (int, float)) and v > 0:
                hist[name] = min(hist.get(name, float("inf")), float(v))
    return hist


def _git_sha(repo_dir: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=repo_dir, capture_output=True, text=True, check=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark("bench")
    # Bench-session-only log hygiene (VERDICT r15 #7: the recorded tail
    # must start at the metric line). WindowExec's single-partition WARN
    # fires on every deliberate driver-tiny global window (rank
    # witnesses, one-row summaries — audited in PLANS.md) and
    # BlockManager's already-exists WARN on benign localCheckpoint block
    # re-registration; both stay visible in dev sessions.
    try:
        jvm = spark.sparkContext._jvm
        for logger in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.storage.BlockManager",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:
        pass  # connect-mode: noisier tail but harmless

    warm_up(spark, sf_dir)

    # Calibration probe, timed right after warm-up and again after the
    # whole suite: its two times ship in the JSON, so a contended run is
    # diagnosable from the artifact alone (inflated probe: environment;
    # flat probe with inflated queries: bisect for a real regression).
    probe_first = probe(spark)

    # Min-of-N timing (default 2): this VM shows 3-4× run-to-run swings
    # (cold JIT, noisy neighbors — STRESS.md documents dedup_clusters at
    # both 3 s and 25 s for identical code), so a single sample makes
    # round-over-round per-query comparison mostly noise. The min of two
    # samples is a far better estimator of the query's true cost.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

    # Per-query self-defense (r11 VERDICT #2): the suite probe certifies
    # the run as a whole, but min-of-2 let a single contended row ship a
    # 4× outlier (semantic_only_dups 9.5 s vs a 2.2 s history while the
    # same code measured 1.7 s in an isolated run). If a query's min
    # exceeds 2× its history (and the swing is > 0.5 s absolute —
    # sub-second rows are pure timer noise), grant it up to 2 extra
    # passes, stopping early once it lands within 2×. The extra work is
    # bounded: at most _DEFENSE_MAX_EXTRA passes across the whole suite,
    # slowest offenders defended first by construction (defense happens
    # inline, right after the offending measurement, while the history
    # file still reflects the prior round).
    _DEFENSE_MAX_EXTRA = 20
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    cpus = spark.sparkContext.defaultParallelism
    hist = load_defense_history(repo_dir, str(sf_val), cpus, WRITE_FORMAT)
    defense_used = 0
    defended: dict[str, list[float]] = {}

    timings: dict[str, float] = {}
    for name, spec in REGISTRY.items():
        build = functools.partial(spec.spark, spark, sf_dir)
        try:
            best = min(r.total_s for r in time_reps(spark, build, runs, name))
        except Exception as e:  # record the failure; never break the bench line
            print(f"bench error in {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
            continue
        first_min = best
        extra_here = 0
        while (
            name in hist
            and best > 2.0 * hist[name]
            and best - hist[name] > 0.5
            and defense_used < _DEFENSE_MAX_EXTRA
            and extra_here < 2
        ):
            defense_used += 1
            extra_here += 1
            try:
                best = min(best, time_reps(spark, build, 1, name)[0].total_s)
            except Exception:
                break
            defended.setdefault(name, [round(first_min, 3)]).append(round(best, 3))
        timings[name] = round(best, 3)

    probe_last = probe(spark)
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # Full per-query record → BENCH_FULL.json beside this script. The
    # driver stores only the last 2000 chars of stdout, so a 100-query
    # dict in the printed line overflows the window and its `parsed`
    # field comes back null (it did in rounds 1-4, losing per-query
    # history). The file keeps every timing; the stdout line below is
    # budgeted to fit the window so the driver can parse it.
    full = {
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # what the numbers measured: the history defense only compares a
        # row against artifacts with the same sf, cpus and materialize
        "cpus": cpus,
        "materialize": WRITE_FORMAT,
        "sha": _git_sha(repo_dir),
        # each per-query number is the MIN of `runs` full materializations
        # (r6 VERDICT #6: single samples absorb ±7%+ VM contention and
        # round-over-round deltas become noise); caches/persisted RDDs are
        # dropped between samples so every run re-executes the full plan
        "runs_per_query": runs,
        "timing": f"min_of_{runs}_runs",
        # calibration probe: min-of-3 of an identical sf-independent query
        # before the first and after the last suite query. probe_ratio
        # close to 1.0 certifies a quiet harness; a materially inflated
        # probe means the box was contended and cross-round per-query
        # comparison of THIS artifact is unreliable.
        "probe_first_s": probe_first,
        "probe_last_s": probe_last,
        "probe_ratio": round(probe_last / probe_first, 3) if probe_first > 0 else None,
        # per-query self-defense record: queries whose min-of-N exceeded
        # 2× their history and were granted extra passes ([first_min,
        # min_after_pass_1, ...]); a row still >2× after defense is a real
        # regression, not a contended sample.
        "defended": defended,
        "defense_extra_passes": defense_used,
    }
    with open(os.path.join(repo_dir, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1)

    # stdout line: failures first (always visible), then slowest-first
    # until the 1900-char budget is spent; the rest are in BENCH_FULL.json.
    budget = 1900
    ordered = sorted(timings, key=lambda n: (timings[n] >= 0, -timings[n]))
    obj = dict(full, queries={}, n_queries=len(timings), full="BENCH_FULL.json")
    for name in ordered:
        obj["queries"][name] = timings[name]
        if len(json.dumps(obj, separators=(",", ":"))) > budget:
            del obj["queries"][name]
            break
    print(json.dumps(obj, separators=(",", ":")))


if __name__ == "__main__":
    main()
