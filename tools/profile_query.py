"""Per-query cost-structure profiler (optimization rounds).

For each named registry query: time to BUILD the DataFrame (py4j + analysis),
then min-of-N full materializations (the noop write of `measure.time_reps`,
as bench.py times them), and the job/stage/task counts of the last rep's
job group via the status tracker — the fixed-overhead census that tells
compute-bound from round-trip-bound.
`compiles` is the number of generated-code classes the last (warm) rep
compiled: with a codegen cache that holds the working set it is 0, so a
non-zero count marks a query whose generated code differs between runs.
`build_s` and `min_s` are both minima over the N reps: the first rep also
pays one-time work such as building a persisted index. Each invocation is
a fresh session, so profiling one query gives its isolated min-of-N,
free of the memory pressure and contention a suite run inherits.

    python tools/profile_query.py pca_power kmeans_train [--reps 3] \
        [--sf-dir /root/testdata/sf0.1]

Prints one JSON line per query:
    {"query": ..., "build_s": ..., "min_s": ..., "runs": [...],
     "n_jobs": ..., "n_stages": ..., "n_tasks": ..., "compiles": ...}
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from commerce_data_pipeline_spark.measure import REPS, codegen_compiles, time_reps, warm_up
from commerce_data_pipeline_spark.queries import REGISTRY
from commerce_data_pipeline_spark.session import get_spark


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    ap = argparse.ArgumentParser(add_help=False)
    ap.add_argument("names", nargs="+", metavar="query")
    ap.add_argument("--sf-dir", default=sf_dir)
    ap.add_argument("--reps", type=int, default=REPS)
    args = ap.parse_intermixed_args()
    names, sf_dir, reps = args.names, args.sf_dir, args.reps
    if reps < 1:
        ap.error("--reps must be at least 1")
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("profile-query")
    warm_up(spark, sf_dir)

    tracker = spark.sparkContext.statusTracker()
    for name in names:
        build = functools.partial(REGISTRY[name].spark, spark, sf_dir)
        # NB: the query function itself may run jobs (collects,
        # checkpoints) before its write; the whole group is the query.
        runs = time_reps(spark, build, reps - 1, name)
        compiled_before, _ = codegen_compiles(spark)
        runs += time_reps(spark, build, 1, name)
        compiles = codegen_compiles(spark)[0] - compiled_before
        job_ids = tracker.getJobIdsForGroup(runs[-1].group)
        stage_ids = {
            sid for jid in job_ids if (info := tracker.getJobInfo(jid)) for sid in info.stageIds
        }
        n_tasks = sum(
            sinfo.numTasks for sid in stage_ids if (sinfo := tracker.getStageInfo(sid))
        )
        print(
            json.dumps(
                {
                    "query": name,
                    "build_s": round(min(r.build_s for r in runs), 3),
                    "min_s": round(min(r.total_s for r in runs), 3),
                    "runs": [round(r.total_s, 3) for r in runs],
                    "n_jobs": len(job_ids),
                    "n_stages": len(stage_ids),
                    "n_tasks": n_tasks,
                    "compiles": compiles,
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
