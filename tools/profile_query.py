"""Per-query cost-structure profiler (optimization rounds).

For each named registry query: time to BUILD the DataFrame (py4j + analysis),
then min-of-N full materializations (count(), matching bench.py), and the
job/stage/task counts of one materialization via the status tracker — the
fixed-overhead census that tells compute-bound from round-trip-bound.
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

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from commerce_data_pipeline_spark.measure import codegen_compiles, drop_persisted, warm_up
from commerce_data_pipeline_spark.queries import REGISTRY
from commerce_data_pipeline_spark.session import get_spark


def main() -> int:
    argv = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf-dir":
            sf_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--reps":
            reps = int(argv[i + 1])
            i += 2
        else:
            names.append(argv[i])
            i += 1
    if not names:
        print("usage: profile_query.py <query> [...] [--sf-dir D] [--reps N]",
              file=sys.stderr)
        return 2
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("profile-query")
    sc = spark.sparkContext
    warm_up(spark, sf_dir)

    tracker = sc.statusTracker()
    for name in names:
        spec = REGISTRY[name]
        runs: list[float] = []
        counters = {"n_jobs": 0, "n_stages": 0, "n_tasks": 0, "compiles": 0}
        builds: list[float] = []
        for r in range(reps):
            group = f"profile:{name}:{r}"
            compiled_before, _ = codegen_compiles(spark)
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = spec.spark(spark, sf_dir)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            sc.setJobGroup(None, None)
            builds.append(t1 - t0)
            # NB: the query function itself may run jobs (collects,
            # checkpoints) before count(); the whole group is the query.
            runs.append(t2 - t0)
            if r == reps - 1:
                job_ids = tracker.getJobIdsForGroup(group)
                counters["n_jobs"] = len(job_ids)
                stage_ids = set()
                for jid in job_ids:
                    info = tracker.getJobInfo(jid)
                    if info:
                        stage_ids.update(info.stageIds)
                counters["n_stages"] = len(stage_ids)
                n_tasks = 0
                for sid in stage_ids:
                    sinfo = tracker.getStageInfo(sid)
                    if sinfo:
                        n_tasks += sinfo.numTasks
                counters["n_tasks"] = n_tasks
                counters["compiles"] = codegen_compiles(spark)[0] - compiled_before
            drop_persisted(spark)
        print(
            json.dumps(
                {
                    "query": name,
                    "build_s": round(min(builds), 3),
                    "min_s": round(min(runs), 3),
                    "runs": [round(x, 3) for x in runs],
                    **counters,
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
