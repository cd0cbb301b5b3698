"""Benchmark of the engine: one workload per run, closed loop, one op at a
time, every op's result fully materialized with a noop write.

    python3 perfbench/run.py --workload olap_ingest --seed 1 --seconds 18 --trace 0

A run generates its inputs from the seed (perfbench/datagen.py) and sets up
several times (session start, warm-up, build-once `.cache` frames). It then
runs one untimed pass that checks every op's output (registry ops against
their DuckDB oracle, bronze and ledger steps as bronze.py says), which also
pays each op's first-execution cost, and then timed passes, each in a
seeded op order, until `--seconds` have elapsed. Every call it times goes
through the package's public surface.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs untraced and
traced passes in turn and prints the per-layer metrics, read from Spark's
status stores after every op, plus the traced/untraced pass-time ratio.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. The line before it is the run record: what was measured and on
what (git sha, cores, scale, seed, pyspark version, calibration probe,
per-op times).
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "commerce_data_pipeline_spark"
CACHE_ROOT = os.path.join(ROOT, PACKAGE, ".cache")
CACHE_TAG = "perfbench"
SCALE = 0.01
# Set-ups per run. The first also launches the JVM and pays the cold
# start; setup_s is the median of the rest (see cold_setup_s in the record).
SETUP_REPS = 4

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "heap_retained_mb": "MB",
    "stored_bytes_per_input_byte": "1",
    "ok_ratio": "1",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=SCALE)
    return p.parse_args(argv)


def _git(*cmd) -> str | None:
    try:
        out = subprocess.run(
            ["git", *cmd], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )


def tag_cache_dirs() -> list[str]:
    """The benchmark's own `.cache` frames: every leaf under its cache tag."""
    if not os.path.isdir(CACHE_ROOT):
        return []
    return [
        os.path.join(CACHE_ROOT, kind, leaf)
        for kind in sorted(os.listdir(CACHE_ROOT))
        if os.path.isdir(os.path.join(CACHE_ROOT, kind))
        for leaf in sorted(os.listdir(os.path.join(CACHE_ROOT, kind)))
        if leaf.endswith("_" + CACHE_TAG)
    ]


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this driver process, the JVM and its Python workers."""
    jvm = spark.sparkContext._gateway.proc.pid
    return _hwm_mb(os.getpid()) + sum(_hwm_mb(p) for p in _descendants(jvm))


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: the least of
    three, as Spark's cleaner frees blocks of collected RDDs in between."""
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        used.append((runtime.totalMemory() - runtime.freeMemory()) / 2**20)
        time.sleep(0.2)
    return min(used)


def tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples above it, as (pct, value);
    the maximum when there are too few samples for one."""
    s = sorted(samples)
    k = len(s) - 11
    if k < 0:
        return 100.0, s[-1]
    return 100.0 * (k + 1) / len(s), s[k]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, args):
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(
                f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}"
            )
        self.args = args
        self.work = os.path.join(HERE, "_work", args.workload)
        self.data_dir = os.path.join(self.work, f"sf{args.scale}_s{args.seed}")
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.ctx = None  # the bronze.py steps' context, when the workload has any
        self.attempted = 0
        self.failures: list[str] = []
        self.record: dict = {}

    # -- set-up ---------------------------------------------------------------

    def prepare(self) -> None:
        """Empty the benchmark's own scratch and write the seeded inputs."""
        import datagen

        shutil.rmtree(self.work, ignore_errors=True)
        local, tmp = os.path.join(self.work, "spark-local"), os.path.join(self.work, "tmp")
        os.makedirs(local)
        os.makedirs(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = local
        # Keep every temporary file of this process, the JVMs and the Python
        # workers inside the scratch directory.
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # Python workers import the package from the checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        t0 = time.perf_counter()
        self.source_bytes = datagen.write(self.data_dir, self.args.seed, self.args.scale)
        self.record["datagen_s"] = time.perf_counter() - t0

    def setup_once(self) -> dict:
        """One set-up from empty: session start, warm-up, build-once frames."""
        import workloads
        from commerce_data_pipeline_spark.queries import set_cache_tag
        from commerce_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        for d in tag_cache_dirs():
            shutil.rmtree(d)
        set_cache_tag(CACHE_TAG)
        t0 = time.perf_counter()
        self.spark = get_spark("bench", cpus=self.nproc)
        t1 = time.perf_counter()
        self.warmup()
        t2 = time.perf_counter()
        for build in workloads.CACHE_FRAMES.get(self.args.workload, ()):
            build(self.spark, self.data_dir)
        t3 = time.perf_counter()
        return {"session_s": t1 - t0, "warmup_s": t2 - t1, "cache_build_s": t3 - t2}

    def warmup(self) -> None:
        """Session bring-up costs no op should pay: codegen, parquet reader,
        shuffle. Python workers start in the checking pass, before any
        timed pass."""
        from pyspark.sql import functions as F

        from commerce_data_pipeline_spark.catalog import load_table

        spark = self.spark
        noop(spark.range(1000).selectExpr("sum(id)"))
        region = load_table(spark, self.data_dir, "region")
        noop(region.join(region.select(F.col("r_regionkey")), on="r_regionkey").groupBy("r_name").count())

    def probe(self) -> float:
        """bench.py's calibration probe shape (constant work, one 32-key
        shuffle), min of 3: a diagnostic of how contended the box was."""
        from pyspark.sql import functions as F

        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            noop(self.spark.range(2_000_000).groupBy((F.col("id") % 32).alias("k")).agg(F.sum("id")))
            best = min(best, time.perf_counter() - t0)
        return best

    def drop(self) -> None:
        """Release cached tables and persisted RDDs (local checkpoints too)."""
        self.spark.catalog.clearCache()
        for jrdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)

    # -- passes ---------------------------------------------------------------

    def run_op(self, name, con, tracer, reader, parent, group):
        """One op: build, then the final action (a collect checked against the
        oracle when `con` is given, else a noop write). A bronze.py step
        builds and acts in one call, all of it timed as its action, and is
        checked by its own check. Returns the op's wall time and, when
        traced, its layer record."""
        import bronze
        import workloads
        from commerce_data_pipeline_spark.queries import REGISTRY
        from layers import covered, empty_record

        self.attempted += 1
        step, ctx = bronze.STEP.get(name), self.ctx
        if step is not None:
            ctx.verifying, ctx.timings = con is not None, {}
            if reader:
                disk_before = [bronze.disk(ctx, *roots) for roots in bronze.DISK_LAYERS.values()]
        span = tracer.open(name, parent)
        if reader:
            reader.set_group(group + ("/action" if step else "/build"))
        w0, t0 = time.time(), time.perf_counter()
        try:
            if step is not None:
                w1, t1 = w0, t0
                result = step.run(ctx)
                w2, t2 = time.time(), time.perf_counter()
                problem = step.check(ctx, result) if con is not None else None
            else:
                df = REGISTRY[name].spark(self.spark, self.data_dir)
                w1, t1 = time.time(), time.perf_counter()
                if reader:
                    reader.set_group(group + "/action")
                if con is None:
                    noop(df)
                    problem = None
                else:
                    cols, rows = df.columns, [tuple(r) for r in df.collect()]
                w2, t2 = time.time(), time.perf_counter()
                if con is not None:
                    problem = workloads.check(con, name, cols, rows)
        except Exception as e:  # an op failure is a result, not a crash
            w1 = w2 = time.time()
            t1 = t2 = time.perf_counter()
            problem = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]
        w3 = time.time()
        if problem:
            self.failures.append(f"{name}: {problem}")
        rec = None
        if reader:
            rec = empty_record()
            tracer.add("build", w0, w1, span)
            tracer.add("action", w1, w2, span)
            if con is not None:
                tracer.add("verify", w2, w3, span)
            jobs = []
            for phase, key in (("build", "pre"), ("action", "action")):
                for jid, a, b, stage_ids in reader.jobs(f"{group}/{phase}"):
                    tracer.add(f"job {jid}", a, b, span, phase="pre-action" if key == "pre" else "action")
                    rec[f"{key}_jobs"] += 1
                    rec[f"{key}_job_s"] += b - a
                    jobs.append((a, b))
                    reader.stages(stage_ids, rec)
            reader.plan_nodes(rec)
            reader.storage(rec)
            reader.clear_group()
            rec["build_s"] = t1 - t0
            rec["action_s"] = t2 - t1
            rec["self_s"] = (w2 - w0) - covered(jobs, w0, w2)
            if step is not None:
                if name in bronze.STEP_LAYERS:
                    rec[bronze.STEP_LAYERS[name]] = t2 - t0
                rec.update(ctx.timings)
                # What the step changed on disk; summed over a pass, what
                # the pass leaves.
                for (prefix, roots), (files, size) in zip(bronze.DISK_LAYERS.items(), disk_before):
                    now_files, now_size = bronze.disk(ctx, *roots)
                    rec[f"{prefix}_files"] += now_files - files
                    rec[f"{prefix}_bytes"] += now_size - size
        # A traced op's time includes its status-store reads: that is the
        # tracing overhead the traced/untraced ratio reports.
        wall = time.perf_counter() - t0 if reader else t2 - t0
        tracer.close(span)
        self.drop()
        return wall, rec

    def check_pass(self, con, tracer, reader) -> None:
        import bronze
        import workloads

        span = tracer.open("check", None)
        if self.ctx is not None:
            bronze.reset(self.ctx)
        for name in workloads.WORKLOADS[self.args.workload]:
            self.run_op(name, con, tracer, reader, span, f"check/{name}")
        tracer.close(span)

    def timed_passes(self, tracer, reader) -> list[tuple[int, str, float, dict | None]]:
        """Passes in seeded op order until `--seconds` have elapsed, stopping
        at an op boundary once every op has a sample. When tracing, passes
        run untraced, traced, traced, untraced, ... so that drift (the JIT
        still warming) falls evenly on both sides of the overhead ratio,
        and the first two passes (one of each) always complete. A pass with
        bronze.py steps starts from empty roots. Returns (pass, op, wall,
        layer record) per op run."""
        import bronze
        import workloads

        ops = workloads.WORKLOADS[self.args.workload]
        full_passes = 2 if self.args.trace else 1
        samples = []
        t0 = time.perf_counter()
        for n in itertools.count():
            traced = reader if n % 4 in (1, 2) else None
            span = tracer.open(f"pass {n}", None, traced=traced is not None)
            if self.ctx is not None:
                bronze.reset(self.ctx)
            for i, name in enumerate(workloads.pass_order(self.args.workload, self.args.seed, n)):
                wall, rec = self.run_op(name, None, tracer, traced, span, f"p{n}/{name}")
                samples.append((n, name, wall, rec))
                done = n >= full_passes or (n == full_passes - 1 and i == len(ops) - 1)
                if done and time.perf_counter() - t0 >= self.args.seconds:
                    tracer.close(span)
                    return samples
            tracer.close(span)

    # -- main -----------------------------------------------------------------

    def run(self) -> dict:
        import duckdb
        import pyspark

        import bronze
        import workloads
        from layers import StatusReader, Tracer

        args = self.args
        self.prepare()
        reps = []
        for _ in range(SETUP_REPS):
            reps.append(self.setup_once())
            self.record.setdefault("cold_setup_s", time.perf_counter() - STARTED)
        tracer = Tracer(f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}", bool(args.trace))
        reader = StatusReader(self.spark) if args.trace else None
        con = duckdb.connect()
        for t in sorted(os.listdir(self.data_dir)):
            view = t.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{os.path.join(self.data_dir, t)}')"
            )
        if any(n in bronze.STEP for n in workloads.WORKLOADS[args.workload]):
            self.ctx = bronze.Ctx(
                self.spark, self.data_dir, self.work, args.seed, con=bronze.open_oracle(self.data_dir)
            )
            bronze.seeded_choices(self.ctx)
        probe_before = self.probe()
        t0 = time.perf_counter()
        self.check_pass(con, tracer, reader)
        con.close()
        self.record["check_pass_s"] = time.perf_counter() - t0
        # What a whole pass leaves in the bronze and ledger roots (a timed
        # pass can stop part way).
        written_bytes = 0
        if self.ctx is not None:
            self.ctx.con.close()
            written_bytes = sum(_dir_bytes(self.ctx.root(r)) for r in bronze.ROOTS)

        t0 = time.perf_counter()
        self.record["first_timed_pass_after_s"] = t0 - STARTED
        samples = self.timed_passes(tracer, reader)
        self.record["timed_s"] = time.perf_counter() - t0
        probe_after = self.probe()
        rss = peak_rss_mb(self.spark)
        heap = retained_heap_mb(self.spark)
        cache_bytes = sum(_dir_bytes(d) for d in tag_cache_dirs())
        input_bytes = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in workloads.STORED_FROM[args.workload]
        )

        untraced: dict[str, list[float]] = {}
        for _, name, wall, rec in samples:
            if rec is None:
                untraced.setdefault(name, []).append(wall)
        op_median = {k: statistics.median(v) for k, v in untraced.items()}
        op_s = [w for v in untraced.values() for w in v]
        pct, tail_s = tail(op_s)
        sha = _git("rev-parse", "HEAD")
        self.record.update({
            "workload": args.workload,
            "seed": args.seed,
            "traced": bool(args.trace),
            "mode": "noop",
            "sf": args.scale,
            "nproc": self.nproc,
            "git_sha": sha,
            "git_dirty": None if sha is None else _git("status", "--porcelain") != "",
            "pyspark": pyspark.__version__,
            "probe_before_s": probe_before,
            "probe_after_s": probe_after,
            "probe_ratio": probe_after / probe_before,
            "setup_reps": reps,
            "passes_started": samples[-1][0] + 1,
            "op_samples": {k: len(v) for k, v in untraced.items()},
            "op_p50_s": statistics.median(op_median.values()),
            "op_tail": {"pct": pct, "n": len(op_s), "value_s": tail_s},
            "op_median_s": op_median,
            "op_times_s": untraced,
            "source_bytes": self.source_bytes,
            "input_bytes": input_bytes,
            "cache_bytes": cache_bytes,
            "written_bytes": written_bytes,
            "peak_rss_mb": rss,
            "failures": self.failures,
        })
        if args.trace:
            metrics = self.layer_metrics(samples, reps[1:], sum(op_median.values()))
            trace_path = os.path.join(self.work, "trace.json")
            tracer.dump(trace_path)
            self.record["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            values = {
                "setup_s": statistics.median(sum(r.values()) for r in reps[1:]),
                "pass_s": sum(op_median.values()),
                "heap_retained_mb": heap,
                "stored_bytes_per_input_byte": (input_bytes + cache_bytes + written_bytes) / input_bytes,
                "ok_ratio": 1.0 - len(self.failures) / self.attempted,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        return metrics

    def shutdown(self) -> None:
        """Stop the session, then the JVM it runs in (it exits when its
        stdin closes), and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def layer_metrics(self, samples, reps, untraced_pass_s: float) -> dict:
        from layers import layer_metrics, op_medians

        per_op = op_medians([(name, wall, rec) for _, name, wall, rec in samples if rec])
        self.record["per_op_layers"] = per_op
        return layer_metrics(per_op, reps, self.nproc, untraced_pass_s)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    bench = Bench(args)
    try:
        metrics = bench.run()
    finally:
        bench.shutdown()
    print(json.dumps({"record": bench.record}, default=str))
    failed = len(bench.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
