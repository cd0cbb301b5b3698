"""In-memory spans plus per-op readings of Spark's own status stores.

Spans record name, start, end (epoch seconds), parent and run id, and are
written out once, when the run ends. Spark job spans come from the job
group each op phase runs under; the per-stage and per-plan-node numbers
come from the application status store and the SQL status store, both
of which are populated with the UI disabled. They are read right after
every op, before the next op can push them out of the stores' retention
windows.
"""

from __future__ import annotations

import itertools
import json
import re
import statistics
import time
from dataclasses import dataclass, field

# Additive per-op layer readings, in the order the record lists them.
COUNTERS = (
    "pre_jobs", "pre_job_s", "action_jobs", "action_job_s", "self_s",
    "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "input_bytes", "input_records", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_disk_bytes", "spill_mem_bytes", "result_bytes",
    "wscg_s", "agg_build_s", "sort_s", "broadcast_build_s",
    "python_rows_out", "python_bytes_sent", "python_bytes_received",
    "scan_count", "exchange_count",
    "ckpt_rdds", "ckpt_mem_bytes", "ckpt_disk_bytes",
    # bronze.py steps (zero on workloads without them); files and bytes are what a
    # step changed on disk, so their sum over a pass is what it leaves
    "bronze_backfill_s", "bronze_rerun_s", "bronze_run_daily_s", "bronze_status_s",
    "bronze_read_s", "bronze_files", "bronze_bytes",
    "ledger_match_s", "ledger_ingest_s", "ledger_compact_s", "ledger_files", "ledger_bytes",
)
# Per-op maxima (MB).
PEAKS = ("stage_peak_mem_mb", "agg_peak_mem_mb")

_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PY_NODES = ("Python", "Pandas", "Arrow")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    sid: int
    tags: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. `enabled=False` keeps the same call sites free."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()

    def add(self, name: str, start: float, end: float, parent: int | None, **tags) -> int:
        if not self.enabled:
            return -1
        sid = next(self._ids)
        self.spans.append(Span(name, start, end, parent, self.run_id, sid, tags))
        return sid

    def open(self, name: str, parent: int | None, **tags) -> int:
        """Start a span whose end is set later by `close`."""
        return self.add(name, time.time(), float("nan"), parent, **tags)

    def close(self, sid: int) -> None:
        if self.enabled:
            self.spans[sid].end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`: a span's
    duration minus this is its self time."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(option):
    return option.get() if option.isDefined() else None


def parse_metric(text: str, kind: str) -> float:
    """Value of one SQL metric as the status store formats it: the total
    (first figure on the last line), converted to seconds or bytes."""
    m = _NUM.search(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind in ("timing", "nsTiming"):
        return value * _TIME_UNITS.get(unit, 1e-3)
    if kind == "size":
        return value * _SIZE_UNITS.get(unit, 1)
    return value


class StatusReader:
    """Reads the job, stage, SQL-node and storage figures of one op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.last_execution = self._max_execution_id()

    def _max_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return max(e.executionId() for e in _seq(self.sql_store.executionsList(n - 1, 1)))

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> list[tuple[int, float, float, list[int]]]:
        """(job id, submit, complete, stage ids) of every job in `group`."""
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
            if sub is None:
                continue
            start = sub.getTime() / 1000.0
            end = done.getTime() / 1000.0 if done is not None else start
            out.append((jid, start, end, [int(s) for s in _seq(jd.stageIds())]))
        return out

    def stages(self, stage_ids: list[int], rec: dict) -> None:
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # skipped stage (reused exchange): never ran
                continue
            if str(st.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["run_s"] += st.executorRunTime() / 1e3
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["input_bytes"] += st.inputBytes()
            rec["input_records"] += st.inputRecords()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["spill_disk_bytes"] += st.diskBytesSpilled()
            rec["spill_mem_bytes"] += st.memoryBytesSpilled()
            rec["result_bytes"] += st.resultSize()
            rec["stage_peak_mem_mb"] = max(
                rec["stage_peak_mem_mb"], st.peakExecutionMemory() / 2**20
            )

    def plan_nodes(self, rec: dict) -> None:
        """Fold the plan-node metrics of every SQL execution since the last call."""
        n = self.sql_store.executionsCount()
        fresh = [
            e for e in _seq(self.sql_store.executionsList(max(0, n - 1000), 1000))
            if e.executionId() > self.last_execution
        ]
        for e in fresh:
            eid = e.executionId()
            self.last_execution = max(self.last_execution, eid)
            values = self.sql_store.executionMetrics(eid)
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                name = node.name()
                if name.startswith("Scan "):
                    rec["scan_count"] += 1
                elif name == "Exchange":
                    rec["exchange_count"] += 1
                python = any(k in name for k in _PY_NODES)
                for m in _seq(node.metrics()):
                    text = _opt(values.get(m.accumulatorId()))
                    if text is None:
                        continue
                    key = _node_metric(name, m.name(), python)
                    if key is None:
                        continue
                    v = parse_metric(text, m.metricType())
                    if key == "agg_peak_mem_mb":
                        rec[key] = max(rec[key], v / 2**20)
                    else:
                        rec[key] += v

    def storage(self, rec: dict) -> None:
        """Persisted RDDs (local checkpoints included) still held by the op."""
        rec["ckpt_rdds"] += self.sc._jsc.getPersistentRDDs().size()
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            rec["ckpt_mem_bytes"] += info.memSize()
            rec["ckpt_disk_bytes"] += info.diskSize()


def _node_metric(node: str, metric: str, python: bool) -> str | None:
    if node.startswith("WholeStageCodegen") and metric == "duration":
        return "wscg_s"
    if "Aggregate" in node and metric == "time in aggregation build":
        return "agg_build_s"
    if "Aggregate" in node and metric == "peak memory":
        return "agg_peak_mem_mb"
    if node == "Sort" and metric == "sort time":
        return "sort_s"
    if node == "BroadcastExchange" and metric == "time to build":
        return "broadcast_build_s"
    if python and metric == "number of output rows":
        return "python_rows_out"
    if python and metric == "data sent to Python workers":
        return "python_bytes_sent"
    if python and metric == "data returned from Python workers":
        return "python_bytes_received"
    return None


def empty_record() -> dict:
    rec = dict.fromkeys(COUNTERS, 0)
    rec.update(dict.fromkeys(PEAKS, 0.0))
    return rec


# Per-layer metric name -> (unit, per-op reading it totals).
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "queries.build_s": ("s", "build_s"),
    "driver.pre_jobs": ("count", "pre_jobs"),
    "driver.pre_job_s": ("s", "pre_job_s"),
    "driver.self_s": ("s", "self_s"),
    "action.s": ("s", "action_s"),
    "action.jobs": ("count", "action_jobs"),
    "exec.stages": ("count", "stages"),
    "exec.tasks": ("count", "tasks"),
    "exec.run_s": ("s", "run_s"),
    "exec.cpu_s": ("s", "cpu_s"),
    "exec.gc_s": ("s", "gc_s"),
    "scan.input_bytes": ("B", "input_bytes"),
    "scan.input_records": ("count", "input_records"),
    "shuffle.write_bytes": ("B", "shuffle_write_bytes"),
    "shuffle.read_bytes": ("B", "shuffle_read_bytes"),
    "spill.disk_bytes": ("B", "spill_disk_bytes"),
    "spill.mem_bytes": ("B", "spill_mem_bytes"),
    "exec.peak_mem_mb": ("MB", "stage_peak_mem_mb"),
    "exec.result_bytes": ("B", "result_bytes"),
    "codegen.wscg_s": ("s", "wscg_s"),
    "agg.build_s": ("s", "agg_build_s"),
    "agg.peak_mem_mb": ("MB", "agg_peak_mem_mb"),
    "sort.s": ("s", "sort_s"),
    "broadcast.build_s": ("s", "broadcast_build_s"),
    "python.rows_out": ("count", "python_rows_out"),
    "python.bytes_sent": ("B", "python_bytes_sent"),
    "python.bytes_received": ("B", "python_bytes_received"),
    "scan.count": ("count", "scan_count"),
    "exchange.count": ("count", "exchange_count"),
    "checkpoint.rdds": ("count", "ckpt_rdds"),
    "checkpoint.mem_bytes": ("B", "ckpt_mem_bytes"),
    "checkpoint.disk_bytes": ("B", "ckpt_disk_bytes"),
    "bronze.backfill_s": ("s", "bronze_backfill_s"),
    "bronze.rerun_s": ("s", "bronze_rerun_s"),
    "bronze.run_daily_s": ("s", "bronze_run_daily_s"),
    "bronze.status_s": ("s", "bronze_status_s"),
    "bronze.read_s": ("s", "bronze_read_s"),
    "bronze.files_written": ("count", "bronze_files"),
    "bronze.bytes_written": ("B", "bronze_bytes"),
    "ledger.match_s": ("s", "ledger_match_s"),
    "ledger.ingest_s": ("s", "ledger_ingest_s"),
    "ledger.compact_s": ("s", "ledger_compact_s"),
    "ledger.files_written": ("count", "ledger_files"),
    "ledger.bytes_written": ("B", "ledger_bytes"),
}
SETUP_METRICS = ("session_s", "warmup_s", "cache_build_s")


def op_medians(traced: list[tuple[str, float, dict]]) -> dict[str, dict]:
    """Per op, the median of every layer reading (and of its wall time)
    over its traced runs."""
    by_op: dict[str, list[tuple[float, dict]]] = {}
    for name, wall, rec in traced:
        by_op.setdefault(name, []).append((wall, rec))
    return {
        name: {
            "wall_s": statistics.median(w for w, _ in runs),
            **{k: statistics.median(r[k] for _, r in runs) for k in (*COUNTERS, *PEAKS, "build_s", "action_s")},
        }
        for name, runs in by_op.items()
    }


def layer_metrics(per_op: dict[str, dict], reps: list[dict], nproc: int, untraced_pass_s: float) -> dict:
    """Per-layer metrics of one traced run, each {value, unit}: the sum over
    ops of each op's median reading (peaks: the maximum over ops)."""

    def total(key):
        if key in PEAKS:
            return max(r[key] for r in per_op.values())
        return sum(r[key] for r in per_op.values())

    out = {
        f"setup.{k}": (statistics.median(r[k] for r in reps), "s") for k in SETUP_METRICS
    }
    for name, (unit, key) in LAYER_METRICS.items():
        out[name] = (total(key), unit)
    out["exec.busy_ratio"] = (total("run_s") / (nproc * (total("build_s") + total("action_s"))), "1")
    out["trace.overhead_ratio"] = (total("wall_s") / untraced_pass_s, "1")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
