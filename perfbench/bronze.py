"""The write half of the `olap_ingest` workload: bronze ingest of the
events and a fingerprint ledger over the documents, through the package's
`sources` layer. These steps are the only ones in the benchmark that write.

Each pass runs them first, in this order, over fresh benchmark-owned roots:

1. set-based `backfill` of the first BRONZE_DAYS event days;
2. the same backfill again, which must skip every day;
3. a forced `run_daily` of FORCED_DAYS days the seed picks;
4. `status(days_back=None)`;
5. `read_table(EVENTS)` and a funnel over the bronze data;
6. `FingerprintLedger.ingest` of the seed's first document batch, then
   `filter_new` (the lookup against history) and `ingest` of the second;
7. `FingerprintLedger.compact`.

The bronze source is the events of those first days. The window, the one
forced day and the two ledger batches keep the steps near eight seconds a
pass: every step runs several Spark jobs.

Each step is checked once per run, outside the timed passes, against the
step context's own DuckDB connection, whose `events` view holds only the
source window: bronze steps against per-day row counts of the source and
the `_meta.json` `record_count`, the funnel over bronze against the
funnel oracle, and the ledger against a from-scratch replay of the batches.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import date, timedelta

from pyspark.sql import functions as F

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.operators.analytics import funnel
from commerce_data_pipeline_spark.queries.analytics import FUNNEL_STAGES
from commerce_data_pipeline_spark.schemas import EVENTS
from commerce_data_pipeline_spark.sources.bronze import BronzePipeline, BronzeWriter
from commerce_data_pipeline_spark.sources.ledger import FingerprintLedger

from datagen import EVENT_START

BRONZE_DAYS = 5
FIRST_DAY = EVENT_START.date()
LAST_DAY = FIRST_DAY + timedelta(days=BRONZE_DAYS - 1)
FORCED_DAYS = 1
LEDGER_BATCHES = 2
# One hex digit of key prefix: 16 ledger partitions, the engine's 2-digit
# default (256) scaled down to a corpus of a few hundred documents.
LEDGER_PREFIX_CHARS = 1
ROOTS = ("bronze", "ledger")


@dataclass
class Ctx:
    """What the steps read: session, inputs, roots and the seeded choices.
    `verifying` makes `materialize` collect instead of noop-writing, and
    `timings` collects the sub-step times the traced run reports."""

    spark: object
    data_dir: str
    work: str
    seed: int
    con: object = None  # DuckDB, see `open_oracle`
    verifying: bool = False
    forced_days: list[date] = field(default_factory=list)
    batch_of: dict[int, int] = field(default_factory=dict)
    timings: dict[str, float] = field(default_factory=dict)
    state: dict = field(default_factory=dict)

    def root(self, name: str) -> str:
        return os.path.join(self.work, name)

    def materialize(self, df):
        """Collect (as sorted tuples) while verifying, else a noop write."""
        if self.verifying:
            return sorted(tuple(r) for r in df.collect())
        df.write.format("noop").mode("overwrite").save()
        return None

    def timed(self, key: str, fn: Callable):
        t0 = time.perf_counter()
        out = fn()
        self.timings[key] = self.timings.get(key, 0.0) + time.perf_counter() - t0
        return out

    def oracle(self, sql: str) -> list[tuple]:
        return self.con.sql(sql).fetchall()


def seeded_choices(ctx: Ctx) -> None:
    """Days force-re-run and the ledger batch of every document."""
    rng = random.Random(ctx.seed)
    days = [FIRST_DAY + timedelta(days=i) for i in range(BRONZE_DAYS)]
    ctx.forced_days = sorted(rng.sample(days, FORCED_DAYS))
    ids = [r[0] for r in ctx.oracle("SELECT doc_id FROM documents ORDER BY doc_id")]
    ctx.batch_of = {i: rng.randrange(LEDGER_BATCHES) for i in ids}


def open_oracle(data_dir: str):
    """A DuckDB connection whose `events` view is the bronze source window,
    so the oracles see what the pipeline reads, and whose `documents` view
    is the ledger's input."""
    import duckdb

    con = duckdb.connect()
    events, docs = (os.path.join(data_dir, f"{t}.parquet") for t in ("events", "documents"))
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')"
        f" WHERE CAST(ts AS DATE) <= DATE '{LAST_DAY}'"
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    return con


def reset(ctx: Ctx) -> None:
    """Start a pass from empty roots."""
    for name in ROOTS:
        shutil.rmtree(ctx.root(name), ignore_errors=True)


def disk(ctx: Ctx, *names: str) -> tuple[int, int]:
    """(files, bytes) under the named roots."""
    files = size = 0
    for name in names:
        for d, _, leaves in os.walk(ctx.root(name)):
            files += len(leaves)
            size += sum(os.path.getsize(os.path.join(d, n)) for n in leaves)
    return files, size


# -- bronze ------------------------------------------------------------------


def _source(ctx: Ctx):
    events = load_table(ctx.spark, ctx.data_dir, "events")
    return events.filter(F.to_date("ts") <= F.lit(LAST_DAY.isoformat()))


def _pipe(ctx: Ctx) -> BronzePipeline:
    return BronzePipeline(
        spark=ctx.spark,
        source=lambda: _source(ctx),
        writer=BronzeWriter(root=ctx.root("bronze"), data_type="events"),
        date_col="ts",
        sort_col="ts",
    )


def _day_counts(ctx: Ctx) -> dict[str, int]:
    rows = ctx.oracle("SELECT CAST(CAST(ts AS DATE) AS VARCHAR), COUNT(*) FROM events GROUP BY 1")
    return {d: int(n) for d, n in rows}


def _check_backfill(ctx: Ctx, summary: dict) -> str | None:
    want = _day_counts(ctx)
    got = {r["date"]: r["records"] for r in summary["results"]}
    if summary["successful_days"] != BRONZE_DAYS or got != want:
        return f"backfill day counts {got} vs source {want}"
    return None


def _check_rerun(ctx: Ctx, summary: dict) -> str | None:
    if summary["skipped_days"] != BRONZE_DAYS or summary["results"]:
        return f"re-run did not skip every day: {summary}"
    return None


def _run_daily(ctx: Ctx) -> list[dict]:
    pipe = _pipe(ctx)
    return [pipe.run_daily(d, skip_existing=False) for d in ctx.forced_days]


def _check_run_daily(ctx: Ctx, results: list[dict]) -> str | None:
    want = _day_counts(ctx)
    writer = _pipe(ctx).writer
    for d, r in zip(ctx.forced_days, results):
        meta = writer.read_metadata(d) or {}
        n = want[d.isoformat()]
        if not r["success"] or r["records"] != n or meta.get("record_count") != n:
            return f"run_daily {d}: {r}, _meta.json {meta}, source {n}"
    return None


def _check_status(ctx: Ctx, status: dict) -> str | None:
    if not status["is_healthy"] or len(status["sink_dates"]) != BRONZE_DAYS:
        return f"status after backfill: {status}"
    return None


def _read_funnel(ctx: Ctx):
    df = funnel(_pipe(ctx).writer.read_table(EVENTS), FUNNEL_STAGES)
    ctx.state["funnel_columns"] = df.columns
    return ctx.materialize(df)


def _check_read_funnel(ctx: Ctx, rows) -> str | None:
    """The funnel over bronze must equal the funnel op's oracle (over the
    source window, see `open_oracle`)."""
    from workloads import check

    return check(ctx.con, "funnel", ctx.state["funnel_columns"], rows)


# -- ledgers -----------------------------------------------------------------


def _batches(ctx: Ctx):
    """The seed's document batches, split by a join on a (doc_id, batch)
    frame so the plan stays the same size whatever the batch holds."""
    docs = load_table(ctx.spark, ctx.data_dir, "documents")
    split = ctx.spark.createDataFrame(sorted(ctx.batch_of.items()), "doc_id long, batch int")
    tagged = docs.join(F.broadcast(split), on="doc_id")
    return [tagged.filter(F.col("batch") == k).drop("batch") for k in range(LEDGER_BATCHES)]


def _ledger(ctx: Ctx) -> FingerprintLedger:
    return FingerprintLedger(ctx.spark, ctx.root("ledger"), prefix_chars=LEDGER_PREFIX_CHARS)


def _ledger_ingest(ctx: Ctx) -> list:
    """Ingest the first batch into an empty ledger, look the second up
    against it (`filter_new`: the rows whose content is new), then ingest
    the second. Returns (looked-up rows or None, admitted rows) per batch."""
    ledger = _ledger(ctx)
    out = []
    for k, batch in enumerate(_batches(ctx)):
        new = None
        if k:
            new = ctx.timed(
                "ledger_match_s", lambda: ctx.materialize(ledger.filter_new(batch).select("doc_id", "fp"))
            )
        admitted = ctx.timed(
            "ledger_ingest_s", lambda: ctx.materialize(ledger.ingest(batch).select("doc_id", "fp"))
        )
        out.append((new, admitted))
    return out


def _check_ledger_ingest(ctx: Ctx, got: list) -> str | None:
    """Replay from scratch: fingerprints of every document at once, then
    per batch in order, the lowest id of each fingerprint not seen before."""
    docs = load_table(ctx.spark, ctx.data_dir, "documents")
    fp = {
        r["doc_id"]: r["fp"]
        for r in _ledger(ctx).with_fingerprint(docs).select("doc_id", "fp").collect()
    }
    seen: set[str] = set()
    for k, (new, admitted) in enumerate(got):
        first: dict[str, int] = {}
        for i in sorted(i for i, b in ctx.batch_of.items() if b == k):
            if fp[i] not in seen:
                first.setdefault(fp[i], i)
        seen |= set(first)
        want = sorted((i, f) for f, i in first.items())
        if admitted != want or (new is not None and new != want):
            return f"fingerprint ledger batch {k} differs from replay"
    ctx.state["fps"] = seen
    return None


def _ledger_compact(ctx: Ctx):
    ledger = _ledger(ctx)
    ctx.timed("ledger_compact_s", ledger.compact)
    return ctx.materialize(ledger.known())


def _check_ledger_compact(ctx: Ctx, rows) -> str | None:
    if [f for (f,) in rows] != sorted(ctx.state["fps"]):
        return "compacted fingerprint ledger differs from replay"
    return None


@dataclass(frozen=True)
class Step:
    name: str
    run: Callable[[Ctx], object]
    check: Callable[[Ctx, object], str | None]


def _whole(ctx: Ctx) -> dict:
    return _pipe(ctx).backfill(FIRST_DAY, LAST_DAY)


STEPS: tuple[Step, ...] = (
    Step("backfill", _whole, _check_backfill),
    Step("rerun", _whole, _check_rerun),
    Step("run_daily", _run_daily, _check_run_daily),
    Step("status", lambda ctx: _pipe(ctx).status(days_back=None), _check_status),
    Step("read_funnel", _read_funnel, _check_read_funnel),
    Step("ledger_ingest", _ledger_ingest, _check_ledger_ingest),
    Step("ledger_compact", _ledger_compact, _check_ledger_compact),
)
STEP = {s.name: s for s in STEPS}

# Per-layer readings: a step's time, by the layer metric it feeds, and the
# roots whose files and bytes each `<prefix>_files`/`<prefix>_bytes` counts.
STEP_LAYERS = {
    "backfill": "bronze_backfill_s",
    "rerun": "bronze_rerun_s",
    "run_daily": "bronze_run_daily_s",
    "status": "bronze_status_s",
    "read_funnel": "bronze_read_s",
}
DISK_LAYERS = {"bronze": ("bronze",), "ledger": ("ledger",)}
