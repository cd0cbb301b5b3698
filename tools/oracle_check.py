"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same parquet, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by their
stringified tuple). Use while iterating:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from commerce_data_pipeline_spark.catalog import TABLES
from commerce_data_pipeline_spark.measure import drop_persisted
from commerce_data_pipeline_spark.session import get_spark
import __spark_entry__ as entrymod


def _canon(v) -> str:
    import math
    from datetime import date, datetime

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.01"
    only = set(argv[1:]) if len(argv) > 1 else (set(argv[:1]) - {sf_dir} or None)
    results: dict[str, dict] = {}
    if vanilla:
        # session-config-independence differential (the STRESS.md
        # standing check): a PLAIN session — default AQE behavior, 200
        # shuffle partitions, no engine configs — must produce the same
        # oracle-matching results as the tuned get_spark session.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle_check_vanilla")
            .master("local[8]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            drop_persisted(spark)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "fail", "err": f"spark: {e}"[:300]}
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows ({t_spark:.1f}s)")
            results[name] = {
                "status": "rows_only", "rows": len(srows),
                "spark_sec": round(t_spark, 1),
            }
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"status": "fail", "err": f"duckdb: {e}"[:300]}
            failures += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems:
            hs, ho = frame_hash(scols, srows), frame_hash(ocols, orows)
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
                # show a few differing rows for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                set_s = {tuple(_canon(r[i]) for i in order_s) for r in srows}
                set_o = {tuple(_canon(r[i]) for i in order_o) for r in orows}
                for d in list(set_s - set_o)[:3]:
                    print(f"  spark-only: {d}")
                for d in list(set_o - set_s)[:3]:
                    print(f"  oracle-only: {d}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({t_spark:.1f}s)")
            results[name] = {"status": "fail", "err": "; ".join(problems)[:300]}
            failures += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({t_spark:.1f}s)")
            results[name] = {
                "status": "pass", "rows": len(srows), "spark_sec": round(t_spark, 1),
            }
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    if json_out:
        import json

        by_status = lambda s: sum(1 for r in results.values() if r["status"] == s)
        with open(json_out, "w") as f:
            json.dump(
                {
                    "summary": {
                        "sf_dir": sf_dir,
                        "total": len(results),
                        "pass": by_status("pass"),
                        "rows_only": by_status("rows_only"),
                        "fail": by_status("fail"),
                    },
                    "queries": results,
                },
                f,
                indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
