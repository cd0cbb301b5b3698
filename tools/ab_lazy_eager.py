"""Same-session alternating A/B of lazy vs eager checkpoints (r18 item 1).

The r17 judge flagged that "lazy >= eager" is NOT a theorem when a lazily
persisted frame feeds concurrent subtrees of one job (partitions can be
computed more than once before blocks land). This tool adjudicates each
flagged site: it wraps the package-wide checkpoint shim with a version
that forces ``eager=True`` ONLY when the call originates from the target
file:lineno sites, then times each query (build + noop write through
`measure.time_reps`) alternating lazy (A) / eager (B) inside ONE
SparkSession — the only comparison this box's +-40% session noise
permits.

    python tools/ab_lazy_eager.py \
        --file commerce_data_pipeline_spark/operators/similarity.py \
        --lines 233 --queries ann_lsh,ann_lsh_md5 [--rounds 3] [--reps 3] \
        [--sf-dir /root/testdata/sf0.1]

Empty --lines forces eager for EVERY lazy checkpoint reached through the
named file. Prints one JSON line per query:
    {"query": q, "lazy": [min_r1, ...], "eager": [...],
     "lazy_best": x, "eager_best": y, "verdict": "lazy|eager|tie"}
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from commerce_data_pipeline_spark import checkpoint as _ckpt_mod
from commerce_data_pipeline_spark.measure import REPS, materialize, time_reps, warm_up
from commerce_data_pipeline_spark.queries import REGISTRY
from commerce_data_pipeline_spark.session import get_spark

_ORIG = _ckpt_mod.checkpoint

# file (abspath) -> set of linenos to force eager at; empty set = whole file
_FORCE: dict[str, set[int]] = {}
_ACTIVE = {"on": False}
_HITS: set[tuple[str, int]] = set()


_SEEN: set[tuple[str, int, bool]] = set()


def _first_frame(match) -> tuple[str, int] | None:
    """(file, line) of the nearest of the checkpoint caller's 10 innermost
    frames whose file name satisfies `match`."""
    f = sys._getframe(2)
    for _ in range(10):
        if f is None:
            return None
        if match(f.f_code.co_filename):
            return f.f_code.co_filename, f.f_lineno
        f = f.f_back
    return None


def _patched(df, eager: bool = True):
    site = _first_frame(lambda fn: "commerce_data_pipeline_spark" in fn)
    _SEEN.add((*(site or ("?", 0)), eager))
    if _ACTIVE["on"] and not eager:
        hit = _first_frame(lambda fn: fn in _FORCE)
        if hit and (not _FORCE[hit[0]] or hit[1] in _FORCE[hit[0]]):
            _HITS.add(hit)
            if _ACTIVE.get("mode") == "skip":
                return df  # no checkpoint at all (measurement arm)
            return _ORIG(df, eager=True)
    return _ORIG(df, eager=eager)


def _install() -> None:
    """Rebind every module-level alias of the checkpoint shim."""
    _ckpt_mod.checkpoint = _patched
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if not name.startswith("commerce_data_pipeline_spark"):
            continue
        for attr in ("_checkpoint", "checkpoint", "_ckpt"):
            if getattr(mod, attr, None) is _ORIG:
                setattr(mod, attr, _patched)


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    ap = argparse.ArgumentParser(add_help=False)
    ap.add_argument("--sf-dir", default=sf_dir)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--reps", type=int, default=REPS)
    ap.add_argument("--file")
    ap.add_argument("--lines", default="")
    ap.add_argument("--queries", default="")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--skip", action="store_true")
    args = ap.parse_args()
    sf_dir, rounds, reps = args.sf_dir, args.rounds, args.reps
    lines = {int(x) for x in args.lines.split(",") if x}
    queries = [q for q in args.queries.split(",") if q]
    if args.skip:
        _ACTIVE["mode"] = "skip"
    if args.trace:
        if not queries:
            print("need --queries", file=sys.stderr)
            return 2
        _install()
        spark = get_spark("ab-trace")
        for name in queries:
            _SEEN.clear()
            materialize(REGISTRY[name].spark(spark, sf_dir))
            sites = sorted(
                f"{os.path.relpath(f, os.getcwd())}:{l}:{'eager' if e else 'lazy'}"
                for f, l, e in _SEEN
            )
            print(json.dumps({"query": name, "checkpoint_sites": sites}), flush=True)
        return 0
    if not args.file or not queries:
        print("need --file and --queries", file=sys.stderr)
        return 2
    unknown = [q for q in queries if q not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    _FORCE[os.path.abspath(args.file)] = lines
    _install()

    spark = get_spark("ab-lazy-eager")
    warm_up(spark, sf_dir)

    for name in queries:
        build = functools.partial(REGISTRY[name].spark, spark, sf_dir)
        res = {"lazy": [], "eager": []}
        for _r in range(rounds):
            for variant in ("lazy", "eager"):
                _ACTIVE["on"] = variant == "eager"
                best = min(r.total_s for r in time_reps(spark, build, reps, name))
                res[variant].append(round(best, 3))
        _ACTIVE["on"] = False
        lb, eb = min(res["lazy"]), min(res["eager"])
        verdict = "tie"
        if eb < lb * 0.95:
            verdict = "eager"
        elif lb < eb * 0.95:
            verdict = "lazy"
        print(json.dumps({
            "query": name, "lazy": res["lazy"], "eager": res["eager"],
            "lazy_best": lb, "eager_best": eb, "verdict": verdict,
            "hits": sorted(f"{os.path.basename(f)}:{l}" for f, l in _HITS),
        }), flush=True)
        _HITS.clear()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
