"""Same-session alternating A/B of lazy vs eager checkpoints (r18 item 1).

The r17 judge flagged that "lazy >= eager" is NOT a theorem when a lazily
persisted frame feeds concurrent subtrees of one job (partitions can be
computed more than once before blocks land). This tool adjudicates each
flagged site: it wraps the package-wide checkpoint shim with a version
that forces ``eager=True`` ONLY when the call originates from the target
file:lineno sites, then times each query alternating lazy (A) / eager (B)
inside ONE SparkSession — the only comparison this box's +-40% session
noise permits.

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

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from commerce_data_pipeline_spark import checkpoint as _ckpt_mod
from commerce_data_pipeline_spark.measure import drop_persisted, warm_up
from commerce_data_pipeline_spark.queries import REGISTRY
from commerce_data_pipeline_spark.session import get_spark

_ORIG = _ckpt_mod.checkpoint

# file (abspath) -> set of linenos to force eager at; empty set = whole file
_FORCE: dict[str, set[int]] = {}
_ACTIVE = {"on": False}
_HITS: set[tuple[str, int]] = set()


_SEEN: set[tuple[str, int, bool]] = set()


def _caller_site() -> tuple[str, int]:
    f = sys._getframe(2)
    depth = 0
    while f is not None and depth < 10:
        fn = f.f_code.co_filename
        if "commerce_data_pipeline_spark" in fn:
            return fn, f.f_lineno
        f = f.f_back
        depth += 1
    return "?", 0


def _patched(df, eager: bool = True):
    _SEEN.add((*_caller_site(), eager))
    if _ACTIVE["on"] and not eager:
        f = sys._getframe(1)
        depth = 0
        while f is not None and depth < 10:
            fn = f.f_code.co_filename
            if fn in _FORCE:
                lines = _FORCE[fn]
                if not lines or f.f_lineno in lines:
                    _HITS.add((fn, f.f_lineno))
                    if _ACTIVE.get("mode") == "skip":
                        return df  # no checkpoint at all (measurement arm)
                    return _ORIG(df, eager=True)
                break
            f = f.f_back
            depth += 1
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
    argv = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    rounds, reps = 3, 3
    target_file = None
    lines: set[int] = set()
    queries: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf-dir":
            sf_dir = argv[i + 1]; i += 2
        elif a == "--rounds":
            rounds = int(argv[i + 1]); i += 2
        elif a == "--reps":
            reps = int(argv[i + 1]); i += 2
        elif a == "--file":
            target_file = os.path.abspath(argv[i + 1]); i += 2
        elif a == "--lines":
            lines = {int(x) for x in argv[i + 1].split(",") if x}; i += 2
        elif a == "--queries":
            queries = [q for q in argv[i + 1].split(",") if q]; i += 2
        elif a == "--trace":
            target_file = "__trace__"; i += 1
        elif a == "--skip":
            _ACTIVE["mode"] = "skip"; i += 1
        else:
            print(f"unknown arg {a}", file=sys.stderr)
            return 2
    if target_file == "__trace__":
        if not queries:
            print("need --queries", file=sys.stderr)
            return 2
        _install()
        spark = get_spark("ab-trace")
        for name in queries:
            _SEEN.clear()
            REGISTRY[name].spark(spark, sf_dir).count()
            sites = sorted(
                f"{os.path.relpath(f, os.getcwd())}:{l}:{'eager' if e else 'lazy'}"
                for f, l, e in _SEEN
            )
            print(json.dumps({"query": name, "checkpoint_sites": sites}), flush=True)
        return 0
    if not target_file or not queries:
        print("need --file and --queries", file=sys.stderr)
        return 2
    unknown = [q for q in queries if q not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    _FORCE[target_file] = lines
    _install()

    spark = get_spark("ab-lazy-eager")
    warm_up(spark, sf_dir)

    for name in queries:
        spec = REGISTRY[name]
        res = {"lazy": [], "eager": []}
        for _r in range(rounds):
            for variant in ("lazy", "eager"):
                _ACTIVE["on"] = variant == "eager"
                best = float("inf")
                for _ in range(reps):
                    t0 = time.perf_counter()
                    spec.spark(spark, sf_dir).count()
                    best = min(best, time.perf_counter() - t0)
                    drop_persisted(spark)
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
