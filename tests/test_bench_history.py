"""bench.py defense-history contract (r12 VERDICT #2).

The 2x per-query defense must compare against a contention-proof
history: the per-query MIN over the last committed BENCH_FULL.json and
the last K round artifacts (BENCH_r*.json) measured like the run (same
sf, cpus and materialization), not BENCH_FULL.json alone, which a single
contended refresh can inflate (bigram_lm once entered history at 3.56 s
against a 1.42 s same-code run and became its own baseline).
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import load_defense_history


def _write(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def test_min_over_full_and_rounds(tmp_path):
    repo = str(tmp_path)
    # contended refresh: BENCH_FULL carries the inflated row
    _write(os.path.join(repo, "BENCH_FULL.json"),
           {"sf": 0.1, "cpus": 32, "queries": {"bigram_lm": 3.56, "only_full": 1.0}})
    # driver round artifacts (parsed.queries shape, slowest-first truncated)
    _write(os.path.join(repo, "BENCH_r11.json"),
           {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"bigram_lm": 1.81, "only_r11": 2.0}}})
    _write(os.path.join(repo, "BENCH_r12.json"),
           {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"bigram_lm": 3.56}}})
    hist = load_defense_history(repo, "0.1", 32, "count")
    # the contended 3.56 cannot raise the bar past the r11 1.81
    assert hist["bigram_lm"] == 1.81
    # queries seen in only one source still enter history
    assert hist["only_full"] == 1.0
    assert hist["only_r11"] == 2.0


def test_sf_mismatch_excluded(tmp_path):
    repo = str(tmp_path)
    _write(os.path.join(repo, "BENCH_FULL.json"),
           {"sf": 0.001, "cpus": 32, "queries": {"q": 0.1}})
    _write(os.path.join(repo, "BENCH_r12.json"),
           {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"q": 2.0}}})
    hist = load_defense_history(repo, "0.1", 32, "count")
    # the sf0.001 smoke run must not seed 2x-checks for the sf0.1 round
    assert hist == {"q": 2.0}


def test_last_k_rounds_only(tmp_path):
    repo = str(tmp_path)
    # an ancient fast round must age out of the window (k=2 here): an
    # operator legitimately rewritten to a slower-but-correct plan should
    # not be defended forever against a time it can no longer hit
    _write(os.path.join(repo, "BENCH_r01.json"),
           {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"q": 0.2}}})
    _write(os.path.join(repo, "BENCH_r11.json"),
           {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"q": 1.5}}})
    _write(os.path.join(repo, "BENCH_r12.json"),
           {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"q": 1.6}}})
    hist = load_defense_history(repo, "0.1", 32, "count", k=2)
    assert hist["q"] == 1.5


def test_missing_files_ok(tmp_path):
    assert load_defense_history(str(tmp_path), "0.1", 32, "noop") == {}


def test_count_round_cannot_defend_noop_run(tmp_path):
    repo = str(tmp_path)
    # a count() time prunes columns: it is no bar for a noop-write time
    _write(os.path.join(repo, "BENCH_r11.json"),
           {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"q": 0.2}}})
    _write(os.path.join(repo, "BENCH_r12.json"),
           {"sf": 0.1, "cpus": 32,
            "parsed": {"materialize": "count", "queries": {"q": 0.3}}})
    _write(os.path.join(repo, "BENCH_FULL.json"),
           {"sf": 0.1, "cpus": 32, "materialize": "noop", "queries": {"q": 1.0}})
    assert load_defense_history(repo, "0.1", 32, "noop") == {"q": 1.0}
    assert load_defense_history(repo, "0.1", 32, "count") == {"q": 0.2}


def test_cpus_mismatch_and_missing_cpus_excluded(tmp_path):
    repo = str(tmp_path)
    _write(os.path.join(repo, "BENCH_r17.json"),
           {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"q": 1.0}}})
    _write(os.path.join(repo, "BENCH_r18.json"),
           {"sf": 0.1, "cpus": 8, "parsed": {"queries": {"q": 2.0}}})
    # no cpus: the core count it ran at is unknown, so it never defends
    _write(os.path.join(repo, "BENCH_FULL.json"),
           {"sf": 0.1, "queries": {"q": 0.5}})
    assert load_defense_history(repo, "0.1", 32, "count") == {"q": 1.0}
    assert load_defense_history(repo, "0.1", 8, "count") == {"q": 2.0}
    assert load_defense_history(repo, "0.1", 4, "count") == {}


def test_repo_history_sane():
    """The real repo's history must resolve and carry the robust value."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist = load_defense_history(repo, "0.1", 32, "count")
    assert len(hist) > 50
    # the r12 contended row must not be the committed bar
    if "bigram_lm" in hist:
        assert hist["bigram_lm"] < 2.5
