"""Named query registry: each entry pairs a Spark DataFrame implementation
with an ANSI-SQL oracle that DuckDB runs over the same Parquet.

This is the engine's public query surface (SURVEY.md §2 inventory) and the
driver's correctness gate: row-count + schema + order-insensitive value hash
must match per query (see /root/repo/__spark_entry__.py).

Determinism contract (what makes hash-equality achievable):
- Float SUMs go through DECIMAL(18,6): cast each addend to decimal (exact,
  order-independent addition), sum, cast the result back to double. Both
  engines produce the identical double. Plain double sums would differ in
  the last ulps because partition order differs.
- AVGs are computed as exact-decimal sum ÷ count in double — one IEEE
  division of identical operands.
- Timestamps in outputs are epoch microseconds (bigint) or formatted
  strings — never raw timestamp columns (parquet ns vs engine µs handling
  differs).
- Counts are bigint on both sides (DuckDB integer SUMs are cast down from
  HUGEINT explicitly).
- Window/rank queries order by a unique composite key so ties cannot flip.
- Cosine similarities are rounded to 4 decimals in the *output* (ranking
  uses full precision; random vectors make rank-flipping ties impossible).
"""

from __future__ import annotations

from commerce_data_pipeline_spark.catalog import load_table  # noqa: F401 (re-export; stress harness reads it)
from commerce_data_pipeline_spark.queries import _shared
from commerce_data_pipeline_spark.queries._shared import QuerySpec, _dsum, _cache_dir  # noqa: F401
from commerce_data_pipeline_spark.queries import (  # noqa: F401
    relational,
    analytics,
    dedup_text,
    similarity,
    relational_wide,
    corpus,
    graph_search,
    profiling_ml,
    selection_linkage,
)
from commerce_data_pipeline_spark.queries._registry import (  # noqa: F401
    REGISTRY,
    queries,
    oracle_sql,
)
from commerce_data_pipeline_spark.queries.selection_linkage import _ensure_multipass_cand  # noqa: F401


# Modules whose top-level `load_table` binding the stress harness rebinds to
# a k×-scaled loader (tools/stress.py). The package-level `load_table` import
# above stays untouched and is the restore point. `_shared` MUST be in this
# tuple: _ensure_copurchase_pairs reads its module-level load_table, and a
# stress run that misses it would build the x{k}-tagged co-purchase cache
# from the UNSCALED 1x lineitem — silently invalidating every graph-family
# stress row (the r6 stale-scale bug class, reintroduced by the r10 package
# split and caught by the r10 advisor).
_QUERY_MODULES = (_shared, relational, analytics, dedup_text, similarity, relational_wide, corpus, graph_search, profiling_ml, selection_linkage)


def rebind_load_table(fn) -> None:
    """Point every query module's `load_table` at `fn` (stress harness)."""
    for _m in _QUERY_MODULES:
        _m.load_table = fn


def set_cache_tag(tag: str) -> None:
    """Rebind the persisted-layout cache-key suffix (see _shared.CACHE_TAG)."""
    _shared.CACHE_TAG = tag


def get_cache_tag() -> str:
    return _shared.CACHE_TAG
