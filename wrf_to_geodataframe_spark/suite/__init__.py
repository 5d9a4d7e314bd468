"""The engine's query suite: every implemented operator from SURVEY.md §2
(plus the large-scale pipeline extensions) as a named query with — where
SQL-expressible — a matching DuckDB oracle.

Numeric discipline (SURVEY.md §7 "hard things" #4): any aggregate that
sums floating-point values across rows is order-dependent in the last
bits, and Spark and DuckDB will not sum in the same order.  Every query
here therefore quantizes values to integers (``floor(x * 10^k)`` as
BIGINT) before multi-row sums/averages — integer sums are exact and
order-insensitive — and performs the final scalar division in double,
which is deterministic.  ``min``/``max``/``count`` stay on raw doubles
(exact under any order).

SIGNED-ZERO RULE (r12 post-mortem, ``m12_omega_mdbz``): any rounded
float gate output with a REACHABLE exact-zero arm (a product with a
live ``x == 0`` factor and a negative coefficient, a subtraction that
can cancel, …) must be zero-canonicalized with ``+ 0.0`` on BOTH the
engine side (``F.round(e, k) + F.lit(0.0)``) and the oracle side
(``round(e, k) + 0.0``).  Spark's ``F.round`` goes through BigDecimal
and canonicalizes ``-0.0`` to ``+0.0``; DuckDB's ``round`` preserves
``-0.0``; the driver hashes raw bit patterns, so the two encodings of
zero fail the hash even though float ``==`` calls them equal.  IEEE
754 guarantees ``-0.0 + 0.0 = +0.0`` in both engines.  The local gate
(``tools/check.py``) compares uint64 bit patterns for exactly this
reason — keep it strictly stronger than the driver's hash.

Oracle-independence classes (VERDICT r11 item 7 — how much a DuckDB
hash match proves, per gate):

- **Class A — independent native oracle**: DuckDB computes the answer
  through its OWN machinery, not a restatement of the engine's plan
  (``j_asof_join``'s native ASOF JOIN, the plain-SQL relational
  family, the ingest gates where DuckDB reads values the engine's
  from-scratch decoders produced).  Strongest class.
- **Class B — formula replay, externally pinned**: the oracle restates
  the same closed-form math with identical literals (the g8 CRS
  family, the equal-area/Vincenty kernels, g17), so the hash alone
  only proves both engines evaluate one formula identically; the
  INDEPENDENT evidence is the published worked examples and property
  tests in pytest (Snyder/EPSG/OS/GeographicLib numbers, box/CEA
  identities, round-trips).
- **Class C — recurrence replay, pytest-cross-checked**: the oracle
  unrolls the engine's own iterative recurrence (``graph_pagerank``,
  ``graph_pagerank_dangling``, BPE training and everything composed
  on it); a bug in the shared recurrence design would match on both
  sides.  (``dedup_cluster_cc`` is NOT in this class: its oracle
  states the true closure via DuckDB's recursive CTE — independent
  machinery.)  Each such gate
  therefore carries a STRUCTURALLY DIFFERENT cross-check in pytest —
  a plain-python/hashlib replay, an exact fixed point, a conservation
  bound, or a brute-force reference (tests/test_graph.py,
  tests/test_pipeline_suite.py's pure-python BPE reference,
  tests/test_shards.py's hashlib replay) — named in its docstring.

Pipeline/curation gates are class A-minus: the oracle recomputes the
same counting/threshold semantics in independent SQL (different
execution machinery, same spec); their extra evidence is planted-class
and adversarial corpora in pytest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from wrf_to_geodataframe_spark.suite import (
    conversions,
    core,
    dynamics,
    pipeline,
    relational,
    spatial,
    tessellation,
    timeseries,
)

_GROUPS = [
    core, relational, conversions, spatial, tessellation, pipeline,
    timeseries, dynamics,
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query, in group order."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for g in _GROUPS:
        overlap = set(out) & set(g.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(g.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for g in _GROUPS:
        out.update(g.ORACLE)
    return out
