"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``wrf_to_geodataframe_spark/suite/``; this file
only adapts it to the driver contract.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wrf_to_geodataframe_spark.suite import all_oracles, all_queries  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the reference's daily-stats-per-cell
    analysis (wrf_voronoi.py:151-190) re-expressed as a 2-shuffle
    DataFrame DAG (SURVEY.md §7 phase 0)."""
    from wrf_to_geodataframe_spark.suite.core import flagship_daily_cell_stats

    return flagship_daily_cell_stats(spark, _SMOKE_SF_DIR)


def _driver_last_checked() -> dict[str, int]:
    """Latest correctness round that recorded a row per query, read
    from the ``CORRECTNESS_r<N>.json`` files next to this file.
    Missing/unreadable files degrade to the plain group order."""
    root = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, enumerated
    STALEST-FIRST: a correctness round samples about 50 entries in
    enumeration order, so never-checked entries come first, then
    entries whose last recorded row is oldest (e.g.
    ``dedup_ngram_jaccard``'s semantics changed after its last r02
    row); group order within ties (a stable sort)."""
    out = all_queries()
    last = _driver_last_checked()
    return {n: out[n] for n in sorted(out, key=lambda n: last.get(n, 0))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return all_oracles()
