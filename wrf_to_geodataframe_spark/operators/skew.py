"""Skew mitigation primitives (brief: "salting for skew").

AQE's skew-join splitter handles moderate skew at runtime; the explicit
tool for a hot key AQE can't fix is a salt that spreads its rows.

The salt is DETERMINISTIC (md5 of stable row attributes, never
rand()): results are reproducible under retries and speculative
execution, which nondeterministic salts silently break (a retried task
re-salts differently and rows migrate between partitions mid-job).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.functions.text import hash60


def deterministic_salt(cols: Sequence[Column], n_salts: int) -> Column:
    """A salt in [0, n_salts) as a pure function of the given columns —
    uniform under md5, stable under retries."""
    key = F.concat_ws("\x1f", *[c.cast("string") for c in cols])
    return (hash60(key) % n_salts).cast("int")

