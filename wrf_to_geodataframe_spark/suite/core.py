"""Core suite: the reference's flagship pipeline + aggregation kernels.

Every query returns columns that are bit-exact reproducible against the
DuckDB oracle: multi-row sums run on integer-quantized values (see
suite/__init__.py docstring), scalar double math is expression-identical
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.functions.grid import cell_box
from wrf_to_geodataframe_spark.operators.resample import daily_stats_period_mean
from wrf_to_geodataframe_spark.session import load_table

GRID_W = 32  # synthetic grid width: user_id -> (x_idx, y_idx) = (uid % W, uid // W)
Q = 1_000_000  # value quantization scale (6 decimal digits)


def q6(col):
    """Quantize a double to an exact BIGINT (floor(x * 1e6))."""
    return F.floor(col * F.lit(float(Q))).cast("long")


def with_grid_columns(df: DataFrame, key: str = "user_id") -> DataFrame:
    """Derive the synthetic grid-cell columns from the integer key.

    ``(x_idx, y_idx, x, y)`` are *pure functions* of ``user_id``
    (``uid % W``, ``floor(uid / W)``), so any DataFrame keyed by user_id
    can grow them arithmetically — no scan, no shuffle, no join.  Explicit
    integer keys replace the reference's positional alignment
    (SURVEY.md §1.3 / J5).
    """
    return df.withColumns({
        "x_idx": F.col(key) % GRID_W,
        "y_idx": F.floor(F.col(key) / GRID_W),
        "x": (F.col(key) % GRID_W).cast("double"),
        "y": F.floor(F.col(key) / GRID_W).cast("double"),
    })


def grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic rectilinear grid over the events table's user population.

    Stands in for the reference's WRF grid: one cell per user_id, laid out
    on a GRID_W-wide lattice with unit spacing, analytic Voronoi cell =
    unit box (SURVEY.md §2 G2, delphine/regrid.py:182-203).

    Only for queries whose *subject* is the cell table itself; pipelines
    that aggregate events per user_id should derive the grid columns with
    :func:`with_grid_columns` instead of joining against this (the
    distinct here is a full shuffle of events).
    """
    events = load_table(spark, sf_dir, "events")
    cells = with_grid_columns(events.select("user_id").distinct())
    return cell_box(cells, "x", "y", 0.5, 0.5)


# floor-division spelled as floor(x / W): DuckDB's integer `//` truncates
# toward zero (-5 // 32 = 0) while Spark's floor(-5 / 32) = -1.
_GRID_COLS_SQL = f"""user_id % {GRID_W} AS x_idx,
           CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx,
           CAST(user_id % {GRID_W} AS DOUBLE) AS x,
           floor(user_id / {GRID_W}.0) AS y"""

_CELLS_CTE = f"""
cells AS (
    SELECT DISTINCT user_id,
           {_GRID_COLS_SQL}
    FROM events
)"""


def flagship_daily_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship analysis (wrf_voronoi.py:151-190):
    hourly values -> daily min/max/mean per cell (A2) -> period mean of
    each daily stat (A3) -> left-join onto the cell-polygon table on the
    composite grid key (J1), cells as analytic boxes (G2).

    Plan shape: ONE scan of events -> two partial-aggregated shuffles,
    then the cell/box columns are derived arithmetically (they are pure
    functions of user_id, and per_cell's key set == distinct user_ids of
    events) — no second scan, no distinct shuffle, no join.
    """
    events = load_table(spark, sf_dir, "events")
    per_cell = daily_stats_period_mean(
        events, "ts", "value", ["user_id"], quantize=Q
    )
    cells = cell_box(with_grid_columns(per_cell), "x", "y", 0.5, 0.5)
    return cells.select(
        "user_id", "x_idx", "y_idx", "x1", "y1", "x2", "y2",
        "t_min", "t_max", "t_mean",
    )


_FLAGSHIP_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, user_id,
           min(CAST(floor(value * {Q}.0) AS BIGINT)) AS vmin_q,
           max(CAST(floor(value * {Q}.0) AS BIGINT)) AS vmax_q,
           CAST(floor(CAST(sum(CAST(floor(value * {Q}.0) AS BIGINT)) AS DOUBLE)
                      / count(*)) AS BIGINT) AS dmean_q
    FROM events GROUP BY 1, 2
),
per_cell AS (
    SELECT user_id,
           CAST(sum(vmin_q) AS DOUBLE) / count(*) / {Q}.0 AS t_min,
           CAST(sum(vmax_q) AS DOUBLE) / count(*) / {Q}.0 AS t_max,
           CAST(sum(dmean_q) AS DOUBLE) / count(*) / {Q}.0 AS t_mean
    FROM daily GROUP BY 1
)
SELECT user_id,
       user_id % {GRID_W} AS x_idx,
       CAST(floor(user_id / {GRID_W}.0) AS BIGINT) AS y_idx,
       CAST(user_id % {GRID_W} AS DOUBLE) - 0.5 AS x1,
       floor(user_id / {GRID_W}.0) - 0.5 AS y1,
       CAST(user_id % {GRID_W} AS DOUBLE) + 0.5 AS x2,
       floor(user_id / {GRID_W}.0) + 0.5 AS y2,
       t_min, t_max, t_mean
FROM per_cell
"""


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem — the gap-table agg
    workout (count / multi-expression sums / HAVING-free group report).
    Product expressions are quantized AFTER the identical double
    expression tree, so sums are order-insensitive exact integers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    qty_q = F.floor(F.col("l_quantity") * F.lit(100.0)).cast("long")
    price_q = F.floor(F.col("l_extendedprice") * F.lit(100.0)).cast("long")
    disc_q = F.floor(disc_price * F.lit(100.0)).cast("long")
    charge_q = F.floor(charge * F.lit(100.0)).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_q).cast("double") / F.lit(100.0)).alias("sum_qty"),
            (F.sum(price_q).cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(disc_q).cast("double") / F.lit(100.0)).alias("sum_disc_price"),
            (F.sum(charge_q).cast("double") / F.lit(100.0)).alias("sum_charge"),
            (F.sum(qty_q).cast("double") / F.count(F.lit(1)) / F.lit(100.0)).alias("avg_qty"),
            (F.sum(price_q).cast("double") / F.count(F.lit(1)) / F.lit(100.0)).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
       CAST(sum(CAST(floor(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS avg_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def a1_bbox_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global coordinate extent (SURVEY.md §2 A1, wrf_voronoi.py:146):
    scalar min/max aggregate over the grid — 1-row DataFrame that callers
    broadcast back (crossJoin) for bbox filters (P4).

    min/max are duplicate-insensitive, so this aggregates the coordinate
    expressions directly over events — partial (map-side) aggregation
    only, no distinct shuffle of the key set.
    """
    events = load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % GRID_W).cast("double")
    y = F.floor(F.col("user_id") / GRID_W).cast("double")
    return events.agg(
        F.min(x).alias("xmin"),
        F.min(y).alias("ymin"),
        F.max(x).alias("xmax"),
        F.max(y).alias("ymax"),
    )


_A1_SQL = f"""
SELECT min(CAST(user_id % {GRID_W} AS DOUBLE)) AS xmin,
       min(floor(user_id / {GRID_W}.0)) AS ymin,
       max(CAST(user_id % {GRID_W} AS DOUBLE)) AS xmax,
       max(floor(user_id / {GRID_W}.0)) AS ymax
FROM events
"""


def a6_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-weighted mean (SURVEY.md §2 A6, delphine/regrid.py:333-334
    ``(pop * tas).sum() / pop.sum()``) re-targeted: quantity-weighted mean
    extended price per return flag.  Pure expression agg, no UDAF."""
    li = load_table(spark, sf_dir, "lineitem")
    wq = F.floor(F.col("l_quantity") * F.col("l_extendedprice") * F.lit(100.0)).cast("long")
    qq = F.floor(F.col("l_quantity") * F.lit(100.0)).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (F.sum(wq).cast("double") / F.sum(qq).cast("double")).alias("weighted_avg_price")
        )
        .orderBy("l_returnflag")
    )


_A6_SQL = """
SELECT l_returnflag,
       CAST(sum(CAST(floor(l_quantity * l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE)
       / CAST(sum(CAST(floor(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) AS weighted_avg_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERIES = {
    "flagship_daily_cell_stats": flagship_daily_cell_stats,
    "q1_pricing_summary": q1_pricing_summary,
    "a1_bbox_extent": a1_bbox_extent,
    "a6_weighted_average": a6_weighted_average,
}

ORACLE = {
    "flagship_daily_cell_stats": _FLAGSHIP_SQL,
    "q1_pricing_summary": _Q1_SQL,
    "a1_bbox_extent": _A1_SQL,
    "a6_weighted_average": _A6_SQL,
}
