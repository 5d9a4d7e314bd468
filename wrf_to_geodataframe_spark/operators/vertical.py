"""Vertical-coordinate operators — the wrf-python post-processing
staples the reference's users run before anything spatial: DESTAGGER
(Arakawa-C staggered winds onto mass points) and INTERPLEVEL (model
levels onto a constant pressure surface).

The reference itself stops at 2-D surface fields (Tmin in
wrf_voronoi.py), but every WRF workflow reaches these two within the
first session (`wrf.destagger`, `wrf.interplevel`); re-expressed here
as pure DataFrame window arithmetic so they run at archive scale:

- **destagger**: the staggered dimension's adjacent-point mean,
  ``0.5 * (v_i + v_{i+1})`` — one ``lead`` window PARTITIONED by all
  other dims (each partition is one pencil through the grid, length =
  the staggered axis — thousands of parallel groups, never a global
  sort).
- **interplevel**: per atmospheric column, find the model-level pair
  bracketing the target pressure and interpolate linearly — one
  ``lead`` window partitioned by the column key (length = #levels,
  ~50), then a filter keeping the unique bracketing row.  Columns
  where the target sits below ground / above top yield NULL (the
  wrf-python convention), via a left join back onto the column set.

Hash-exactness note: the interpolation ``f1 + (f2-f1)*(p1-pt)/
(p1-p2)`` is +,-,*,/ on doubles only — IEEE-exact-rounded ops that
Spark and DuckDB evaluate bit-identically when the expression tree
matches (the suite's per-row float rule; only libm transcendentals
drift).  No quantization needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def destagger(
    df: DataFrame,
    stag_col: str,
    value_col: str,
    group_cols: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Adjacent-point mean along ``stag_col`` within each
    ``group_cols`` pencil: output rows sit at the N-1 mass points of
    an N-point staggered axis (the last staggered point has no right
    neighbor and is dropped, matching ``wrf.destagger``)."""
    out_col = out_col or f"{value_col}_m"
    w = Window.partitionBy(*group_cols).orderBy(stag_col)
    # end-of-pencil is detected on the COORDINATE (never null), not
    # the value: a missing VALUE at i+1 must yield a NULL mass point
    # at i (wrf.destagger's NaN), not silently drop the row
    return (
        df.withColumn("_nxt", F.lead(value_col).over(w))
        .withColumn("_nxt_s", F.lead(stag_col).over(w))
        .filter(F.col("_nxt_s").isNotNull())
        .select(
            *group_cols,
            F.col(stag_col),
            ((F.col(value_col) + F.col("_nxt")) / 2.0).alias(out_col),
        )
    )


def interplevel(
    df: DataFrame,
    level_col: str,
    value_col: str,
    target: float,
    col_keys: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Interpolate ``value_col`` onto the constant surface
    ``level_col == target`` within each ``col_keys`` column.  Levels
    must be strictly monotone DECREASING with height per column
    (pressure); the bracketing pair p1 >= target >= p2 is found with
    one lead window ordered bottom-up, and the output carries one row
    per column — NULL where the target is out of the column's range
    (below ground / above model top)."""
    # one bracket kernel to maintain: the constant level is just the
    # varying-surface form with a literal target column (Catalyst
    # folds the constant — plans and values are identical)
    return interplevel_field(
        df.withColumn("_interp_tgt", F.lit(float(target))),
        level_col, value_col, "_interp_tgt", col_keys, out_col=out_col,
    )


def interplevel_field(
    df: DataFrame,
    level_col: str,
    value_col: str,
    target_col: str,
    col_keys: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Interpolate ``value_col`` onto a VARYING target surface — one
    target value per column, carried in ``target_col`` (wrf-python's
    ``interplevel(field3d, vert, field2d)`` form, e.g. winds at the
    PBL height plane).  Same bracket semantics as :func:`interplevel`
    with the literal replaced by the column: levels strictly monotone
    DECREASING per column, the bracketing pair found with one lead
    window ordered bottom-up, one output row per column, NULL where
    the column's range misses its own target (or the target itself is
    NULL).  A target exactly ON an interior level satisfies BOTH its
    bracketing pairs; min_by keeps the pair whose LOWER bound equals
    the target — interpolation factor exactly 0, the level's own
    value bit-for-bit (the factor-1 row's f1 + (f2-f1)*1.0 can be a
    rounding step off).

    Scale shape: the target is a per-column constant joined onto the
    rows BEFORE the window, so the plan is the identical one window +
    one partial-agg groupBy — a 2-D surface costs nothing over a
    constant level (no crossing, no second pass)."""
    out_col = out_col or f"{value_col}_interp"
    w = Window.partitionBy(*col_keys).orderBy(F.col(level_col).desc())
    cand = (
        df.withColumn("_p2", F.lead(level_col).over(w))
        .withColumn("_f2", F.lead(value_col).over(w))
        .filter(
            F.col("_p2").isNotNull()
            & (F.col(level_col) >= F.col(target_col))
            & (F.col("_p2") <= F.col(target_col))
        )
        .select(
            *col_keys,
            F.col(level_col).alias("_p1"),
            (
                F.col(value_col)
                + (F.col("_f2") - F.col(value_col))
                * (F.col(level_col) - F.col(target_col))
                / (F.col(level_col) - F.col("_p2"))
            ).alias(out_col),
        )
        .groupBy(*col_keys)
        .agg(F.min_by(out_col, "_p1").alias(out_col))
    )
    cols = df.select(*col_keys).distinct()
    return cols.join(cand, col_keys, "left")


def vinterp(
    df: DataFrame,
    coord_col: str,
    value_col: str,
    targets: list[float],
    col_keys: list[str],
    out_coord: str = "level",
    out_col: str | None = None,
) -> DataFrame:
    """Interpolate ``value_col`` onto MULTIPLE constant surfaces of an
    arbitrary vertical coordinate (wrf-python `vinterp` for
    pressure-like coordinates): ``coord_col`` must be strictly
    monotone DECREASING with height per column — pass a negated
    height/theta column for increasing coordinates.

    Distribution shape: ONE lead window per column pencil (the
    interplevel search, computed once), then the bracket rows cross a
    LITERAL target array (explode of a constant — a ×T row growth,
    never a join) and filter to the bracketing pair per (column,
    target); targets exactly on an interior level keep the factor-0
    pair (bit-exact level value, the interplevel tie rule).  Columns
    whose range misses a target carry NULL for it via the
    (column × target) left join."""
    out_col = out_col or f"{value_col}_v"
    w = Window.partitionBy(*col_keys).orderBy(F.col(coord_col).desc())
    tgt_arr = F.array([F.lit(float(t)) for t in targets])
    cand = (
        df.withColumn("_p2", F.lead(coord_col).over(w))
        .withColumn("_f2", F.lead(value_col).over(w))
        .filter(F.col("_p2").isNotNull())
        .withColumn("_t", F.explode(tgt_arr))
        .filter(
            (F.col(coord_col) >= F.col("_t"))
            & (F.col("_p2") <= F.col("_t"))
        )
        .select(
            *col_keys,
            F.col("_t"),
            F.col(coord_col).alias("_p1"),
            (
                F.col(value_col)
                + (F.col("_f2") - F.col(value_col))
                * (F.col(coord_col) - F.col("_t"))
                / (F.col(coord_col) - F.col("_p2"))
            ).alias(out_col),
        )
        .groupBy(*col_keys, "_t")
        .agg(F.min_by(out_col, "_p1").alias(out_col))
    )
    universe = df.select(*col_keys).distinct().withColumn(
        "_t", F.explode(tgt_arr)
    )
    return (
        universe.join(cand, [*col_keys, "_t"], "left")
        .withColumnRenamed("_t", out_coord)
    )


def precipitable_water(
    df: DataFrame,
    qv_col: str,
    dp_col: str,
    col_keys: list[str],
    out_col: str = "pw_mm",
) -> DataFrame:
    """Precipitable water [mm] per atmospheric column (wrf-python
    `pw`): the vertical integral sum(qv * dp) / (g * rho_w) — with dp
    in Pa and rho_w = 1000 kg m^-3 the result is millimetres of
    liquid water.  ``qv_col`` and ``dp_col`` are COLUMN PENCILS (one
    row per column, level k at array index k); the fold runs over
    dp's layers in level order inside the row — no shuffle — so the
    sum is deterministic on any input.  NULL for a column with no
    layer or a missing value.

    Exactness note: DYADIC-rational inputs (qv with a power-of-two
    denominator, integer dp) make every product and partial sum
    exactly representable, so the result equals the exact integral
    and is hash-exact with no quantization."""
    g0, rho_w = 9.81, 1000.0
    qv, dp = f"`{qv_col}`", f"`{dp_col}`"
    return df.select(*col_keys, F.expr(
        f"CASE WHEN size({dp}) > 0 THEN aggregate(transform({dp}, "
        f"(x, k) -> {qv}[k] * x), 0D, (acc, x) -> acc + x) "
        f"/ {g0 * rho_w!r}D END"
    ).alias(out_col))


def sea_level_pressure(
    df: DataFrame,
    p_col: str,
    t_col: str,
    z_col: str,
    col_keys: list[str],
    pconst: float = 10000.0,
    lapse: float = 0.0065,
    out_col: str = "slp",
    qv_col: str | None = None,
) -> DataFrame:
    """Full-column sea-level pressure [Pa] — the Benjamin & Miller
    (1990) / RIP reduction wrf-python's `slp` implements: from each
    column take the surface level (highest pressure) and the PIVOT
    level — the highest-pressure level at least ``pconst`` Pa above
    the surface (far enough up to escape superadiabatic surface
    layers) — then

        t_sfc = t_pivot (p_sfc / p_pivot)^(lapse Rd / g)
        t_sl  = t_sfc + lapse z_sfc
        slp   = p_sfc exp(2 g z_sfc / (Rd (t_sl + t_sfc)))

    With ``qv_col`` given, the pivot temperature is the VIRTUAL
    temperature (exact eps-form, functions/meteo) — the moist arm of
    the reduction; without it the reduction is dry (tv == t), stated
    as a deviation wherever the dry form is exposed under the
    wrf-python name.  DEVIATION either way: wrf-python's DCOMPUTESEAPRS
    additionally clamps the derived t_sea_level against hot surface
    layers (the "ridiculous MM5 test": t_sl capped near 290.5 K when
    t_sfc exceeds it) — those corrections are NOT applied here, so
    columns over very hot terrain can differ from wrf-python by the
    clamp amount.

    The p/t/z (and qv) columns are COLUMN PENCILS (one row per column,
    level k at array index k), evaluated inside the row — no window,
    groupBy or shuffle.  Ties on a pressure keep the lowest index.  A
    column too shallow to contain a pivot level yields NULL (the
    missing-value convention, like cin)."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        G0,
        RD,
        virtual_temperature,
    )

    p = f"`{p_col}`"
    qv = [qv_col] if qv_col is not None else []
    d = df.select(
        *col_keys, p_col, t_col, z_col, *qv,
        F.expr(f"array_max({p})").alias("_psfc"),
        F.expr(
            f"array_max(filter({p}, x -> x <= array_max({p}) "
            f"- {float(pconst)!r}D))"
        ).alias("_ppiv"),
    )

    def at(col: str, level: str):
        return F.expr(f"`{col}`[array_position({p}, {level}) - 1]")

    t_piv = (
        virtual_temperature(at(t_col, "_ppiv"), at(qv_col, "_ppiv"))
        if qv else at(t_col, "_ppiv")
    )
    z_sfc = at(z_col, "_psfc")
    xterm = float(lapse) * RD / G0
    t_sfc = t_piv * F.pow(F.col("_psfc") / F.col("_ppiv"), F.lit(xterm))
    t_sl = t_sfc + F.lit(float(lapse)) * z_sfc
    slp = F.col("_psfc") * F.exp(
        F.lit(2.0 * G0) * z_sfc / (F.lit(RD) * (t_sl + t_sfc))
    )
    return d.select(*col_keys, slp.alias(out_col))


def cloud_fraction(
    df: DataFrame,
    p_col: str,
    rh_col: str,
    col_keys: list[str],
    low: tuple[float, float] = (97000.0, 80000.0),
    mid: tuple[float, float] = (80000.0, 45000.0),
    high: tuple[float, float] = (45000.0, 0.0),
    rh_clear: float = 75.0,
    rh_overcast: float = 95.0,
) -> DataFrame:
    """Low/mid/high cloud fraction per column (the wrf-python
    `cloudfrac` shape): within each pressure band the fraction is the
    MAX over levels of the relative-humidity ramp

        frac = clamp((rh - rh_clear) / (rh_overcast - rh_clear), 0, 1)

    — one partial-aggregated groupBy with three conditional maxes (no
    window, no explode); a column with no level inside a band yields
    NULL for that band (distinct from 0.0 = levels present but dry).
    Band edges follow the low/mid/high convention [p_from, p_to) in
    Pa, high ending at the model top."""
    ramp = (F.col(rh_col) - F.lit(float(rh_clear))) / F.lit(
        float(rh_overcast) - float(rh_clear)
    )
    frac = F.least(F.greatest(ramp, F.lit(0.0)), F.lit(1.0))

    def band(bounds: tuple[float, float], name: str):
        hi_p, lo_p = float(bounds[0]), float(bounds[1])
        inside = (F.col(p_col) <= F.lit(hi_p)) & (
            F.col(p_col) > F.lit(lo_p)
        )
        return F.max(F.when(inside, frac)).alias(name)

    return df.groupBy(*col_keys).agg(
        band(low, "cf_low"), band(mid, "cf_mid"), band(high, "cf_high")
    )


def vertcross(
    df: DataFrame,
    value_col: str,
    level_col: str,
    x_col: str,
    y_col: str,
    start: tuple[float, float],
    end: tuple[float, float],
    n_points: int,
    out_col: str = "vc",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Vertical cross-section (wrf-python `vertcross`/`interpline`):
    sample ``n_points`` evenly along the straight line ``start`` ->
    ``end`` in grid-index space, bilinearly interpolating
    ``value_col`` at every vertical level.

    Distribution shape: the sample points and their (at most four)
    weighted corner cells form a TINY driver-free table (built with
    ``spark.range``, n_points x 4 rows) that is broadcast into one
    equi join against the full grid on the cell key — the 100 TB grid
    never shuffles; a partial-aggregated groupBy on (sample, level)
    sums the corner contributions.  Zero-weight corners (samples
    landing exactly on a grid line) are filtered out BEFORE the join,
    so edge samples never reference cells outside the grid; a sample
    missing SOME of its surviving corners (line leaving the domain, a
    grid hole) yields NULL rather than a partial sum, and a sample
    matching no cells at all is absent from the output.

    Exactness: with dyadic endpoints and a power-of-two point count
    the sample coordinates, corner weights, and weighted sums are all
    exactly representable — gates compare unquantized."""
    sx, sy = float(start[0]), float(start[1])
    ex, ey = float(end[0]), float(end[1])
    n = int(n_points)
    step = 1.0 / (n - 1) if n > 1 else 0.0
    spark = df.sparkSession
    pts = spark.range(n).select(
        F.col("id").alias("_s"),
        (F.lit(sx) + F.col("id") * F.lit((ex - sx) * step)).alias("_xi"),
        (F.lit(sy) + F.col("id") * F.lit((ey - sy) * step)).alias("_yi"),
    )
    return _bilinear_sample(
        df, value_col, level_col, x_col, y_col, pts, out_col, extra_keys
    )


def interp2dxy(
    df: DataFrame,
    value_col: str,
    level_col: str,
    x_col: str,
    y_col: str,
    xy: list[tuple[float, float]],
    out_col: str = "vc",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """wrf-python ``interp2dxy``: bilinear samples of ``value_col`` at
    an ARBITRARY sequence of fractional grid-index points, at every
    vertical level — the generalization of :func:`vertcross` that the
    ``xy()`` helper feeds (a straight line is just one possible
    point sequence; interp2dxy takes any).  Sample ``s`` is the
    position in ``xy``.  Same broadcast corner-join kernel, same NULL
    convention for points leaving the domain."""
    if not xy:
        raise ValueError("interp2dxy needs at least one (x, y) point")
    spark = df.sparkSession
    pts = spark.createDataFrame(
        [(s, float(x), float(y)) for s, (x, y) in enumerate(xy)],
        "_s long, _xi double, _yi double",
    )
    return _bilinear_sample(
        df, value_col, level_col, x_col, y_col, pts, out_col, extra_keys
    )


def _bilinear_sample(
    df: DataFrame,
    value_col: str,
    level_col: str,
    x_col: str,
    y_col: str,
    pts: DataFrame,
    out_col: str,
    extra_keys: list[str] | None,
) -> DataFrame:
    """The shared cross-section kernel: a tiny (_s, _xi, _yi) sample
    table explodes to its nonzero-weight corners, broadcasts into one
    equi join against the grid, and partial-aggregates per (sample,
    level) — vertcross/interpline/interp2dxy all compile to this."""
    fx = F.col("_xi") - F.floor(F.col("_xi"))
    fy = F.col("_yi") - F.floor(F.col("_yi"))
    cx = F.floor(F.col("_xi")).cast("long")
    cy = F.floor(F.col("_yi")).cast("long")
    corner = F.explode(
        F.array(
            F.struct(
                cx.alias("_cx"), cy.alias("_cy"),
                ((F.lit(1.0) - fx) * (F.lit(1.0) - fy)).alias("_w"),
            ),
            F.struct(
                (cx + 1).alias("_cx"), cy.alias("_cy"),
                (fx * (F.lit(1.0) - fy)).alias("_w"),
            ),
            F.struct(
                cx.alias("_cx"), (cy + 1).alias("_cy"),
                ((F.lit(1.0) - fx) * fy).alias("_w"),
            ),
            F.struct(
                (cx + 1).alias("_cx"), (cy + 1).alias("_cy"),
                (fx * fy).alias("_w"),
            ),
        )
    )
    # expected nonzero-weight corner count per sample, in closed form:
    # a sample on a grid line drops the zero-weight side(s).  Samples
    # whose surviving corners are not ALL found in the grid (line
    # leaving the domain, holes) must yield NULL — a partial weighted
    # sum would be a plausible-looking wrong number (wrf-python's
    # missing-value convention).
    nc = (
        F.lit(2) - (fx == 0.0).cast("int")
    ) * (F.lit(2) - (fy == 0.0).cast("int"))
    corners = (
        pts.select("_s", nc.alias("_nc"), corner.alias("_c"))
        .select("_s", "_nc", "_c._cx", "_c._cy", "_c._w")
        .filter(F.col("_w") != 0.0)
    )
    joined = F.broadcast(corners).join(
        df,
        (F.col("_cx") == F.col(x_col)) & (F.col("_cy") == F.col(y_col)),
    )
    extra = [F.col(c) for c in (extra_keys or [])]
    return (
        joined.groupBy(*extra, F.col("_s").alias("s"), F.col(level_col))
        .agg(
            F.when(
                F.count(F.lit(1)) == F.max("_nc"),
                F.sum(F.col("_w") * F.col(value_col)),
            ).alias(out_col)
        )
    )


def surface_cape(
    df: DataFrame,
    p_col: str,
    t_col: str,
    qv_col: str,
    dz_col: str,
    col_keys: list[str],
    iters: int = 40,
    quant: float = 1.0e4,
    parcel: str = "surface",
    mu_depth_pa: float = 30000.0,
    z_col: str | None = None,
) -> DataFrame:
    """Surface-based CAPE and CIN [J/kg] per atmospheric column (the
    wrf-python `cape_2d` quantities): lift the LOWEST (highest-
    pressure) level's parcel dry-adiabatically to its Bolton LCL, then
    pseudo-adiabatically (theta_e conserved, inverted by the
    ``moist_adiabat_t_k`` runtime bisection), and integrate virtual-
    temperature buoyancy B = g (Tv_parcel - Tv_env) / Tv_env:

    - **cape** = sum of max(B, 0) dz over the whole column (the
      positive area; zero, not NULL, for absolutely stable columns);
    - **cin**  = sum of min(B, 0) dz over levels strictly BELOW the
      level of free convection (the first level with B > 0); NULL
      when no LFC exists (the wrf-python missing-value convention).

    ``parcel="most_unstable"`` lifts the MOST-UNSTABLE parcel instead
    (wrf-python `cape_2d`'s MCAPE): the level with the largest
    theta_e within ``mu_depth_pa`` of the surface (selected by one
    ``max_by`` over the same column-key window — no extra shuffle;
    ties broken arbitrarily, so feed profiles with distinct theta_e),
    and integration runs from the parcel level UP (levels below the
    parcel origin contribute neither cape nor cin).

    ``z_col`` (a per-level height on whatever datum the caller uses)
    adds wrf-python cape_2d's other two fields on the SAME datum:
    **lcl** = z_parcel + (T_parcel - T_lcl) * cp/g (the dry-adiabatic
    ascent height to the Bolton LCL — group-constant), and **lfc** =
    the z of the level of free convection (the highest-pressure level
    with B > 0; NULL when none exists, exactly the cin convention).
    wrf-python reports these above ground — subtract terrain at the
    call site (the getvar front door does).

    Distribution shape: one window over the column key extracts the
    surface parcel (first level by descending pressure); the per-level
    buoyancy table is then PERSISTED (the fold below is interpreter-
    evaluated, and materializing it once is a measured ~10x saving),
    and the LFC window + final groupBy re-shuffle that narrow table on
    the same key — two column-key exchanges total, no joins
    (plan-pinned in tests/test_plans.py).  Per-level contributions are floored
    onto a 1/quant J/kg lattice (BIGINT) before summing, making the
    multi-row float sum order-independent (suite integer rule);
    gates verify their synthetic profiles keep safe distances from
    the lattice boundaries."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        G0,
        RD_OVER_CP,
        lcl_temperature_k,
        moist_adiabat_t_k,
        qv_sat,
        theta_e_bolton,
        virtual_temperature,
    )

    if parcel == "most_unstable":
        wk0 = Window.partitionBy(*col_keys)
        the_lvl = theta_e_bolton(
            F.col(t_col), F.col(p_col), F.col(qv_col)
        )
        cand = F.col(p_col) >= F.max(p_col).over(wk0) - F.lit(
            float(mu_depth_pa)
        )
        sel = F.max_by(
            F.struct(
                F.col(t_col).alias("t"),
                F.col(p_col).alias("p"),
                F.col(qv_col).alias("qv"),
                *([F.col(z_col).alias("z")] if z_col else []),
            ),
            F.when(cand, the_lvl),
        ).over(wk0)
        d = (
            df.withColumn("_t0", sel["t"])
            .withColumn("_p0", sel["p"])
            .withColumn("_qv0", sel["qv"])
        )
        if z_col:
            d = d.withColumn("_z0", sel["z"])
    elif parcel == "surface":
        w = Window.partitionBy(*col_keys).orderBy(F.col(p_col).desc())
        d = (
            df.withColumn("_t0", F.first(t_col).over(w))
            .withColumn("_p0", F.first(p_col).over(w))
            .withColumn("_qv0", F.first(qv_col).over(w))
        )
        if z_col:
            d = d.withColumn("_z0", F.first(z_col).over(w))
    else:
        raise ValueError(
            f"parcel={parcel!r}: expected 'surface' or 'most_unstable'"
        )
    return _cape_from_parcel(
        d, p_col, t_col, qv_col, dz_col, list(col_keys), iters, quant,
        z_col=z_col,
    )


def _cape_from_parcel(
    d: DataFrame,
    p_col: str,
    t_col: str,
    qv_col: str,
    dz_col: str,
    group_keys: list[str],
    iters: int,
    quant: float,
    z_col: str | None = None,
) -> DataFrame:
    """The shared CAPE/CIN integration tail: ``d`` carries the parcel
    state (_t0, _p0, _qv0) on every level row and ``group_keys``
    identifies one parcel's column (the plain column key for
    surface_cape/mcape; column key + parcel level for cape_3d) —
    everything from the Bolton LCL through the bisection fold, the
    persisted buoyancy table, the LFC window, and the quantized
    aggregation is IDENTICAL across the variants by construction."""
    from wrf_to_geodataframe_spark.functions.meteo import (
        G0,
        RD,
        RD_OVER_CP,
        lcl_temperature_k,
        moist_adiabat_t_k,
        qv_sat,
        theta_e_bolton,
        virtual_temperature,
    )

    the0 = theta_e_bolton(F.col("_t0"), F.col("_p0"), F.col("_qv0"))
    tl = lcl_temperature_k(F.col("_t0"), F.col("_p0"), F.col("_qv0"))
    plcl = F.col("_p0") * F.pow(tl / F.col("_t0"), F.lit(3.5))
    if z_col:
        # dry-adiabatic ascent height to the Bolton LCL on the z
        # column's datum: z_lcl = z0 + (T0 - T_lcl) * cp / g
        d = d.withColumn(
            "_lcl",
            F.col("_z0")
            + (F.col("_t0") - tl) * F.lit(RD / RD_OVER_CP / G0),
        )
    tp_dry = F.col("_t0") * F.pow(
        F.col(p_col) / F.col("_p0"), F.lit(RD_OVER_CP)
    )
    below_lcl = F.col(p_col) >= plcl
    tp_expr = F.when(below_lcl, tp_dry).otherwise(
        moist_adiabat_t_k(the0, F.col(p_col), iters=iters)
    )
    tve = virtual_temperature(F.col(t_col), F.col(qv_col))
    col_keys = group_keys

    def _b_of(tp):
        # lambda-bound tp: the 40-iteration fold inside tp_expr is
        # evaluated ONCE here, however many times B's tree references
        # the parcel state (projection collapse would otherwise inline
        # the fold into every reference — measured 10x interpreter
        # cost at sf0.1 before this binding)
        qvp = F.when(below_lcl, F.col("_qv0")).otherwise(
            qv_sat(tp, F.col(p_col))
        )
        return F.lit(G0) * (virtual_temperature(tp, qvp) - tve) / tve

    # buoyancy is defined from the parcel origin UP (p <= p0); for the
    # surface parcel that is every level, so m6 semantics are unchanged
    b_expr = F.when(
        F.col(p_col) <= F.col("_p0"),
        F.get(F.transform(F.array(tp_expr), _b_of), 0),
    )
    # persist the per-level buoyancy: the LFC window, cape, and cin all
    # consume _b, and without a materialization point each would
    # re-run the fold per reference (a production pipeline checkpoints
    # the parcel-buoyancy table anyway); released via release_persisted
    from wrf_to_geodataframe_spark.session import track_persist

    # Explicit column-key repartition BEFORE the buoyancy projection
    # (r17): AQE's coalescing is byte-based and blind to per-row CPU,
    # so under the cached-plan-repartitioning config the small-BYTES
    # rows feeding the bisection fold coalesce to one partition and
    # the fold runs single-threaded (measured: wall ~= executor CPU).
    # Pinning the partition count to defaultParallelism spreads the
    # fold across the cores — the engine's documented idiom for
    # CPU-bound kernels over byte-small inputs (the multimodal decode
    # pattern).  Keyed on the column keys, so the downstream LFC
    # window and groupBy shuffle the same uniform key they always did.
    d = d.repartition(
        d.sparkSession.sparkContext.defaultParallelism, *col_keys
    )
    d = track_persist(
        d.withColumn("_b", b_expr).select(
            *col_keys, p_col, dz_col, "_b",
            *([z_col, "_lcl"] if z_col else []),
        )
    )
    wk = Window.partitionBy(*col_keys)
    d = d.withColumn(
        "_p_lfc",
        F.max(F.when(F.col("_b") > 0, F.col(p_col))).over(wk),
    )
    q = F.lit(float(quant))
    pos = F.when(
        F.col("_b").isNotNull(),
        F.floor(
            F.greatest(F.col("_b"), F.lit(0.0)) * F.col(dz_col) * q
        ).cast("long"),
    )
    neg = F.when(
        (F.col(p_col) > F.col("_p_lfc")) & F.col("_b").isNotNull(),
        F.floor(
            F.least(F.col("_b"), F.lit(0.0)) * F.col(dz_col) * q
        ).cast("long"),
    )
    # an LFC at the parcel origin itself leaves NO below-LFC rows: the
    # empty sum must read 0.0 (zero-depth inhibition layer), while a
    # column with no LFC at all stays NULL — distinguish via the
    # group-constant _p_lfc, not the sum's own null
    aggs = [
        (F.sum(pos) / q).alias("cape"),
        (
            F.when(
                F.max("_p_lfc").isNotNull(),
                F.coalesce(F.sum(neg), F.lit(0)),
            )
            / q
        ).alias("cin"),
    ]
    if z_col:
        aggs += [
            F.min("_lcl").alias("lcl"),  # group-constant
            F.max(
                F.when(F.col(p_col) == F.col("_p_lfc"), F.col(z_col))
            ).alias("lfc"),  # NULL when no LFC, the cin convention
        ]
    return d.groupBy(*col_keys).agg(*aggs)


def cape_3d(
    df: DataFrame,
    p_col: str,
    t_col: str,
    qv_col: str,
    dz_col: str,
    k_col: str,
    col_keys: list[str],
    iters: int = 40,
    quant: float = 1.0e4,
) -> DataFrame:
    """Per-PARCEL-LEVEL CAPE and CIN [J/kg] (wrf-python `cape_3d`):
    EVERY model level is lifted as its own parcel and integrated over
    the levels at or above it — output one (cape, cin) row per
    (column, parcel level), the 3-D convective-energy field severe-
    weather analysis slices.

    TRUNCATION IDENTITY (the operator's self-check, pinned in
    tests/test_cape.py): the parcel at level kp sees exactly the
    column truncated below kp, so ``cape_3d``'s row at kp equals
    ``surface_cape`` of that truncated column — the integration tail
    is literally the SAME code (``_cape_from_parcel``), the variants
    differ only in how the parcel state attaches.

    Distribution shape: one equi self-join on the column key attaches
    every (parcel, level-above) pair — the row count is inherently
    sum-over-k = K(K+1)/2 per column (that IS the quantity: K CAPE
    integrals per column), uniform across columns, so the join
    shuffles on the same uniform key as everything else and the fold
    runs once per pair.  The buoyancy persist + LFC window + groupBy
    key on (column, parcel level) — per-parcel pencils, never a
    global window."""
    par = df.select(
        *col_keys,
        F.col(k_col).alias("_kp"),
        F.col(p_col).alias("_p0"),
        F.col(t_col).alias("_t0"),
        F.col(qv_col).alias("_qv0"),
    )
    d = df.join(par, list(col_keys)).filter(
        F.col(p_col) <= F.col("_p0")
    )
    out = _cape_from_parcel(
        d, p_col, t_col, qv_col, dz_col, [*col_keys, "_kp"],
        iters, quant,
    )
    return out.withColumnRenamed("_kp", k_col)


def cloud_top_temperature(
    df: DataFrame,
    level_col: str,
    t_col: str,
    cloud_col: str,
    col_keys: list[str],
    threshold: float = 1e-6,
    out_col: str = "ctt_k",
) -> DataFrame:
    """Cloud-top temperature [K] per column (the wrf-python `ctt`
    shape): the temperature at the HIGHEST level (smallest pressure)
    whose condensate mixing ratio exceeds ``threshold``; NULL for
    clear-sky columns.  One partial-aggregated ``min_by`` groupBy —
    no window, no explode; columns with no qualifying level simply
    aggregate NULL."""
    return (
        df.groupBy(*col_keys)
        .agg(
            F.min_by(
                F.when(
                    F.col(cloud_col) > F.lit(float(threshold)),
                    F.col(t_col),
                ),
                F.when(
                    F.col(cloud_col) > F.lit(float(threshold)),
                    F.col(level_col),
                ),
            ).alias(out_col)
        )
    )
