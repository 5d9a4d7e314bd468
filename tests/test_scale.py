"""Opt-in scale demonstrations (SPARK_GRAFT_SLOW=1): larger-than-CI
runs that pin the 100-TB-design claims on real executions."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

slow = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SLOW"),
    reason="set SPARK_GRAFT_SLOW=1 to run scale demonstrations",
)


@slow
def test_distributed_tessellation_100k_sites(spark):
    """100k-site sheared lattice through the tile+halo path: exact area
    partition of the bbox; >=99.8% of cells carry the exactness
    certificate at a fixed 16-unit halo (the uncertified remainder are
    the giant empty-corner boundary cells whose 2R exceeds it — honest
    flags, not errors; a 26-unit halo certifies 100%)."""
    from wrf_to_geodataframe_spark.geometry.tessellate import (
        tessellate_distributed,
    )

    xs, ys = np.meshgrid(np.arange(400, dtype=float), np.arange(250, dtype=float))
    pts = np.stack([xs.ravel() + 0.05 * ys.ravel(), ys.ravel()], axis=1)
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "site_id long, x double, y double")
    bbox = (
        float(pts[:, 0].min() - 0.5), float(pts[:, 1].min() - 0.5),
        float(pts[:, 0].max() + 0.5), float(pts[:, 1].max() + 0.5),
    )
    out = tessellate_distributed(
        df, "x", "y", ["site_id"], bbox=bbox,
        tile_size=25.0, halo=16.0, spacing_hint=1.0,
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("exact").cast("long")).alias("n_exact"),
        F.sum("area").alias("total"),
    ).collect()[0]
    assert agg.n == 100_000
    assert agg.n_exact >= 99_800
    bbox_area = (bbox[2] - bbox[0]) * (bbox[3] - bbox[1])
    assert abs(agg.total - bbox_area) < 1e-9 * bbox_area


@slow
def test_dedup_pipeline_200k_docs(spark):
    """200k synthetic documents (half the corpus planted as 20k
    near-duplicate 5-cliques, text synthesized from md5 streams
    entirely in JVM expressions — no driver materialization) through the full
    MinHash-LSH -> connected-components pipeline.  Pins the 100 TB
    design claims on a real execution: candidate pairs stay linear-ish
    in the corpus (no quadratic blow-up), >=99% of planted clusters
    merge completely (the 4x4 banding's designed S-curve gives ~92%
    per-pair recall at the planted Jaccard ~0.83, so a small tail of
    5-cliques loses enough edges to disconnect — measured 106/20000 =
    0.53%), clusters NEVER cross planted groups (precision stays
    perfect), and the run completes on local[32] at a corpus 40x the
    bench scale."""
    import time

    from wrf_to_geodataframe_spark.operators.graph import label_components
    from wrf_to_geodataframe_spark.suite.pipeline import (
        minhash_verified_pairs,
    )

    n_groups = 20_000  # 5 members each -> half the corpus is planted dups
    n_docs = 200_000
    # deterministic synthetic corpus: doc i in group g = i % n_groups
    # shares a 12-word md5-derived base text with its group; docs
    # outside groups (i >= 5 * n_groups) get unique text.  Group
    # members append one distinct word so pairs are NEAR-dups.
    base = F.concat_ws(
        " ",
        *[
            F.md5(F.concat(F.col("gid").cast("string"), F.lit(f"w{k}")))
            for k in range(12)
        ],
    )
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 5 * n_groups, F.col("id") % n_groups)
            .otherwise(F.col("id"))
            .alias("gid"),
        )
        .select(
            "doc_id",
            "gid",
            F.concat(
                base,
                F.lit(" tail"),
                (F.col("doc_id") % 3).cast("string"),
            ).alias("text"),
        )
    )
    t0 = time.time()
    # the suite's own verified-pair pipeline (shared helper, so the
    # verification semantics here can never drift from the gate query)
    pairs = (
        minhash_verified_pairs(docs.select("doc_id", "text"))
        .select(F.col("da").alias("a"), F.col("db").alias("b"))
        .persist()
    )
    n_pairs = pairs.count()
    # linearity guard: 100k docs in 20k clusters of 5 -> <= 10 true
    # pairs per cluster = 200k true pairs; a quadratic candidate
    # blow-up would be orders of magnitude larger
    assert 0 < n_pairs <= 300_000, n_pairs
    # the self-healing path at scale: start under-provisioned (rounds=1
    # cannot converge even a 3-chain) and let the exact convergence
    # check escalate — same contract the gate row uses
    labels, unmerged = label_components(
        docs.select("doc_id"), pairs, "doc_id", rounds=1, auto_escalate=3
    )
    joined = labels.join(docs.select("doc_id", "gid"), "doc_id")
    agg = joined.groupBy("gid").agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    bad_groups = agg.filter(
        (F.col("n_docs") > 1) & (F.col("n_clusters") != 1)
    ).count()
    # clusters never span planted groups: a cluster id maps to one gid
    spans = (
        joined.groupBy("cluster_id")
        .agg(F.countDistinct("gid").alias("n_gids"))
        .filter(F.col("n_gids") > 1)
        .count()
    )
    n_unmerged = unmerged.collect()[0].n_unmerged
    wall = time.time() - t0
    print(
        f"200k-doc dedup: pairs={n_pairs} bad_groups={bad_groups} "
        f"spans={spans} unmerged={n_unmerged} wall={wall:.1f}s"
    )
    # drop BOTH the test's own persist and the sigs/banded frames
    # minhash_verified_pairs persists internally — 3.2M signature rows
    # must not stay cached for the rest of the pytest session
    spark.catalog.clearCache()
    assert n_unmerged == 0
    # recall tail: banding misses ~8% of j=0.83 pairs; only a group
    # whose remaining edges disconnect its 5-clique splits
    assert bad_groups <= 0.01 * n_groups, bad_groups
    assert spans == 0


@slow
def test_ngram_df_cap_survives_universal_boilerplate(spark):
    """Adversarial skew for the n-gram dedup df cap (VERDICT r4 item
    #6): 200k docs ALL sharing one boilerplate sentence.  Uncapped,
    each interior boilerplate shingle has df=200k and the inverted-
    index self-join would emit ~8 * (200k choose 2) ≈ 1.6e11 candidate
    rows — unrunnable.  With the cap, boilerplate shingles leave the
    universe, candidates collapse to exactly the planted identical
    pairs, and the whole run stays inside a tight wall-clock budget."""
    import time

    from wrf_to_geodataframe_spark.suite.pipeline import (
        _NGRAM_DF_CAP,
        capped_shingle_index,
    )

    n_docs = 200_000
    half = n_docs // 2
    n_planted = 200  # docs i and i+half share unique text for i < 200
    boiler = (
        "terms of service all rights reserved copyright notice applies"
    )  # 9 words -> 7 interior shingles, each df = n_docs >> cap
    key = (
        F.when(F.col("doc_id") % half < n_planted, F.col("doc_id") % half)
        .otherwise(F.col("doc_id"))
        .cast("string")
    )
    uniq = F.concat_ws(
        " ", *[F.md5(F.concat(key, F.lit(f":u{k}"))) for k in range(6)]
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " "), uniq).alias("text"),
    )
    t0 = time.time()
    sh = capped_shingle_index(docs).persist()
    index_rows = sh.count()
    # every doc has 13 shingles, 7 pure-boilerplate ones dropped
    assert index_rows <= 7 * n_docs, index_rows
    a, b = sh.alias("a"), sh.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.hs") == F.col("b.hs"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .persist()
    )
    n_cand = cand.count()
    wall = time.time() - t0
    # O(docs) linearity: only the planted twins share any surviving
    # shingle (plus boundary shingles are keyed by the unique words)
    assert n_cand == n_planted, n_cand
    planted_ok = cand.filter(F.col("db") == F.col("da") + half).count()
    assert planted_ok == n_planted
    spark.catalog.clearCache()
    print(
        f"boilerplate-skew: cap={_NGRAM_DF_CAP} index_rows={index_rows} "
        f"candidates={n_cand} wall={wall:.1f}s"
    )
    assert wall < 180, wall


@slow
def test_decontam_1m_docs_planted_shard(spark):
    """1M synthetic docs with a planted benchmark passage: 8 eval docs
    and ~57 training docs carry one shared 8-gram (total carriers stay
    under the df cap — the cap is for UBIQUITOUS text, and this pins
    that real contamination below it survives).  The evidence rows must
    be exactly the planted training carriers, candidates stay
    O(carriers), and the whole run fits a tight wall-clock budget."""
    import time

    from wrf_to_geodataframe_spark.suite.pipeline import (
        _DECON_EVAL_MOD,
        _decontam_evidence,
    )

    n_docs = 1_000_000
    passage = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    # carriers: eval docs divisible by 140000 (= lcm(7, 20000): 8 docs)
    # + train docs with doc_id % 15013 == 11 that are not eval (~57)
    carrier = (F.col("doc_id") % 140_000 == 0) | (
        (F.col("doc_id") % 15_013 == 11)
        & (F.col("doc_id") % _DECON_EVAL_MOD != 0)
    )
    uniq = F.concat_ws(
        " ",
        *[
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":d{k}")))
            for k in range(12)
        ],
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(carrier, F.concat(uniq, F.lit(" " + passage)))
        .otherwise(uniq)
        .alias("text"),
    )
    expected = {
        i
        for i in range(11, n_docs, 15_013)
        if i % _DECON_EVAL_MOD != 0
    }
    t0 = time.time()
    evidence = _decontam_evidence(docs).persist()
    rows = evidence.collect()
    wall = time.time() - t0
    spark.catalog.clearCache()
    got = {r.doc_id for r in rows}
    assert got == expected, (len(got), len(expected))
    n_eval_carriers = len(range(0, n_docs, 140_000))
    for r in rows:
        # exactly the one planted passage 8-gram is shared (boundary
        # shingles mix in per-doc unique words), seen in every eval
        # carrier, the smallest of which is doc 0
        assert r.n_shared_ngrams == 1, r
        assert r.n_eval_docs == n_eval_carriers, r
        assert r.first_eval_id == 0, r
    print(
        f"1M-doc decontam: contaminated={len(got)} "
        f"eval_carriers={n_eval_carriers} wall={wall:.1f}s"
    )
    assert wall < 300, wall


@slow
def test_mixture_1m_docs_1000x_source_skew(spark):
    """Temperature mixing over a 1000:1 skewed source distribution
    (one 500k-doc head, 50 tail sources of 500 docs): T = 0.5 quotas
    must flatten the head to ~sqrt(1000) ~ 32x the tail (vs 1000x for
    proportional sampling), every tail source stays represented, the
    draw matches the exact integer quota formula, and the rank window
    over the 500k-row head group completes inside the budget (the
    static rk pre-filter caps what mappers forward)."""
    import math
    import time

    from wrf_to_geodataframe_spark.suite.pipeline import (
        _MIX_W_SCALE,
        temperature_mixture,
    )

    n_head, n_tail_sources, n_tail = 500_000, 50, 500
    target = 10_000
    docs = spark.range(n_head + n_tail_sources * n_tail).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n_head, F.lit("head"))
        .otherwise(
            F.concat(F.lit("tail"), ((F.col("id") - n_head) / n_tail).cast("long"))
        )
        .alias("source"),
    )
    t0 = time.time()
    out = temperature_mixture(docs, target).persist()
    counts = {
        r.source: (r.n, r.quota)
        for r in out.groupBy("source", "quota")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    wall = time.time() - t0
    spark.catalog.clearCache()
    # exact integer quota replay
    w_head = math.floor(math.sqrt(n_head) * _MIX_W_SCALE)
    w_tail = math.floor(math.sqrt(n_tail) * _MIX_W_SCALE)
    w_tot = w_head + n_tail_sources * w_tail
    q_head = target * w_head // w_tot
    q_tail = target * w_tail // w_tot
    assert counts["head"] == (min(q_head, n_head), q_head)
    for s in range(n_tail_sources):
        assert counts[f"tail{s}"] == (min(q_tail, n_tail), q_tail), s
    # temperature flattening: head draw ~ sqrt(1000)x tail, not 1000x
    ratio = counts["head"][0] / counts["tail0"][0]
    assert 20 < ratio < 45, ratio
    assert all(counts[f"tail{s}"][0] > 0 for s in range(n_tail_sources))
    print(
        f"1M-doc mixture: head={counts['head']} tail0={counts['tail0']} "
        f"ratio={ratio:.1f} wall={wall:.1f}s"
    )
    assert wall < 180, wall


@slow
def test_curate_v2_200k_docs_planted_classes(spark, tmp_path):
    """The COMPOSED curation pipeline at 200k docs with planted bad
    classes — short (quality), looped (repetition), benchmark-
    contaminated (decontam), and exact-duplicate pairs (dedup) — whose
    output must match an EXACT driver-side reference replay of all six
    stages (every class mask, the keeper rule, and the integer quota
    formula recomputed independently in numpy/hashlib).  Pins that the
    composition, not just each stage, is correct at 40x the gate
    corpus, with a skewed source distribution."""
    import hashlib
    import math
    import time

    from wrf_to_geodataframe_spark.suite.pipeline import curate_v2

    n_docs = 200_000
    target = 5_000
    passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    eval_mod = 7

    doc_id = F.col("id")
    r = doc_id % 100
    # dup pairs: ids ≡6 and ≡8 (mod 100) share a century-keyed base
    # text (namespaced so it cannot collide with any doc's OWN key)
    base_key = F.when(
        (r == 6) | (r == 8),
        F.concat(F.lit("dup:"), (doc_id / 100).cast("long").cast("string")),
    ).otherwise(doc_id.cast("string"))
    words = [
        F.substring(F.md5(F.concat(base_key, F.lit(f":w{j}"))), 1, 8)
        for j in range(50)
    ]
    base50 = F.concat_ws(" ", *words)
    contam = (
        (doc_id % 4999 == 17) & (doc_id % eval_mod != 0) & (r != 1) & (r != 2)
    )
    eval_carrier = doc_id % 35_000 == 0  # all ≡ 0 (mod 7): 6 docs
    text = (
        F.when(r == 1, F.lit("tiny doc here"))
        .when(r == 2, F.concat_ws(" ", *([F.lit("lo"), F.lit("op")] * 30)))
        .when(contam | eval_carrier, F.concat(base50, F.lit(" " + passage)))
        .otherwise(base50)
    )
    source = (
        F.when(doc_id < 120_000, F.lit("big"))
        .otherwise(F.concat(F.lit("s"), ((doc_id - 120_000) / 10_000).cast("long")))
    )
    synth = spark.range(n_docs).select(
        doc_id.alias("doc_id"),
        F.lit("en").alias("lang"),
        source.alias("source"),
        text.alias("text"),
    )
    # materialize the corpus: the pipeline's contract is a SCANNED
    # table (leaving the 50-md5 synthesis expression in-plan would
    # re-inline it into every downstream token/shingle/regex
    # expression — a known Catalyst collapse-projection blowup, and
    # not the shape any real corpus has)
    src_dir = str(tmp_path / "curate_corpus")
    synth.repartition(32).write.parquet(src_dir)
    docs = spark.read.parquet(src_dir)

    t0 = time.time()
    rows = curate_v2(docs, target).collect()
    wall = time.time() - t0
    spark.catalog.clearCache()

    # ---- exact reference replay (numpy + hashlib, no Spark) ----
    ids = np.arange(n_docs)
    rr = ids % 100
    is_short = rr == 1
    is_loopy = rr == 2
    is_eval = ids % eval_mod == 0
    is_contam = (ids % 4999 == 17) & ~is_eval & ~is_short & ~is_loopy
    # a dup-pair member whose twin fell into the EVAL split shares all
    # its base shingles with a benchmark doc — decontam rightly flags
    # it (contamination through duplication, a real failure mode)
    cross_contam = (
        ((rr == 6) & ~is_eval & ((ids + 2) % eval_mod == 0))
        | ((rr == 8) & ~is_eval & ((ids - 2) % eval_mod == 0))
    )
    is_contam = is_contam | cross_contam
    # clean = quality ∧ repetition ∧ train-split ∧ not contaminated
    clean = ~is_short & ~is_loopy & ~is_eval & ~is_contam
    # exact dedup on scrubbed content: ids ≡8 share their century
    # partner's text when BOTH are clean and NEITHER carries planted
    # PII differences (no %5 email for ≡6/≡8; %7 url only on eval)
    partner = ids - 2
    dup_loser = (rr == 8) & clean & np.isin(partner, ids[clean & (rr == 6)])
    survivor = clean & ~dup_loser

    src = np.where(
        ids < 120_000, "big",
        np.char.add("s", ((ids - 120_000) // 10_000).astype(str)),
    )
    sources = sorted(set(src))
    n_s = {s: int((survivor & (src == s)).sum()) for s in sources}
    w_s = {s: math.floor(math.sqrt(n_s[s]) * 1_000_000) for s in sources}
    w_tot = sum(w_s.values())
    quota = {s: target * w_s[s] // w_tot for s in sources}

    def h60(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    expected = {}
    for s in sources:
        sids = sorted((h60(int(i)), int(i)) for i in ids[survivor & (src == s)])
        for rk, (_h, i) in enumerate(sids[: quota[s]], start=1):
            expected[i] = (s, rk, quota[s])

    got = {r_.doc_id: (r_.source, r_.rk, r_.quota) for r_ in rows}
    n_exp_tokens = {r_.doc_id: r_.n_tokens for r_ in rows}
    assert got == expected, (
        len(got), len(expected),
        sorted(set(got) ^ set(expected))[:10],
    )
    # every drawn doc is a plain 50-word base text (all planted classes
    # were filtered upstream)
    for i in list(expected)[:50]:
        assert n_exp_tokens[i] == 50
    print(
        f"200k curate_v2: drawn={len(got)} sources={ {s: quota[s] for s in sources} } "
        f"wall={wall:.1f}s"
    )
    assert wall < 360, wall


@slow
def test_url_dedup_1m_docs(spark, tmp_path):
    """URL canonicalization + dedup over 1M docs: the canonical key
    space is exactly lcm(3,50)=150 groups regardless of corpus size
    (every normalization rule collapsing its scramble dimension), so
    the partial aggregate must crush 1M rows to 150 map-side — the
    claim that at 100 TB the shuffle carries ~unique-URL rows.  Counts
    are verified exactly against the residue-class formula."""
    import time

    from wrf_to_geodataframe_spark.suite.pipeline import url_dedup

    n_docs = 1_000_000
    (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), F.lit("x").alias("text"))
        .write.mode("overwrite")
        .parquet(str(tmp_path / "documents.parquet"))
    )
    t0 = time.time()
    rows = url_dedup(spark, str(tmp_path)).collect()
    wall = time.time() - t0
    assert len(rows) == 150
    # doc_id maps to group (doc_id % 3, doc_id % 50): residues mod 150
    # are uniform over 1M docs: 1_000_000 = 6666*150 + 100
    for row in rows:
        assert row.n_docs in (6_666, 6_667), row
        assert row.keeper_doc < 150
    assert sum(r.n_docs for r in rows) == n_docs
    print(f"1M-doc url_dedup: 150 canonical groups wall={wall:.1f}s")
    assert wall < 120, wall


@slow
def test_dedup_semantic_20k_vectors_planted_only(spark, tmp_path):
    """SemDeDup blocking at 20k vectors (sqrt-N = 141 clusters): the
    planted near-dup copies — and ONLY those — survive the 0.99
    threshold, the within-cluster candidate space stays ~N*sqrt(N)
    (never N^2), and the run fits a tight wall-clock budget.  Vectors
    are random unit-ish int8 grids, so organic cosines stay far below
    threshold (the gate-scale measurement, re-pinned here at 40x)."""
    import time

    import pandas as pd

    from wrf_to_geodataframe_spark.suite.pipeline import (
        _SEM_COPY_OFF,
        dedup_semantic,
    )

    n, dim = 20_000, 32
    rng = np.random.default_rng(11)
    emb = rng.integers(-8, 9, (n, dim)).astype("float32")
    pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [row for row in emb],
            "label": np.zeros(n, dtype="int32"),
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    t0 = time.time()
    rows = dedup_semantic(spark, str(tmp_path)).collect()
    wall = time.time() - t0
    planted = n // 10
    # every found pair must be a planted one (zero false positives);
    # recall is >= 99.5% — the small remainder is SemDeDup's inherent
    # boundary caveat (a source on a cluster boundary and its copy can
    # assign to different centroids; the paper accepts this recall/cost
    # trade and so does the operator's docstring)
    assert planted * 0.995 <= len(rows) <= planted, (len(rows), planted)
    for r in rows:
        assert r.keeper_vec % 10 == 0
        assert r.removed_vec == r.keeper_vec + _SEM_COPY_OFF
        assert r.cosine >= 0.99
    print(
        f"20k-vec semantic dedup: {len(rows)}/{planted} planted pairs "
        f"wall={wall:.1f}s"
    )
    assert wall < 300, wall


@slow
def test_dedup_incremental_200k_cross_snapshot_only(spark, tmp_path):
    """Incremental dedup at 200k docs: planted CROSS-snapshot
    near-copies are flagged, planted NEW-vs-NEW duplicate pairs are
    NOT (the split predicates keep old x old and new x new out of the
    candidate join), and the band join stays linear-ish."""
    import time

    from wrf_to_geodataframe_spark.suite.pipeline import dedup_incremental

    n_docs = 200_000
    doc_id = F.col("id")
    r = doc_id % 100
    # cross pairs: id%100==0 (new snapshot: %3 spread... choose pairs
    # explicitly) — docs with r==0 are new iff id%3==0; plant: for
    # centuries c, doc 300c (new, %3==0) copies doc 300c+50 (old,
    # 300c+50 %3 == 2 -> old side) -> shared century key
    cross = ((doc_id % 300 == 0) | (doc_id % 300 == 50))
    # new-new pairs: 300c+99 and 300c+198 are both... 99%3=0, 198%3=0
    newnew = ((doc_id % 300 == 99) | (doc_id % 300 == 198))
    key = (
        F.when(cross, F.concat(F.lit("x:"), (doc_id / 300).cast("long")))
        .when(newnew, F.concat(F.lit("n:"), (doc_id / 300).cast("long")))
        .otherwise(doc_id.cast("string"))
    )
    words = [
        F.substring(F.md5(F.concat(key, F.lit(f":w{j}"))), 1, 8)
        for j in range(30)
    ]
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *words).alias("text"),
        )
        .write.mode("overwrite")
        .parquet(str(tmp_path / "documents.parquet"))
    )
    t0 = time.time()
    rows = dedup_incremental(spark, str(tmp_path)).collect()
    wall = time.time() - t0
    got = {(r_.new_doc, r_.old_doc) for r_ in rows}
    want = {(c * 300, c * 300 + 50) for c in range(n_docs // 300 + 1)
            if c * 300 < n_docs and c * 300 + 50 < n_docs}
    assert want <= got, f"missed {len(want - got)} planted cross pairs"
    flagged_new = {n for n, _ in got}
    for c in range(n_docs // 300):
        assert c * 300 + 99 not in flagged_new
        assert c * 300 + 198 not in flagged_new
    print(
        f"200k-doc incremental dedup: {len(want)} cross pairs, "
        f"{len(got)} flagged wall={wall:.1f}s"
    )
    assert wall < 300, wall


@slow
def test_concave_overlay_1m_cells(spark):
    """1M unit cells overlaid against a 100-ring CONCAVE boundary
    table through the ear-clip triangulate-to-rows kernel: the bucket
    equi join keeps candidates local (no cartesian), and conservation
    holds analytically — each L-boundary placed fully inside the grid
    must receive exactly its own area (2.5*1.3 + 1.3*1.3), because the
    cells partition the plane it sits on."""
    from wrf_to_geodataframe_spark.geometry.overlay import (
        overlay_intersection_general,
    )

    W = 1000  # 1000x1000 = 1M cells
    cells = (
        spark.range(W * W)
        .withColumn("cx", (F.col("id") % W).cast("double"))
        .withColumn("cy", F.floor(F.col("id") / W).cast("double"))
        .select(
            F.col("id").alias("cell_id"),
            F.array(
                F.array(F.col("cx"), F.col("cy")),
                F.array(F.col("cx") + 1, F.col("cy")),
                F.array(F.col("cx") + 1, F.col("cy") + 1),
                F.array(F.col("cx"), F.col("cy") + 1),
            ).alias("a_poly"),
        )
    )
    # 100 L-shaped boundaries scattered well inside the grid
    n_b = 100
    b = (
        spark.range(n_b)
        .withColumn("ox", (F.col("id") % 10).cast("double") * 90.0 + 10.05)
        .withColumn(
            "oy", F.floor(F.col("id") / 10).cast("double") * 90.0 + 10.05
        )
        .select(
            F.col("id").alias("boundary_id"),
            F.array(
                F.array(F.col("ox"), F.col("oy")),
                F.array(F.col("ox") + 2.5, F.col("oy")),
                F.array(F.col("ox") + 2.5, F.col("oy") + 1.3),
                F.array(F.col("ox") + 1.3, F.col("oy") + 1.3),
                F.array(F.col("ox") + 1.3, F.col("oy") + 2.6),
                F.array(F.col("ox"), F.col("oy") + 2.6),
            ).alias("b_poly"),
        )
    )
    pairs = overlay_intersection_general(cells, b, bucket=4.0)
    got = (
        pairs.groupBy("boundary_id")
        .agg(F.sum("area_inter").alias("a"))
        .collect()
    )
    want = 2.5 * 1.3 + 1.3 * 1.3
    assert len(got) == n_b
    for r in got:
        assert abs(r.a - want) < 1e-6, (r.boundary_id, r.a)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@slow
def test_substring_spans_200k_docs_planted(spark, tmp_path):
    """200k docs, a 12-token boilerplate run planted into every 100th
    doc (plus unique filler): exact-substring span accounting must flag
    exactly the planted docs with exactly the planted span length, and
    no other doc — the corpus-wide window-count join stays an equi
    join (no cartesian)."""
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.suite.pipeline import (
        _SUBSTR_K,
        dedup_substring_spans,
    )

    n = 200_000
    boiler = " ".join(f"b{i}" for i in range(12))  # 12-token shared run
    docs = (
        spark.range(n)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 100 == 0,
                F.concat(
                    F.lit(boiler + " "),
                    F.concat_ws(
                        " ",
                        *[
                            F.concat(F.lit(f"u{k}x"), F.col("doc_id"))
                            for k in range(10)
                        ],
                    ),
                ),
            ).otherwise(
                F.concat_ws(
                    " ",
                    *[
                        F.concat(F.lit(f"w{k}x"), F.col("doc_id"))
                        for k in range(22)
                    ],
                )
            ),
        )
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = dedup_substring_spans(spark, str(tmp_path))
    flagged = out.filter(F.col("dup_tokens") > 0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = flagged.collect()
    assert len(rows) == n // 100
    for r in rows:
        assert r.doc_id % 100 == 0
        assert r.dup_tokens == 12  # exactly the boilerplate span
        assert r.n_tokens == 22
    spark.catalog.clearCache()


@slow
def test_quality_lm_score_1000x_stopword_skew(spark, tmp_path):
    """quality_lm_score at 200k docs where EVERY doc interleaves the
    stop word 'the' with doc-unique tokens: the 'the' bigram-prefix
    key carries ~half of all 3.2M bigram rows (a 1000x+ hot key vs any
    other prefix).  Under default adaptive settings the scoring join
    must complete inside the budget via AQE's runtime broadcast
    conversion of the dictionary-sized build side (the mechanism the
    quality_lm_score docstring claims; the rule-level counterparts are
    pinned fast in tests/test_skew.py), and the scores themselves must
    match the closed form: with every bigram (the,u)/(u,the) unique
    per doc, p = 1e9*cb//cu is 1e9//1_600_000 for 'the'-prefixed
    bigrams (cb=1, cu=8*n_docs) and 1e9 for u-prefixed ones (cb=cu=1,
    except u,the with cb=1,cu=1)."""
    import os
    import time

    from wrf_to_geodataframe_spark.suite.pipeline import quality_lm_score

    n_docs = 200_000
    n_pairs = 8
    uniq = [
        F.substring(
            F.md5(F.concat(F.col("id").cast("string"), F.lit(f":{j}"))), 1, 8
        )
        for j in range(n_pairs)
    ]
    parts = []
    for u in uniq:
        parts += [F.lit("the"), u]
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *parts).alias("text"),
    )
    # materialize: in-plan md5 corpora re-inline into every downstream
    # lambda (the r6 collapse-projection trap)
    docs.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    t0 = time.time()
    out = quality_lm_score(spark, str(tmp_path))
    rows = out.collect()
    wall = time.time() - t0
    spark.catalog.clearCache()
    assert len(rows) == n_docs
    # closed-form check: per doc 15 bigrams; 8 'the'-prefixed each
    # p_the = 1e9 // (8*n_docs); 7 u-prefixed each p_u = 1e9
    p_the = 10**9 // (n_pairs * n_docs)
    exp_mean = (n_pairs * p_the + (n_pairs - 1) * 10**9) // (2 * n_pairs - 1)
    for r in rows[:100]:
        assert r.n_tokens == 2 * n_pairs
        assert r.n_bigrams == 2 * n_pairs - 1
        assert r.lm_min_scaled == p_the, r
        assert r.lm_mean_scaled == exp_mean, r
    # the skew-sensitive w1 join must have been converted to broadcast
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastHashJoin" in final, final
    print(f"200k-doc 1000x stop-word skew lm score: wall={wall:.1f}s")
    assert wall < 120, wall


@slow
def test_heavy_gates_10x_scale_ratio(spark, tmp_path):
    """VERDICT r7 item #7: the three heaviest pipeline gates on the
    SAME synthesized corpus at n and 10n docs — wall-clock must grow
    linearly-or-better (ratio well under the ~100x a hidden quadratic
    term would show; bound 25 leaves room for fixed job overhead and
    timing noise).  The corpus plants every signal class the gates
    consume: 10-doc exact-duplicate clusters per 1000-block
    (cluster_cc), a 12-token boilerplate run in every 100th doc
    (substring spans), and a 3-source mixture (curate_v3)."""
    import os
    import time

    from wrf_to_geodataframe_spark.suite.pipeline import (
        dedup_cluster_cc,
        dedup_substring_spans,
        pipeline_curate_v3,
    )

    boiler = " ".join(f"bl{i}" for i in range(12))

    def corpus(n: int) -> str:
        outdir = os.path.join(str(tmp_path), f"sf_{n}")
        doc_id = F.col("id")
        r = doc_id % 100
        base_key = (
            F.when(
                r == 7,
                F.concat(
                    F.lit("dup:"),
                    (doc_id / 1000).cast("long").cast("string"),
                ),
            )
            .otherwise(doc_id.cast("string"))
        )
        words = [  # 60 words: clears curate's n_words >= 50 floor
            F.substring(F.md5(F.concat(base_key, F.lit(f":w{j}"))), 1, 8)
            for j in range(60)
        ]
        body = F.concat_ws(" ", *words)
        text = F.when(r == 3, F.concat(F.lit(boiler + " "), body)).otherwise(
            body
        )
        spark.range(n).select(
            doc_id.alias("doc_id"),
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.element_at(
                F.array(F.lit("web"), F.lit("books"), F.lit("code")),
                (doc_id % 3 + 1).cast("int"),
            ).alias("source"),
            F.length(text).alias("n_chars"),
        ).write.mode("overwrite").parquet(
            os.path.join(outdir, "documents.parquet")
        )
        return outdir

    gates = {
        "dedup_substring_spans": dedup_substring_spans,
        "dedup_cluster_cc": dedup_cluster_cc,
        "pipeline_curate_v3": pipeline_curate_v3,
    }
    n_small = 15_000
    walls: dict[str, dict[int, float]] = {g: {} for g in gates}
    for n in (n_small, 10 * n_small):
        d = corpus(n)
        for name, fn in gates.items():
            t0 = time.time()
            rows = fn(spark, d).collect()
            walls[name][n] = time.time() - t0
            assert rows, name
            spark.catalog.clearCache()
    for name in gates:
        r = walls[name][10 * n_small] / walls[name][n_small]
        print(
            f"{name}: {walls[name][n_small]:.1f}s -> "
            f"{walls[name][10 * n_small]:.1f}s at 10x (ratio {r:.1f})"
        )
        assert r < 25, (name, walls[name])


@slow
def test_netcdf_archive_120_shards_round_trip(spark, tmp_path):
    """Archive-scale S1/S4 demo: 120 per-timestep shards x 60x80 cells
    (576k cells) written by the DISTRIBUTED sink and re-read by the
    DISTRIBUTED scan — closed-form value/coord sums verified exactly
    (2^-3-lattice coords, integer values), parallelism >= shard count
    when packing is defeated, wall bounded."""
    import time

    from wrf_to_geodataframe_spark.sources.netcdf import (
        read_netcdf_dir,
        write_netcdf_dir,
    )

    nt, ny, nx = 120, 60, 80
    cells = (
        spark.range(nt * ny * nx)
        .select(
            (F.col("id") / (ny * nx)).cast("long").alias("t_idx"),
            ((F.col("id") % (ny * nx)) / nx).cast("long").alias("y_idx"),
            (F.col("id") % nx).alias("x_idx"),
        )
        .select(
            "t_idx", "y_idx", "x_idx",
            (50.0 + F.col("y_idx") * 0.25).alias("lat"),
            (-3.0 + F.col("x_idx") * 0.125).alias("lon"),
            (F.col("t_idx") * 100_000 + F.col("y_idx") * nx
             + F.col("x_idx")).cast("double").alias("value"),
        )
    )
    outdir = str(tmp_path / "archive")
    t0 = time.time()
    manifest = write_netcdf_dir(cells, outdir).collect()
    t_write = time.time() - t0
    assert len(manifest) == nt
    t0 = time.time()
    df = read_netcdf_dir(spark, outdir, "T2", "XLAT", "XLONG")
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sv"),
        F.sum(F.col("lat") + F.col("lon")).alias("sc"),
    ).collect()[0]
    t_read = time.time() - t0
    n_cells = nt * ny * nx
    assert agg.n == n_cells
    # exact closed forms (integer values; coords on the 2^-3 lattice)
    sv = sum(t * 100_000 * ny * nx for t in range(nt)) + nt * sum(
        y * nx + x for y in range(ny) for x in range(nx)
    )
    sc = nt * sum(
        (50.0 + y * 0.25) + (-3.0 + x * 0.125)
        for y in range(ny) for x in range(nx)
    )
    assert agg.sv == float(sv)
    assert agg.sc == sc
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        assert (
            read_netcdf_dir(spark, outdir, "T2", "XLAT", "XLONG")
            .rdd.getNumPartitions()
            >= nt
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    print(
        f"120-shard archive: write {t_write:.1f}s, "
        f"read+agg {t_read:.1f}s ({n_cells} cells)"
    )
    assert t_write < 120 and t_read < 120


@slow
def test_virtual_manifest_300_files_pruned_read(spark, tmp_path):
    """Archive-scale virtual dataset: 300 NetCDF-4 files (chunked +
    shuffle+deflate, 4x32x32 each -> 1.2M cells) indexed ONCE into the
    chunk table WITH a decoded 1200-step time axis, then (a) a
    10-timestep window answered from pruned byte ranges, (a') the same
    window derived from a TIMESTAMP range via the times sidecar alone.
    Asserts the window's manifest scan materializes only the window's
    chunks (the chunk-pruning claim at file counts where it matters)
    and that the pruned read is value-exact."""
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.virtual import (
        build_virtual_manifest,
        read_virtual,
    )

    n_files, nt, ny, nx = 300, 4, 32, 32
    d = str(tmp_path / "src")
    out = str(tmp_path / "man")
    os.makedirs(d)
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    tt = np.arange(nt)
    for f in range(n_files):
        write_netcdf4(
            os.path.join(d, f"shard_{f:04d}.nc"),
            {"t": nt, "y": ny, "x": nx},
            {
                "t": {"dims": ["t"],
                      "data": (f * nt + tt).astype("float64") * 6.0,
                      "attrs": {"units":
                                "hours since 2020-01-01 00:00:00"}},
                "T2": {"dims": ["t", "y", "x"],
                       "data": (f * 100000.0 + tt[:, None, None] * 1000
                                + yy * nx + xx)},
                "XLAT": {"dims": ["y", "x"], "data": 50.0 + yy * 0.25},
                "XLONG": {"dims": ["y", "x"], "data": -3.0 + xx * 0.125},
            },
            compress=True,
            chunk={"T2": (2, 16, 16)},
        )
    t0 = time.monotonic()
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out,
                           time_var="t")
    t_build = time.monotonic() - t0
    man = spark.read.parquet(os.path.join(out, "chunks"))
    # 2x2x2 chunk grid per file
    assert man.count() == n_files * 8
    assert man.select("coord_hash").distinct().count() == 1

    # (a) 10-timestep window: global t in [600, 609] -> files 150-152
    lo, hi = 600, 609
    pruned = man.filter((F.col("t1") > lo) & (F.col("t0") <= hi))
    touched = pruned.count()
    assert touched <= 3 * 8  # at most 3 files' chunks survive pruning
    t0 = time.monotonic()
    rows = read_virtual(spark, out, time_range=(lo, hi)).collect()
    t_read = time.monotonic() - t0
    assert len(rows) == 10 * ny * nx
    for r in rows[:: max(1, len(rows) // 97)]:
        f, lt = divmod(r["t_idx"], nt)
        assert r["value"] == (
            f * 100000.0 + lt * 1000 + r["y_idx"] * nx + r["x_idx"]
        )

    # timestamp-window pruning from the times sidecar alone: global
    # steps 600-609 are hours 3600..3654 after the epoch
    from wrf_to_geodataframe_spark.sources.virtual import time_to_windows

    t0 = time.monotonic()
    win = time_to_windows(
        spark, out,
        (np.datetime64("2020-01-01") + np.timedelta64(3600, "h"),
         np.datetime64("2020-01-01") + np.timedelta64(3654, "h")),
    )
    t_win = time.monotonic() - t0
    assert win == (lo, hi)
    with_time = read_virtual(spark, out, time_range=win)
    assert "time" in with_time.columns

    print(
        f"\nvirtual 300-file archive: build {t_build:.1f}s, "
        f"pruned 10-step read {t_read:.1f}s, "
        f"window touched {touched}/{n_files * 8} chunks, "
        f"timestamp->window {t_win:.2f}s"
    )


@slow
def test_virtual_mosaic_100_scenes_bbox_read(spark, tmp_path):
    """Continental-mosaic shape: a 10x10 grid of 64x64 COG scenes
    (409.6k pixels, deflate tiles) indexed into global pixel space;
    a bbox straddling four scene corners reads through pruned byte
    ranges and is value-exact."""
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.geotiff import write_geotiff
    from wrf_to_geodataframe_spark.sources.virtual import (
        bbox_to_windows,
        build_virtual_mosaic,
        read_virtual,
    )

    n, h, w = 10, 64, 64
    d, out = str(tmp_path / "src"), str(tmp_path / "man")
    os.makedirs(d)
    for r in range(n):
        for c in range(n):
            gy, gx = np.meshgrid(
                np.arange(h) + r * h, np.arange(w) + c * w,
                indexing="ij",
            )
            write_geotiff(
                os.path.join(d, f"scene_{r:02d}_{c:02d}.tif"),
                ((gy * 10000.0 + gx) / 8.0),
                transform=(0.125, 0, 0.0 + c * w * 0.125,
                           0, -0.25, 80.0 - r * h * 0.25),
                epsg=4326, tiled=True, tile=(16, 16), compression=8,
            )
    t0 = time.monotonic()
    build_virtual_mosaic(spark, d, out)
    t_build = time.monotonic() - t0
    man = spark.read.parquet(os.path.join(out, "chunks"))
    total = man.count()
    assert total == n * n * 16  # 4x4 tiles per scene
    # bbox centered on the seam between scenes (4,4)..(5,5)
    yr, xr = bbox_to_windows(
        spark, out, lat_range=(-2.0, 2.0), lon_range=(38.0, 42.0)
    )
    touched = man.filter(
        (F.col("y1") > yr[0]) & (F.col("y0") <= yr[1])
        & (F.col("x1") > xr[0]) & (F.col("x0") <= xr[1])
    ).count()
    t0 = time.monotonic()
    rows = read_virtual(spark, out, y_range=yr, x_range=xr).collect()
    t_read = time.monotonic() - t0
    assert len(rows) == (yr[1] - yr[0] + 1) * (xr[1] - xr[0] + 1)
    for r_ in rows[:: max(1, len(rows) // 101)]:
        assert r_["value"] == (
            r_["y_idx"] * 10000.0 + r_["x_idx"]
        ) / 8.0
    assert touched < total * 0.05  # bbox touches < 5% of the tiles
    print(
        f"\nmosaic 100 scenes: build {t_build:.1f}s, bbox read "
        f"{t_read:.1f}s, touched {touched}/{total} tiles"
    )


@slow
def test_virtual_100_distinct_grids_bounded_driver(spark, tmp_path):
    """The adversarial sidecar shape: 100 files, EVERY one on a
    DISTINCT 64x64 curvilinear grid (no hash dedup possible — the
    sidecar is 100 x 64 x 64 x 16 B = 6.6 MB of coordinate arrays).
    (a) bbox_to_windows computes per-grid windows ON EXECUTORS and
    collects only the 4-number union — asserted by running it under a
    sidecar far over the read cap; (b) read_virtual's named guard
    trips at a cap below the sidecar size and succeeds above it;
    (c) the guarded read is value-exact on a pruned window."""
    import numpy as np
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.hdf5_write import write_netcdf4
    from wrf_to_geodataframe_spark.sources.virtual import (
        bbox_to_windows,
        build_virtual_manifest,
        read_virtual,
    )

    n_files, nt, ny, nx = 100, 2, 64, 64
    d = str(tmp_path / "src")
    out = str(tmp_path / "man")
    os.makedirs(d)
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    tt = np.arange(nt)
    for f in range(n_files):
        # distinct grid per file: shifted origin -> distinct hash
        write_netcdf4(
            os.path.join(d, f"shard_{f:04d}.nc"),
            {"t": nt, "y": ny, "x": nx},
            {
                "T2": {"dims": ["t", "y", "x"],
                       "data": (f * 100000.0 + tt[:, None, None] * 1000
                                + yy * nx + xx)},
                "XLAT": {"dims": ["y", "x"],
                         "data": 40.0 + f * 0.01 + yy * 0.25},
                "XLONG": {"dims": ["y", "x"],
                          "data": -9.0 + f * 0.01 + xx * 0.125},
            },
            compress=True,
            chunk={"T2": (1, 32, 32)},
        )
    build_virtual_manifest(spark, d, "T2", "XLAT", "XLONG", out)
    coords = spark.read.parquet(os.path.join(out, "coords"))
    n_grids = coords.count()
    assert n_grids == n_files  # no dedup possible: all distinct
    sidecar_bytes = coords.agg(
        F.sum(F.length("lat") + F.length("lon"))
    ).collect()[0][0]
    assert sidecar_bytes == n_files * ny * nx * 16

    # (a) executor-side window search: only the union row reaches the
    # driver, no grid bytes — works regardless of sidecar size
    yr, xr = bbox_to_windows(
        spark, out, lat_range=(41.0, 41.5), lon_range=(-8.5, -8.0)
    )
    assert yr is not None and xr is not None
    # grid 0 places lat 41.0..41.5 at y 4..6; later grids shift down
    assert yr[0] >= 0 and yr[1] < ny and xr[0] >= 0 and xr[1] < nx

    # (b) the read guard: named failure below the sidecar size,
    # success above it
    with pytest.raises(ValueError, match="too large to broadcast"):
        read_virtual(spark, out, max_sidecar_bytes=sidecar_bytes - 1)
    rows = read_virtual(
        spark, out, time_range=(0, 0), y_range=yr, x_range=xr,
        max_sidecar_bytes=sidecar_bytes + 1024,
    ).collect()
    assert rows
    # (c) value-exact on the pruned window (file 0 owns t_idx 0)
    for r in rows:
        assert r["value"] == r["y_idx"] * nx + r["x_idx"]
        assert abs(r["lat"] - (40.0 + r["y_idx"] * 0.25)) < 1e-12


@slow
def test_render_grid_100m_pixels_slippy_layer(spark):
    """The docstring claim behind render_grid, demonstrated: a 10^8-cell
    long grid table (10000x10000, the shape read_virtual emits) renders
    as a 40x40 slippy-map layer of 256px tiles (the driver fetches only
    the two corner tiles it checks), then reduces
    one pyramid level (1600 -> 400 parents) with per-parent state of at
    most 4 child PNGs.  One shuffle for the tile groupBy; pixel painting
    is vectorized numpy per Arrow task."""
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.sources.png import decode_png
    from wrf_to_geodataframe_spark.sources.render import (
        build_tile_pyramid,
        colormap_rgb,
        render_grid,
    )

    n = 10_000  # 10^8 pixels
    grid = spark.range(n * n).select(
        F.floor(F.col("id") / n).cast("bigint").alias("y_idx"),
        (F.col("id") % n).cast("bigint").alias("x_idx"),
        # value = x + y: a diagonal ramp hitting both colormap ends
        ((F.col("id") % n) + F.floor(F.col("id") / n))
        .cast("double").alias("value"),
    )
    t0 = time.monotonic()
    tiles = render_grid(spark, grid, width=n, height=n, tile=256)
    tiles.persist()
    n_written = tiles.count()
    dt = time.monotonic() - t0
    nt = -(-n // 256)  # 40
    assert n_written == nt * nt == 1600

    def _tile_png(ty, tx):
        return bytes(tiles.filter(
            (F.col("tile_y") == ty) & (F.col("tile_x") == tx)
        ).collect()[0]["png"])

    # spot-decode the two extreme corner tiles
    w, h, ch, raw = decode_png(_tile_png(0, 0))
    img = np.frombuffer(raw, "uint8").reshape(h, w, 4)
    assert (img[:, :, 3] == 255).all()
    assert tuple(img[0, 0, :3]) == tuple(colormap_rgb(np.int64(0)))
    last = nt - 1
    w, h, ch, raw = decode_png(_tile_png(last, last))
    # edge tile: 10000 % 256 = 16 -> 16x16
    assert (w, h) == (n - last * 256, n - last * 256)
    img2 = np.frombuffer(raw, "uint8").reshape(h, w, 4)
    assert tuple(img2[-1, -1, :3]) == tuple(colormap_rgb(np.int64(255)))
    t1 = time.monotonic()
    parents = build_tile_pyramid(spark, tiles, levels=1, tile=256)
    n_parents = parents.count()
    dt2 = time.monotonic() - t1
    tiles.unpersist()
    assert n_parents == (nt // 2) ** 2 == 400
    print(f"\nrender 10^8 px -> 1600 tiles in {dt:.1f}s; "
          f"pyramid level 1 (400 parents) in {dt2:.1f}s")


@slow
def test_knn_join_1m_points_100k_stations(spark):
    """The banded k-NN join at the scale the broadcast path can't do:
    1M points x 100k stations, 15 km radius, 0.25-deg banding cells
    (>= the radius in both axes up to 60N) — candidates stay band-
    bounded, never the 1e11 all-pairs product.  Ten sampled points
    are verified against a numpy brute force over ALL 100k stations."""
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.suite.spatial import knn_join

    # domain: lat [40, 60], lon [-10, 10]; deterministic LCG-ish spread
    n_pts, n_st = 1_000_000, 100_000
    pts = spark.range(n_pts).select(
        F.col("id").alias("user_id"),
        (F.pmod(F.col("id") * 7919, F.lit(2_000_000)) / 100000.0
         - 10.0).alias("lon"),
        (F.pmod(F.col("id") * 104729, F.lit(2_000_000)) / 100000.0
         + 40.0).alias("lat"),
    )
    st = spark.range(n_st).select(
        F.col("id").alias("station_id"),
        (F.pmod(F.col("id") * 2153, F.lit(2_000_000)) / 100000.0
         + 40.0).alias("s_lat"),
        (F.pmod(F.col("id") * 6007, F.lit(2_000_000)) / 100000.0
         - 10.0).alias("s_lon"),
    )
    t0 = time.monotonic()
    out = knn_join(pts, st, radius_m=15_000.0, cell_deg=0.25, k=3)
    got = {
        (r["user_id"], r["rk"]): (r["station_id"], r["dist_mm"])
        for r in out.filter(F.col("user_id") % 100_000 == 17).collect()
    }
    n_results = out.count()
    dt = time.monotonic() - t0
    assert n_results > 1_000_000  # ~3 hits per point at this density
    # brute force the 10 sampled points against ALL stations
    sl = (np.arange(n_st) * 2153 % 2_000_000) / 100000.0 + 40.0
    so = (np.arange(n_st) * 6007 % 2_000_000) / 100000.0 - 10.0
    R = 6371000.0
    for uid in range(17, n_pts, 100_000):
        plon = (uid * 7919 % 2_000_000) / 100000.0 - 10.0
        plat = (uid * 104729 % 2_000_000) / 100000.0 + 40.0
        dphi = np.radians(sl - plat) / 2
        dlam = np.radians(so - plon) / 2
        a = (np.sin(dphi) ** 2
             + np.cos(np.radians(plat)) * np.cos(np.radians(sl))
             * np.sin(dlam) ** 2)
        d_mm = np.floor(
            2.0 * R * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0))) * 1000.0
        ).astype("int64")
        order = np.lexsort((np.arange(n_st), d_mm))
        want = [
            (int(s), int(d_mm[s]))
            for s in order if d_mm[s] <= 15_000_000
        ][:3]
        have = [got.get((uid, rk + 1)) for rk in range(len(want))]
        assert have == want, uid
        # and no extra ranks beyond the brute-force hit count
        assert (uid, len(want) + 1) not in got
    print(f"\nknn 1M x 100k in {dt:.1f}s, {n_results} result rows")


@slow
def test_image_ahash_dedup_100k_images(spark, tmp_path):
    """Perceptual image dedup at corpus scale: 100k synthetic docs
    (1 in 10 a planted near-copy) through the REAL PNG encode/decode
    round trip + banded aHash self-join.  Precision must be PERFECT
    (random 64-bit hashes never collide within Hamming 2, and banding
    is exact for that radius).  Recall is >= 99.8%, not 100%, and
    that is the HASH's semantics, not a join miss: the +3 pixel
    perturbation also shifts the global mean, so blocks whose sum sits
    within 2 of the threshold legitimately flip — a planted pair can
    land at Hamming 3+ (measured: 11 of 10,000 at this corpus)."""
    import os as _os
    import time

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.suite.pipeline import dedup_image_ahash

    n = 100_000
    d = str(tmp_path)
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("text"),
        )
        .write.mode("overwrite")
        .parquet(_os.path.join(d, "documents.parquet"))
    )
    t0 = time.monotonic()
    pairs = dedup_image_ahash(spark, d)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    dt = time.monotonic() - t0
    want = {(i - 1, i) for i in range(1, n, 10)}
    missed = want - got
    extra = got - want
    assert not extra, f"{len(extra)} false-positive pairs"
    assert len(missed) <= 0.002 * len(want), (
        f"{len(missed)} planted pairs past the Hamming radius"
    )
    print(f"\nimage dedup 100k PNG round-trips in {dt:.1f}s, "
          f"{len(got)} pairs, precision 1.0, "
          f"recall {1 - len(missed) / len(want):.4f}")


@slow
def test_minhash_dedup_adversarial_90pct_identical_200k(spark, tmp_path):
    """EXACT-DUPLICATE SKEW at corpus scale: 200k docs of which 90% are
    byte-identical copies — one HOT group of 4,000 copies plus 1,955
    groups of 90 — the adversarial shape that used to put every copy of
    a group on one (band, band_key) self-join key (O(k^2) candidate
    rows on a single task, 4x-amplified across bands, then a distinct).
    With the exact-duplicate collapse, only the ~22k DISTINCT
    signatures enter the banded join and the verify stage; the
    within-group side is pure output (every produced row IS a result
    pair).  The pair count is closed-form and every estimate is exactly
    1.0 on a sample."""
    import os as _os
    import time

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.suite.pipeline import (
        minhash_verified_pairs,
    )

    n_hot, n_small_groups, gsz = 4_000, 1_955, 90
    n_dup = n_hot + n_small_groups * gsz  # 179,950 = ~90% of 200k
    n_docs = 200_000
    # doc < n_hot -> the hot group (gid 0); next block -> group
    # 1 + (doc - n_hot) // 90; rest unique
    gid = (
        F.when(F.col("id") < n_hot, F.lit(0))
        .when(
            F.col("id") < n_dup,
            1 + ((F.col("id") - n_hot) / gsz).cast("long"),
        )
        .otherwise(-F.col("id") - 1)  # unique negative gid per doc
    )
    base = F.concat_ws(
        " ",
        *[
            F.md5(F.concat(F.col("gid").cast("string"), F.lit(f"w{k}")))
            for k in range(12)
        ],
    )
    (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), gid.alias("gid"))
        .select("doc_id", base.alias("text"))
        .write.mode("overwrite")
        .parquet(_os.path.join(str(tmp_path), "documents.parquet"))
    )
    docs = spark.read.parquet(_os.path.join(str(tmp_path), "documents.parquet"))
    t0 = time.time()
    pairs = minhash_verified_pairs(docs).persist()
    n_pairs = pairs.count()
    want = n_hot * (n_hot - 1) // 2 + n_small_groups * gsz * (gsz - 1) // 2
    # estimates are exactly 1.0 everywhere (identical signatures);
    # check the hot group's sampled slice without collecting 16M rows
    bad_est = pairs.filter(F.col("jaccard_est") != 1.0).count()
    hot = pairs.filter((F.col("da") == 0) & (F.col("db") < n_hot)).count()
    wall = time.time() - t0
    pairs.unpersist()
    spark.catalog.clearCache()
    print(
        f"\nadversarial 90%-identical 200k: pairs={n_pairs} "
        f"(want {want}), wall={wall:.1f}s"
    )
    assert n_pairs == want, (n_pairs, want)
    assert bad_est == 0
    assert hot == n_hot - 1  # doc 0 pairs with every other hot member


@slow
def test_equalarea_regrid_1m_cells_conserves(spark):
    """The reusable conservative regrid at 1M source cells (0.05-deg
    grid spanning 35-60N, continental scale) with EXACT ellipsoidal
    area weights: mass is conserved to the per-pair quantization bound
    and the run completes in seconds on local[32] — the overlay is an
    index explode (~4 pairs/cell), one partial-aggregated shuffle, one
    broadcast re-attach; nothing here grows superlinearly."""
    import time

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.functions.crs import (
        ellipsoid_box_area_m2,
    )
    from wrf_to_geodataframe_spark.operators.regrid import (
        conservative_regrid_rect,
    )

    nx, ny = 1000, 1000  # 1M cells, 0.05 deg each: lon 0..50E, lat 35..85N? keep 35..60
    dlat = 0.025
    src = spark.range(nx * ny).select(
        (F.col("id") % nx).cast("double").alias("cx"),
        (F.col("id") / nx).cast("long").cast("double").alias("cy"),
        (F.pmod(F.col("id") * 37, F.lit(1000)) + 1).cast("double")
        .alias("val"),
    ).select(
        (F.col("cx") * 0.05).alias("x1"),
        (F.col("cy") * dlat + 35.0).alias("y1"),
        ((F.col("cx") + 1) * 0.05).alias("x2"),
        ((F.col("cy") + 1) * dlat + 35.0).alias("y2"),
        (F.col("cx") * 0.05 + 0.025).alias("x"),
        (F.col("cy") * dlat + 35.0 + dlat / 2).alias("y"),
        "val",
    )
    total_src = src.agg(F.sum("val")).collect()[0][0]
    t0 = time.monotonic()
    out = conservative_regrid_rect(
        src, "val", 0.013, 35.007, 0.09, 0.045,
        area_fn=lambda x1, y1, x2, y2: ellipsoid_box_area_m2(
            x1, y1, x2, y2
        ),
        quantize=lambda c: F.round(c).cast("long"),
        q_scale=1_000_000.0,
    )
    agg = out.agg(
        F.sum("value").alias("tot"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    dt = time.monotonic() - t0
    # ~4 pairs/cell, 0.5/Q rounding each
    assert abs(agg.tot - total_src) < 4e6 * 0.5 / 1e6 * 2, (
        agg.tot, total_src
    )
    assert agg.n > 300_000  # the coarser grid covers the domain
    print(f"\n1M-cell equal-area regrid in {dt:.1f}s, "
          f"mass {agg.tot:.3f}/{total_src} over {agg.n} dest cells")


@slow
def test_regrid_to_crs_100k_cells_laea(spark):
    """The reference's project-then-overlay regrid at 100k source
    cells: 0.1-deg lon/lat cells over Europe onto a 25-km EPSG:3035
    grid through corner projection + the bucketed convex-clip overlay.
    Mass conserved (coverage normalization) to 1e-9 relative; wall
    time printed — the overlay is a bucketed equi join, so cost scales
    with cells x overlapped-dest-cells, never all-pairs."""
    import time

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.operators.regrid import (
        conservative_regrid_to_crs,
    )

    nx, ny = 400, 250  # 100k cells: lon -5..35, lat 40..65
    src = spark.range(nx * ny).select(
        (F.col("id") % nx).cast("double").alias("cx"),
        (F.col("id") / nx).cast("long").cast("double").alias("cy"),
        (1.0 + F.pmod(F.col("id") * 13, F.lit(100))).alias("val"),
    ).select(
        (F.col("cx") * 0.1 - 5.0).alias("lon1"),
        (F.col("cy") * 0.1 + 40.0).alias("lat1"),
        (F.col("cx") * 0.1 - 4.9).alias("lon2"),
        (F.col("cy") * 0.1 + 40.1).alias("lat2"),
        "val",
    )
    total = src.agg(F.sum("val")).collect()[0][0]
    t0 = time.monotonic()
    out = conservative_regrid_to_crs(
        src, "val", "EPSG:3035",
        3000000.0, 2000000.0, 25000.0, 25000.0,
        bucket=100000.0, normalize="coverage",
    )
    agg = out.agg(
        F.sum("value").alias("tot"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    dt = time.monotonic() - t0
    assert abs(agg.tot - total) / total < 1e-9, (agg.tot, total)
    assert agg.n > 10_000
    print(f"\n100k-cell to_crs(3035) overlay regrid in {dt:.1f}s, "
          f"mass {agg.tot:.3f}/{total}, {agg.n} dest cells")


@slow
def test_pagerank_1m_nodes_10_iterations(spark):
    """PageRank at web-ish scale: a 1M-node, 3M-edge deterministic
    multigraph through 10 integer-exact iterations.  Sanity: total
    mass bounded by n*q (sinks absent here, floors only shave ulps),
    a heavily-linked hub ranks above the uniform baseline, and the run
    completes in seconds on local[32] — per-iteration cost is two
    shuffles over (node, BIGINT) rows, nothing grows with iteration
    count."""
    import time

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.operators.graph import (
        pagerank_integer,
    )

    n = 1_000_000
    nodes = spark.range(n).select(F.col("id").alias("node"))
    # 3 out-edges per node; 1% of nodes also link to hub 0
    e1 = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 48271 + 11) % n).alias("dst"))
    e2 = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 69621 + 7) % n).alias("dst"))
    e3 = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 16807 + 3) % n).alias("dst"))
    hub = spark.range(0, n, 100).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst"))
    edges = e1.unionByName(e2).unionByName(e3).unionByName(hub)
    t0 = time.monotonic()
    pr = pagerank_integer(nodes, edges, iters=10).persist()
    total = pr.agg(F.sum("pr_q")).collect()[0][0]
    hub_rank = pr.filter(F.col("node") == 0).collect()[0].pr_q
    dt = time.monotonic() - t0
    pr.unpersist()
    q = 1_000_000_000
    assert total <= n * q
    assert total > n * q * 0.999  # floors shave < 0.1%
    assert hub_rank > 3 * q  # ~10k extra in-links concentrate mass
    print(f"\npagerank 1M nodes x 3M edges x 10 iters in {dt:.1f}s, "
          f"hub pr {hub_rank/q:.1f}x baseline")


@slow
def test_pagerank_dangling_1m_nodes(spark):
    """Dangling-redistribution PageRank at the same 1M-node scale:
    10% of nodes are sinks (no out-edges); each of the 10 rounds is
    one localCheckpoint job with a broadcast share.  Mass conservation
    holds to the exact floor bound (N*q - total <= iters*(E + 3N)),
    the sinks' rank is recycled rather than leaked (total strictly
    above the leak variant's), and the run completes in well under a
    minute on local[32]."""
    import time

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.operators.graph import (
        pagerank_dangling_integer,
        pagerank_integer,
    )

    n, q, iters = 1_000_000, 1_000_000_000, 10
    nodes = spark.range(n).select(F.col("id").alias("node"))
    live = spark.range(n).filter(F.col("id") % 10 != 0)  # 10% sinks
    e1 = live.select(
        F.col("id").alias("src"), ((F.col("id") * 48271 + 11) % n).alias("dst"))
    e2 = live.select(
        F.col("id").alias("src"), ((F.col("id") * 69621 + 7) % n).alias("dst"))
    edges = e1.unionByName(e2).persist()
    n_edges = edges.count()

    t0 = time.monotonic()
    pr = pagerank_dangling_integer(nodes, edges, iters=iters).persist()
    total = pr.agg(F.sum("pr_q")).collect()[0][0]
    delta = pr.select("delta_q").first().delta_q
    dt = time.monotonic() - t0
    leak_total = (
        pagerank_integer(nodes, edges, iters=iters)
        .agg(F.sum("pr_q")).collect()[0][0]
    )
    pr.unpersist()
    edges.unpersist()
    lost = n * q - total
    assert 0 <= lost <= iters * (n_edges + 3 * n), (lost, n_edges)
    assert leak_total < total  # redistribution recycled the sink mass
    assert delta >= 0
    print(f"\ndangling pagerank 1M nodes x {n_edges} edges x {iters} "
          f"iters in {dt:.1f}s; floor loss {lost / (n * q):.2e}, "
          f"leak variant lost {(n * q - leak_total) / (n * q):.1%}")


@slow
def test_nb_classifier_200k_docs_planted_classes(spark, tmp_path):
    """The model-based quality filter at 200k docs: two planted
    30-token vocabularies plus unique md5-word noise per document,
    labels visible only on the ~29% seed — held-out classification
    must stay exact (the hashed 4096-bucket model absorbs collisions
    in the 33-token mean) and the whole train+score pass runs in
    seconds: one tokenize scan, one broadcast model join, two
    partial-agg groupBys."""
    import os as _os
    import time

    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.suite.pipeline import (
        quality_nb_classifier,
    )

    n = 200_000
    doc_id = F.col("id")
    hq = doc_id % 2 == 1
    noise = [
        F.substring(
            F.md5(F.concat(doc_id.cast("string"), F.lit(f":n{j}"))), 1, 8
        )
        for j in range(20)
    ]
    markers = F.when(
        hq, F.lit(" ".join(f"edu{k}" for k in range(30)))
    ).otherwise(F.lit(" ".join(f"spam{k}" for k in range(30))))
    synth = spark.range(n).select(
        doc_id.alias("doc_id"),
        F.when(hq, F.lit("en")).otherwise(F.lit("xx")).alias("lang"),
        F.concat(markers, F.lit(" "), F.concat_ws(" ", *noise)).alias(
            "text"
        ),
    )
    d = str(tmp_path)
    synth.repartition(32).write.parquet(
        _os.path.join(d, "documents.parquet")
    )

    t0 = time.monotonic()
    rows = quality_nb_classifier(spark, d).collect()
    dt = time.monotonic() - t0
    spark.catalog.clearCache()
    assert len(rows) == n
    wrong = [r.doc_id for r in rows if r.pred_hq != (r.doc_id % 2 == 1)]
    assert not wrong, wrong[:10]
    print(f"\nnb classifier 200k docs train+score in {dt:.1f}s, "
          f"0 held-out errors")


@slow
def test_shard_sink_2m_tokens(spark, tmp_path):
    """The training sink at 2M tokens (50k docs): deterministic
    seeded shuffle + 4096-token npy shards.  Verifies the manifest
    covers every token exactly once (sum == corpus tokens, all shards
    full except the last), spot-checks three shard files byte-for-byte
    against a hashlib replay, and reports wall time — the pipeline is
    one tokenize scan, one doc-level window per hash bucket, one
    explode, one shuffle on shard_id into the Arrow writer."""
    import glob as _glob
    import hashlib
    import os as _os
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from wrf_to_geodataframe_spark.functions.text import hash60
    from wrf_to_geodataframe_spark.operators.shards import (
        SHARD_TOKENS,
        write_training_corpus,
    )

    n_docs = 50_000
    doc_id = F.col("id")
    words = [
        F.substring(
            F.md5(F.concat(doc_id.cast("string"), F.lit(f":w{j}"))), 1, 6
        )
        for j in range(40)
    ]
    src = str(tmp_path / "corpus")
    spark.range(n_docs).select(
        doc_id.alias("doc_id"), F.concat_ws(" ", *words).alias("text")
    ).repartition(32).write.parquet(src)
    docs = spark.read.parquet(src)
    doc_toks = docs.select(
        "doc_id",
        F.transform(F.split("text", " "), lambda w: hash60(w)).alias("toks"),
    )
    out = str(tmp_path / "shards")
    _os.makedirs(out)

    t0 = time.monotonic()
    man = write_training_corpus(doc_toks, out, "scale").collect()
    dt = time.monotonic() - t0
    spark.catalog.clearCache()

    total = n_docs * 40
    assert sum(r.n_tokens for r in man) == total
    sizes = {r.shard_id: r.n_tokens for r in man}
    last = max(sizes)
    assert sorted(sizes) == list(range(last + 1))
    assert all(sizes[i] == SHARD_TOKENS for i in range(last))

    # hashlib replay of the full stream; spot-check 3 shards on disk
    def _h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    texts = {r.doc_id: r.text for r in docs.collect()}
    order = sorted(texts, key=lambda i: (_h60(f"scale:{i}"), i))
    stream = [_h60(w) for i in order for w in texts[i].split(" ")]
    files = sorted(_glob.glob(_os.path.join(out, "shard_*.npy")))
    assert len(files) == last + 1
    for sid in (0, last // 2, last):
        arr = np.load(files[sid])
        want = stream[sid * SHARD_TOKENS:(sid + 1) * SHARD_TOKENS]
        assert [int(x) for x in arr] == want, f"shard {sid} mismatch"
    print(f"\nshard sink: {total} tokens -> {last + 1} shards in "
          f"{dt:.1f}s")


@slow
def test_vorticity_smooth2d_1m_cell_grid(spark):
    """1M-cell grid (1000 x 1000) through the pencil-window dynamics:
    solid-body rotation gives avo == 2 omega at every interior point
    (998^2 cells), and two smooth2d passes leave the constant interior
    constant — the d/dx, d/dy, and smoother shuffles all run as
    thousands of parallel pencils, no global sort anywhere."""
    from wrf_to_geodataframe_spark.operators.dynamics import (
        absolute_vorticity,
        smooth2d,
    )

    n, omega, dx = 1000, 0.0625, 16.0
    grid = (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
        )
        .select(
            "x", "y",
            (F.lit(-omega) * F.col("y") * dx).alias("u"),
            (F.lit(omega) * F.col("x") * dx).alias("v"),
        )
    )
    avo = absolute_vorticity(grid, "u", "v", "x", "y", dx, dx)
    agg = avo.agg(
        F.count(F.lit(1)).alias("total"),
        F.count("avo").alias("interior"),
        F.min("avo").alias("lo"),
        F.max("avo").alias("hi"),
    ).collect()[0]
    assert agg.total == n * n
    assert agg.interior == (n - 2) * (n - 2)
    assert agg.lo == 2 * omega and agg.hi == 2 * omega
    sm = smooth2d(
        avo.filter(F.col("avo").isNotNull()), "avo", "x", "y", passes=2,
        out_col="avs",
    )
    deep = sm.filter(
        F.col("x").between(3, n - 4) & F.col("y").between(3, n - 4)
    ).agg(F.min("avs").alias("lo"), F.max("avs").alias("hi")).collect()[0]
    assert deep.lo == 2 * omega and deep.hi == 2 * omega


@slow
def test_surface_cape_100k_columns(spark):
    """100k sounding columns (1M level rows) through surface_cape: the
    40-step F.aggregate bisection runs as plain JVM expression work
    inside the two column-window stages.  Profiles repeat on a small
    (x%4, y%5)-class pattern, so every column's cape/cin is pinned to
    the numpy replay of its class — 100k exact assertions via one
    distinct-and-join, no driver loop."""
    import math as _math

    ncols = 100_000
    lev = (
        spark.range(ncols)
        .select(
            (F.col("id") % 4).alias("cx"),
            (F.col("id") / 4).cast("long").alias("cy"),
        )
        .select(
            "cx", "cy",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k"),
        )
        .select(
            "cx", "cy", "k",
            (F.lit(100000.0) - F.col("k") * 9000.0).alias("p"),
            (
                F.lit(302.0)
                + (F.col("cx") % 4) * 0.25
                - F.when((F.col("cy") % 5) == 4, 3.0)
                .otherwise(F.lit(6.5))
                * F.col("k")
            ).alias("t"),
            F.greatest(
                F.lit(0.015625)
                + (F.col("cx") % 4) * 0.001953125
                - F.lit(0.00146484375) * F.col("k"),
                F.lit(0.000244140625),
            ).alias("qv"),
            F.lit(500.0).alias("dz"),
        )
    )
    from wrf_to_geodataframe_spark.operators.vertical import surface_cape

    out = surface_cape(lev, "p", "t", "qv", "dz", ["cy", "cx"])
    # class expectations via the numpy replay in tests/test_cape.py
    from tests.test_cape import _numpy_cape

    expect = {}
    for cxm in range(4):
        for cym in range(5):
            levels = []
            for k in range(10):
                lapse = 3.0 if cym == 4 else 6.5
                levels.append((
                    100000.0 - 9000.0 * k,
                    302.0 + cxm * 0.25 - lapse * k,
                    max(0.015625 + cxm * 0.001953125
                        - 0.00146484375 * k, 0.000244140625),
                    500.0,
                ))
            expect[(cxm, cym)] = _numpy_cape(levels)
    rows = spark.createDataFrame(
        [
            (cxm, cym, float(cape),
             float(cin) if cin is not None else _math.nan)
            for (cxm, cym), (cape, cin) in expect.items()
        ],
        "cxm long, cym long, e_cape double, e_cin double",
    )
    joined = out.join(
        rows,
        ((F.col("cx") % 4) == F.col("cxm"))
        & ((F.col("cy") % 5) == F.col("cym")),
    )
    cin_matches = F.coalesce(F.col("cin"), F.lit(_math.nan)).eqNullSafe(
        F.col("e_cin")
    )  # Spark NaN semantics: NaN equals NaN, standing in for NULL cin
    bad = joined.filter(
        (F.col("cape") != F.col("e_cape")) | ~cin_matches
    ).count()
    n = out.count()
    assert n == ncols
    assert bad == 0


@slow
def test_wrf_getvar_120_shard_archive(spark, tmp_path):
    """The getvar front door at archive shape: 120 per-timestep wrfout
    shards (one binaryFile task each, executor-side NetCDF parse)
    through getvar('slp') and getvar('tk') — every shard's columns
    pinned to the closed form, nothing data-sized on the driver."""
    import os as _os

    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar
    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf

    nk, nj, ni, nf = 6, 6, 8, 120
    kk, jj, ii = np.meshgrid(
        np.arange(nk), np.arange(nj), np.arange(ni), indexing="ij"
    )
    ks = np.arange(nk + 1)[:, None, None] + 0 * jj[:1]
    d = str(tmp_path / "arch")
    _os.makedirs(d)
    for f in range(nf):
        write_netcdf(
            _os.path.join(d, f"wrfout_d01_{f:04d}.nc"),
            {"k": nk, "ks": nk + 1, "j": nj, "i": ni},
            {
                "T": {"dims": ["k", "j", "i"],
                      "data": -8.0 * kk + (ii + jj) / 4.0 + (f % 16)},
                "P": {"dims": ["k", "j", "i"], "data": 0.0 * kk},
                # dry column: tv == t exactly, closed form unchanged
                "QVAPOR": {"dims": ["k", "j", "i"], "data": 0.0 * kk},
                "PB": {"dims": ["k", "j", "i"],
                       "data": 95000.0 - 9000.0 * kk},
                "PH": {"dims": ["ks", "j", "i"],
                       "data": np.broadcast_to(
                           0.0 * ks, (nk + 1, nj, ni)).copy()},
                "PHB": {"dims": ["ks", "j", "i"],
                        "data": np.broadcast_to(
                            4905.0 * ks, (nk + 1, nj, ni)).copy()},
                "XLAT": {"dims": ["j", "i"],
                         "data": 38.0 + jj[0] * 0.25},
                "XLONG": {"dims": ["j", "i"],
                          "data": -101.0 + ii[0] * 0.25},
            },
        )
    slp = wrf_getvar(spark, d, "slp").withColumn(
        "f", F.regexp_extract("file", r"_(\d+)\.nc", 1).cast("long")
    )
    assert slp.count() == nf * nj * ni
    # closed form: zsfc = 250 m everywhere; pivot k = 2
    import math as _math

    bad = 0
    xterm = 0.0065 * 287.047 / 9.81
    got = slp.collect()
    for r in got:
        theta2 = (-16.0 + (r.x_idx + r.y_idx) / 4.0 + (r.f % 16)) + 300.0
        tk2 = theta2 * (77000.0 / 100000.0) ** (2.0 / 7.0)
        tsfc = tk2 * (95000.0 / 77000.0) ** xterm
        tsl = tsfc + 0.0065 * 250.0
        want = 95000.0 * _math.exp(
            2 * 9.81 * 250.0 / (287.047 * (tsl + tsfc))
        )
        if abs(r.slp - want) > 1e-7 * want:
            bad += 1
    assert bad == 0
    tk = wrf_getvar(spark, d, "tk")
    assert tk.count() == nf * nk * nj * ni


@slow
def test_wrf_getvar_many_shares_scans_at_archive_shape(spark, tmp_path):
    """wrf_getvar_many at archive shape: 60 wrfout shards, THREE
    diagnostics (slp + tk + pw) off ONE persisted pencil scan —
    executing all three costs one archive pass, not six, and every
    value matches the closed form."""
    import math as _math
    import os as _os

    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar_many
    from wrf_to_geodataframe_spark.session import release_persisted
    from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf

    release_persisted()
    nk, nj, ni, nf = 6, 6, 8, 60
    kk, jj, ii = np.meshgrid(
        np.arange(nk), np.arange(nj), np.arange(ni), indexing="ij"
    )
    ks = np.arange(nk + 1)[:, None, None] + 0 * jj[:1]
    d = str(tmp_path / "arch")
    _os.makedirs(d)
    for f in range(nf):
        write_netcdf(
            _os.path.join(d, f"wrfout_d01_{f:04d}.nc"),
            {"k": nk, "ks": nk + 1, "j": nj, "i": ni},
            {
                "T": {"dims": ["k", "j", "i"],
                      "data": -8.0 * kk + (ii + jj) / 4.0 + (f % 16)},
                "P": {"dims": ["k", "j", "i"], "data": 0.0 * kk},
                "PB": {"dims": ["k", "j", "i"],
                       "data": 95000.0 - 9000.0 * kk},
                "QVAPOR": {"dims": ["k", "j", "i"], "data": 0.0 * kk},
                "PH": {"dims": ["ks", "j", "i"],
                       "data": np.broadcast_to(
                           0.0 * ks, (nk + 1, nj, ni)).copy()},
                "PHB": {"dims": ["ks", "j", "i"],
                        "data": np.broadcast_to(
                            4905.0 * ks, (nk + 1, nj, ni)).copy()},
                "XLAT": {"dims": ["j", "i"],
                         "data": 38.0 + jj[0] * 0.25},
                "XLONG": {"dims": ["j", "i"],
                          "data": -101.0 + ii[0] * 0.25},
            },
        )
    many = wrf_getvar_many(spark, d, ["slp", "tk", "pw"])
    assert many["tk"].count() == nf * nk * nj * ni
    assert many["pw"].count() == nf * nj * ni
    slp = many["slp"].withColumn(
        "f", F.regexp_extract("file", r"_(\d+)\.nc", 1).cast("long")
    )
    got = slp.collect()
    assert len(got) == nf * nj * ni
    xterm = 0.0065 * 287.047 / 9.81
    bad = 0
    for r in got:
        theta2 = (-16.0 + (r.x_idx + r.y_idx) / 4.0 + (r.f % 16)) + 300.0
        tk2 = theta2 * (77000.0 / 100000.0) ** (2.0 / 7.0)
        tsfc = tk2 * (95000.0 / 77000.0) ** xterm
        tsl = tsfc + 0.0065 * 250.0
        want = 95000.0 * _math.exp(
            2 * 9.81 * 250.0 / (287.047 * (tsl + tsfc))
        )
        if abs(r.slp - want) > 1e-7 * want:
            bad += 1
    assert bad == 0
    # the three plans all read the SAME persisted pencils; nothing
    # re-parses the archive a second time
    for name in ("slp", "tk", "pw"):
        plan = many[name]._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, name
    assert release_persisted() == 1  # the pencils


@slow
def test_wrf_getvar_many_512_shard_archive(spark, tmp_path):
    """Capstone at scale (VERDICT r13 #5): a 512-shard hourly wrfout
    landing zone (21+ days, 6x10x12 grids, written EXECUTOR-SIDE —
    one task per shard batch), driven through
    ``wrf_getvar_many(['tk','pw','z'], times=True)`` — the bounded-pass
    claim on a real archive: every per-name plan holds at most TWO
    archive parse passes (the shared persisted mass scan / zdz + the
    metadata-sized times decode), never one scan set per name; values
    spot-checked against the numpy replay at one shard.

    Measured on the local[32] dev host: write 6.1 s, getvar_many
    11.0 s."""
    import time as _time

    import pandas as pd

    NSH, NK, NJ, NI = 512, 6, 10, 12
    d = str(tmp_path / "landing")
    os.makedirs(d, exist_ok=True)

    def _write(it):
        import numpy as np

        from wrf_to_geodataframe_spark.sources.netcdf import write_netcdf

        for pdf in it:
            n = 0
            for h in pdf["id"]:
                h = int(h)
                kk, jj, ii = np.meshgrid(
                    np.arange(NK), np.arange(NJ), np.arange(NI),
                    indexing="ij",
                )
                ks, jj2, ii2 = np.meshgrid(
                    np.arange(NK + 1), np.arange(NJ), np.arange(NI),
                    indexing="ij",
                )
                day, hod = h // 24, h % 24
                tstr = (
                    f"2021-06-{1 + day:02d}_{hod:02d}:00:00"
                )
                write_netcdf(
                    os.path.join(d, f"wrfout_d01_{h:04d}.nc"),
                    {"k": NK, "ks": NK + 1, "j": NJ, "i": NI,
                     "t": 1, "strlen": 19},
                    {
                        "Times": {
                            "dims": ["t", "strlen"],
                            "data": np.frombuffer(
                                tstr.encode("ascii"), dtype="S1"
                            ).reshape(1, 19),
                        },
                        "T": {"dims": ["k", "j", "i"],
                              "data": -8.0 * kk + (ii + jj) / 4.0},
                        "P": {"dims": ["k", "j", "i"],
                              "data": 100.0 * (ii % 3) + 0.0 * kk},
                        "PB": {"dims": ["k", "j", "i"],
                               "data": 95000.0 - 9000.0 * kk},
                        "QVAPOR": {
                            "dims": ["k", "j", "i"],
                            "data": (16.0 + (ii + jj + kk) % 5 - kk)
                            / 1024.0,
                        },
                        "PH": {"dims": ["ks", "j", "i"],
                               "data": 9.81 * (ii2 + jj2) / 4.0},
                        "PHB": {"dims": ["ks", "j", "i"],
                                "data": 4905.0 * ks},
                        "T2": {
                            "dims": ["j", "i"],
                            "data": 288.0 + (ii[0] + jj[0]) / 8.0
                            + hod / 16.0 + day / 32.0,
                        },
                        "XLAT": {"dims": ["j", "i"],
                                 "data": 38.0 + jj[0] * 0.25},
                        "XLONG": {"dims": ["j", "i"],
                                  "data": -101.0 + ii[0] * 0.25},
                    },
                )
                n += 1
            yield pd.DataFrame({"n": [n]})

    t0 = _time.time()
    wrote = (
        spark.range(NSH).repartition(32)
        .mapInPandas(_write, "n long")
        .agg(F.sum("n")).collect()[0][0]
    )
    t_write = _time.time() - t0
    assert wrote == NSH

    # shared-scan getvar_many over the archive
    from wrf_to_geodataframe_spark.operators.wrf import wrf_getvar_many
    from wrf_to_geodataframe_spark.session import release_persisted

    t0 = _time.time()
    many = wrf_getvar_many(
        spark, d, ["tk", "pw", "z"], times=True
    )
    for name, frame in many.items():
        plan = frame._jdf.queryExecution().executedPlan().toString()
        # bounded passes: >= 3 would mean per-name scan sets leaked back
        assert plan.count("MapInPandas") <= 2, (name, plan)
    counts = {n: f.count() for n, f in many.items()}
    assert counts["tk"] == NSH * NK * NJ * NI
    assert counts["pw"] == NSH * NJ * NI
    assert counts["z"] == NSH * NK * NJ * NI

    # numpy replay spot check at shard h=100, all cells
    h = 100
    kk, jj, ii = np.meshgrid(
        np.arange(NK), np.arange(NJ), np.arange(NI), indexing="ij"
    )
    theta = -8.0 * kk + (ii + jj) / 4.0 + 300.0
    prs = 100.0 * (ii % 3) + 95000.0 - 9000.0 * kk
    tk_np = theta * (prs / 100000.0) ** (2.0 / 7.0)
    qv = (16.0 + (ii + jj + kk) % 5 - kk) / 1024.0
    pw_np = (qv[:-1] * 9000.0).sum(axis=0) / 9810.0
    ksg = np.arange(NK + 1)[:, None, None]
    zs = (9.81 * (ii[:1] + jj[:1]) / 4.0 + 4905.0 * ksg) / 9.81
    z_np = (zs[:-1] + zs[1:]) / 2.0
    tag = f"_{h:04d}.nc"
    got_tk = {
        (r.k, r.y_idx, r.x_idx): r.tk
        for r in many["tk"].filter(F.col("file").endswith(tag)).collect()
    }
    got_pw = {
        (r.y_idx, r.x_idx): r.pw
        for r in many["pw"].filter(F.col("file").endswith(tag)).collect()
    }
    got_z = {
        (r.k, r.y_idx, r.x_idx): r.z
        for r in many["z"].filter(F.col("file").endswith(tag)).collect()
    }
    assert len(got_tk) == NK * NJ * NI and len(got_pw) == NJ * NI
    for (k, j, i) in [(0, 0, 0), (2, 4, 7), (NK - 1, NJ - 1, NI - 1)]:
        assert got_tk[(k, j, i)] == pytest.approx(
            tk_np[k, j, i], rel=1e-12
        )
        assert got_z[(k, j, i)] == pytest.approx(z_np[k, j, i], rel=1e-12)
        assert got_pw[(j, i)] == pytest.approx(pw_np[j, i], rel=1e-12)
    t_batch = _time.time() - t0
    release_persisted()

    print(
        f"512-shard landing zone: write {t_write:.1f}s, "
        f"getvar_many(tk,pw,z,times) {t_batch:.1f}s"
    )
    assert t_batch < 300
