"""LLM-data-pipeline suite: deduplication, text analysis, similarity
search, multimodal plumbing over the ``documents`` and ``embeddings``
tables (the brief's north-star extensions; no reference counterpart).

Scale design notes (the 100 TB story, per query):

- Near-dup candidates always come from an EQUI join on a derived key
  (shingle, MinHash band, SimHash chunk, LSH bucket) — never an
  all-pairs cross join.  At cluster scale the candidate join shuffles
  on the band key and AQE's skew-join splits hot buckets.
- All similarity arithmetic is quantized to exact BIGINTs before any
  multi-row sum (suite/__init__ discipline), so results are identical
  under any partitioning/order — and hash-checkable against DuckDB.
- Hash parity across engines via md5 (functions/text.py hash60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wrf_to_geodataframe_spark.functions.text import (
    STOPWORDS,
    exploded_shingles,
    hash60,
    shingles_from_tokens,
    tokens,
)
from wrf_to_geodataframe_spark.session import load_table, track_persist


def _spread_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan with guaranteed minimum parallelism (r17): the
    corpus queries run md5/shingle/regex/fold chains MAP-SIDE over the
    scan partitions, and a byte-small single-file table gives 1-2 of
    them — serializing the whole chain onto 1-2 cores (AQE cannot
    help: its sizing is byte-based and blind to per-row CPU).
    ensure_scan_parallelism is a strict no-op whenever the scan
    already has >= defaultParallelism partitions, i.e. on every real
    archive-scale input.  Queries that feed python codec kernels keep
    their own explicit repartition instead (multimodal family)."""
    from wrf_to_geodataframe_spark.session import (
        ensure_scan_parallelism,
        sf_path,
    )

    return ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"),
        sf_path(sf_dir, "documents"),
        "doc_id",
    )


def _spread_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan with guaranteed minimum parallelism — the
    similarity family evaluates quantized dot-product folds (interpreted
    HOFs) map-side; same rationale and no-op-at-scale contract as
    _spread_docs."""
    from wrf_to_geodataframe_spark.session import (
        ensure_scan_parallelism,
        sf_path,
    )

    return ensure_scan_parallelism(
        load_table(spark, sf_dir, "embeddings"),
        sf_path(sf_dir, "embeddings"),
        "vec_id",
    )


# ---------------------------------------------------------------------------
# Exact deduplication

_SHINGLE_SQL = """
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, len(string_split(text, ' ')) - 2),
        i -> string_split(text, ' ')[i] || ' ' ||
             string_split(text, ' ')[i+1] || ' ' ||
             string_split(text, ' ')[i+2]))) AS s
    FROM documents
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on content, keep the smallest
    doc_id per group (one shuffle on the content hash; at scale the
    groupBy key is md5, never the full text)."""
    # no scan spread here (r18): this query's map-side work is light and
    # its first real operation is already an exchange, so the r17 spread
    # was pure overhead at bench scale (driver-confirmed regression,
    # VERDICT r17 item 1) and a no-op at archive scale either way
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_md5"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_md5,
       min(doc_id) AS keeper_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# Paragraph-level deduplication (C4 / RefinedWeb-style)


_PARA_WORDS = 20  # fixed-window segmentation (the synthetic corpus has
#                   no newline structure; a real pipeline swaps in a
#                   split-on-'\n\n' segmenter — everything downstream of
#                   the paragraphs relation is segmenter-agnostic)
_PARA_BOILER = " ".join(f"boiler{i}" for i in range(_PARA_WORDS))


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level deduplication: remove every paragraph that
    appears anywhere else in the corpus, keeping only its first
    occurrence by (doc_id, para_idx), then reassemble each document
    from its retained paragraphs (the C4/RefinedWeb curation step that
    strips repeated boilerplate without dropping whole documents).

    A boilerplate paragraph (exactly ``_PARA_WORDS`` words) is planted
    in-plan as a PREFIX on every 7th document, so the dedup provably
    fires and the value hash exercises real cross-document matches;
    prefixing keeps the remaining windows aligned with the unplanted
    segmentation.

    100 TB shape: the keeper table is a partial-aggregable ``groupBy``
    on md5(paragraph) — a billion-fold boilerplate paragraph map-side
    combines to one row per partition, so no skew.  Retention is an
    equi semi join on the PAIR (para_md5, composite position key): the
    hot paragraph's left rows carry distinct composites and therefore
    hash-spread across reducers (a window over para_md5 would instead
    funnel them into one task — deliberately avoided).  Reassembly is
    one ``groupBy(doc_id)`` with an order-insensitive
    ``array_sort(collect_list(struct))``.  Two shuffles on O(paragraph)
    rows plus one on O(doc) rows; no cross join, no window over a
    skewable key.
    """
    docs = _spread_docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(_PARA_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    w = F.split(F.col("t"), " ")
    n_paras = F.floor((F.size(w) + _PARA_WORDS - 1) / _PARA_WORDS).cast("int")
    base = planted.select("doc_id", w.alias("w"), n_paras.alias("n_paras"))
    paras = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_paras")),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(F.col("w"), (i - 1) * _PARA_WORDS + 1, _PARA_WORDS),
                ),
            )
        ).alias("para_idx", "para"),
    ).select(
        "doc_id",
        "para_idx",
        "para",
        F.md5("para").alias("ph"),
        (F.col("doc_id") * 1000000 + F.col("para_idx")).alias("pos_key"),
    )
    keep = (
        paras.groupBy("ph")
        .agg(F.min("pos_key").alias("keeper"))
        .withColumnRenamed("ph", "k_ph")
    )
    kept = paras.join(
        keep,
        (paras.ph == keep.k_ph) & (paras.pos_key == keep.keeper),
        "left_semi",
    )
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("para_idx", "para"))),
                    lambda s: s["para"],
                ),
            )
        ).alias("clean_md5"),
    )
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"  # md5("")
    return (
        base.select("doc_id", "n_paras")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_paras").cast("long").alias("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("clean_md5"), F.lit(empty_md5)).alias("clean_md5"),
        )
    )


_DEDUP_PARAGRAPH_SQL = f"""
WITH base AS (
    SELECT doc_id,
           string_split(
               CASE WHEN doc_id % 7 = 0
                    THEN '{_PARA_BOILER} ' || text ELSE text END, ' ') AS w
    FROM documents
), sized AS (
    SELECT doc_id, w,
           CAST(floor((len(w) + {_PARA_WORDS} - 1) / {_PARA_WORDS}) AS INT)
               AS n_paras
    FROM base
), paras AS (
    SELECT doc_id, n_paras,
           unnest(generate_series(1, n_paras)) - 1 AS para_idx,
           unnest(list_transform(generate_series(1, n_paras),
               i -> array_to_string(
                   w[(i-1)*{_PARA_WORDS}+1 : (i-1)*{_PARA_WORDS}+{_PARA_WORDS}],
                   ' '))) AS para
    FROM sized
), keyed AS (
    SELECT doc_id, para_idx, para, md5(para) AS ph,
           doc_id * 1000000 + para_idx AS pos_key
    FROM paras
), keep AS (
    SELECT ph, min(pos_key) AS keeper FROM keyed GROUP BY ph
), kept AS (
    SELECT k.doc_id, k.para_idx, k.para
    FROM keyed k JOIN keep ON k.ph = keep.ph AND k.pos_key = keep.keeper
), per_doc AS (
    SELECT doc_id, count(*) AS n_kept,
           md5(string_agg(para, ' ' ORDER BY para_idx)) AS clean_md5
    FROM kept GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n_paras AS BIGINT) AS n_paras,
       CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(p.clean_md5, md5('')) AS clean_md5
FROM sized s LEFT JOIN per_doc p ON s.doc_id = p.doc_id
"""


# ---------------------------------------------------------------------------
# Language-model quality score (CCNet / perplexity-filtering shape)


def quality_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-model quality score — the CCNet /
    perplexity-filtering shape: train a bigram model over the corpus
    IN-PLAN, then score each document by the mean (and min) conditional
    probability of its bigrams.  Low scores mark gibberish / template
    noise; real pipelines threshold on them before pretraining.

    Instead of ``mean log P`` (a float log that no two engines evaluate
    bit-identically), the score is the exact rational
    ``c(w1,w2) * 1e9 div c(w1·)`` per bigram, averaged with integer
    division — a monotone transform of the same ranking, hash-exact
    on both engines (the suite's tfidf trick).  Real deployments train
    the model on a held-out reference corpus; the plan shape is
    identical (the model input swaps).

    100 TB shape: ONE tokenize scan -> bigram rows (persisted — they
    feed the bigram-count agg, the prefix-count agg, and the scoring
    join; all three aggs partial/map-side).  Scoring is two equi joins
    on the bigram/prefix keys with 1-row-per-key build sides, so no
    cartesian blow-up is possible.  Stop-word-grade hot keys skew the
    probe side; the measured mitigation (tests/test_scale.py::
    test_quality_lm_score_1000x_stopword_skew, 200k docs with a 1000x
    hot prefix) is AQE's RUNTIME BROADCAST conversion — the aggregated
    build side is dictionary-sized, so the hot key never shuffles on
    the join key at all.  Note AQE's OptimizeSkewedJoin canNOT split
    this shape when broadcast is off (its pattern needs plain
    Sort(ShuffleStage) children; a final HashAggregate on the build
    side blinds it — pinned by tests/test_skew.py::
    test_aqe_skew_rule_blind_through_aggregated_build_side), so past
    broadcast scale the fallback is explicit salting
    (operators/skew.deterministic_salt), not AQE.  Per-doc reduce is one
    partial-agg groupBy.  No window, no cross join."""
    docs = _spread_docs(spark, sf_dir)
    w = tokens(F.col("text"))
    bg = (
        docs.select(
            "doc_id",
            F.explode(
                # guarded: Spark's sequence(1, 0) is DESCENDING, so a
                # single-token doc must short-circuit to an empty array
                F.expr(
                    "CASE WHEN size(split(text, ' ')) < 2 THEN "
                    "array() ELSE "
                    "transform(sequence(1, size(split(text, ' ')) - 1), "
                    "i -> struct(split(text, ' ')[i-1] AS w1, "
                    "split(text, ' ')[i] AS w2)) END"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .persist()
    )
    track_persist(bg)
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    scored = (
        bg.join(cb, ["w1", "w2"])
        .join(cu, ["w1"])
        .select(
            "doc_id",
            F.expr("cb * CAST(1000000000 AS BIGINT) div cu").alias("p"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(p) div count(1)").alias("lm_mean_scaled"),
        F.min("p").alias("lm_min_scaled"),
    )
    return (
        docs.select("doc_id", F.size(w).cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            F.coalesce(F.col("lm_mean_scaled"), F.lit(0)).cast("long").alias(
                "lm_mean_scaled"
            ),
            F.coalesce(F.col("lm_min_scaled"), F.lit(0)).cast("long").alias(
                "lm_min_scaled"
            ),
        )
    )


_LM_SCORE_SQL = """
WITH words AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
), bg AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(2, len(w)), i -> w[i-1]))
               AS w1,
           unnest(list_transform(generate_series(2, len(w)), i -> w[i]))
               AS w2
    FROM words
), cb AS (
    SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2
), cu AS (
    SELECT w1, count(*) AS cu FROM bg GROUP BY 1
), scored AS (
    SELECT doc_id, cb.cb * 1000000000 // cu.cu AS p
    FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1)
), per_doc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           sum(p) // count(*) AS lm_mean_scaled,
           min(p) AS lm_min_scaled
    FROM scored GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.w) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(p.lm_mean_scaled, 0) AS BIGINT) AS lm_mean_scaled,
       CAST(coalesce(p.lm_min_scaled, 0) AS BIGINT) AS lm_min_scaled
FROM words w LEFT JOIN per_doc p ON w.doc_id = p.doc_id
"""


# ---------------------------------------------------------------------------
# Model-based quality filtering: seed-trained hashed-token classifier

_NB_BUCKETS = 4096  # hashed-vocabulary size (bounds the broadcast model)
_NB_Q = 1_000_000  # posterior lattice: scores live on 1/Q


def nb_token_model(seed: DataFrame, q: int = _NB_Q) -> DataFrame:
    """(b, w_q): the BROADCASTABLE classifier model — for each hashed
    vocabulary bucket ``b``, the Laplace-smoothed class-1 posterior of
    a token landing there, on the 1/q lattice:

        w_q(b) = (c1(b) + 1) * q div (c1(b) + c0(b) + 2)

    ``seed`` is the labeled set as (b, y) token rows (y in {0,1}).
    Exactly the feature hashing trick every production quality
    classifier uses (fastText/DCLM-style hashed bag-of-words): the
    model is FIXED-SIZE (<= _NB_BUCKETS rows) no matter the corpus, so
    scoring is always a broadcast join — never a shuffle on the token
    key.  Integer-exact by the suite's rational-lattice idiom: the
    smoothed posterior replaces the NB log-likelihood (a float log no
    two engines evaluate bit-identically); summed per document it is
    the same linear-classifier family, hash-exact on both engines."""
    return (
        seed.groupBy("b")
        .agg(
            F.sum("y").cast("long").alias("c1"),
            F.count(F.lit(1)).cast("long").alias("ct"),
        )
        .select(
            "b",
            F.expr(f"(c1 + 1L) * {int(q)}L div (ct + 2L)").alias("w_q"),
        )
    )


def score_nb(tok: DataFrame, model: DataFrame, q: int = _NB_Q) -> DataFrame:
    """(doc_id, n_tokens, score_q): mean smoothed class-1 posterior of
    a document's hashed tokens under a broadcast ``nb_token_model``.
    Buckets the seed never saw score the uninformative prior q/2
    (the (0+1)*q div (0+0+2) smoothing fixed point).  One partial-agg
    groupBy on doc_id after the broadcast join — no shuffle on the
    token key, no cartesian."""
    return (
        tok.join(F.broadcast(model), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.expr(
                f"sum(coalesce(w_q, {int(q) // 2}L)) div count(1)"
            ).alias("score_q"),
        )
    )


def hashed_tokens(docs: DataFrame, buckets: int = _NB_BUCKETS) -> DataFrame:
    """(doc_id, lang, b): one row per token occurrence, bucketed by the
    engine-portable hash60 modulo the hashed-vocabulary size."""
    return docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    ).select(
        "doc_id", "lang", (hash60(F.col("w")) % buckets).alias("b")
    )


def quality_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED QUALITY FILTER — the classifier stage every modern
    curation pipeline runs after the heuristic filters (GPT-3's
    LR-vs-WebText filter, CCNet, DCLM's fastText classifier, FineWeb-
    Edu's seed-distilled scorer): train a hashed bag-of-words
    classifier on a small labeled SEED, broadcast the fixed-size
    model, score the whole corpus.

    Seed + labels, fully in-plan: docs with doc_id % 7 < 2 (~29%) are
    the "labeled" set, y = 1 iff lang = 'en' (standing in for the
    human/LLM quality label a real deployment supplies; the planted-
    class generalization test lives in tests/test_pipeline_suite.py).
    Train: one tokenize scan over the seed -> per-bucket Laplace
    posterior (nb_token_model).  Score: one tokenize scan over the
    corpus -> broadcast join -> per-doc mean (score_nb).  pred_hq is
    the 0.5-threshold decision.

    100 TB shape: the token rows are persisted (they feed train +
    score; one tokenize pass), the model is <= 4096 rows (broadcast by
    construction, pinned in tests/test_plans.py), both groupBys
    partial-aggregate map-side, and nothing data-sized touches the
    driver.  Integer-exact: every score is a rational on the 1e-6
    lattice (see nb_token_model), so the DuckDB oracle matches
    bit-for-bit."""
    docs = _spread_docs(spark, sf_dir)
    tok = track_persist(hashed_tokens(docs))
    seed = tok.filter(F.col("doc_id") % 7 < 2).select(
        "b", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    model = nb_token_model(seed)
    scored = score_nb(tok.select("doc_id", "b"), model)
    half = _NB_Q // 2
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce(F.col("score_q"), F.lit(half)).cast("long").alias(
                "score_q"
            ),
            (
                F.coalesce(F.col("score_q"), F.lit(half)) * 2 >= _NB_Q
            ).alias("pred_hq"),
        )
    )


def nb_quality_filter(docs: DataFrame, q: int = _NB_Q) -> DataFrame:
    """Drop documents the seed-trained classifier scores below the
    0.5 posterior threshold — the optional model-based stage of
    ``pipeline_curate_v3`` (train on the doc_id % 7 < 2 seed with the
    lang='en' stand-in label, broadcast the model, semi-join the
    keepers).  Same plan shape as quality_nb_classifier; returns the
    input schema unchanged."""
    tok = track_persist(hashed_tokens(docs))
    seed = tok.filter(F.col("doc_id") % 7 < 2).select(
        "b", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    model = nb_token_model(seed, q)
    keep = (
        score_nb(tok.select("doc_id", "b"), model, q)
        .filter(F.col("score_q") * 2 >= q)
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


_NB_CLASSIFIER_SQL = f"""
WITH words AS (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
    FROM documents
), tok AS (
    SELECT doc_id, lang,
           CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % {_NB_BUCKETS}
               AS b
    FROM words
), model AS (
    SELECT b,
           (CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            + 1) * {_NB_Q}
           // (CAST(COUNT(*) AS BIGINT) + 2) AS w_q
    FROM tok WHERE doc_id % 7 < 2 GROUP BY b
), scored AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(w_q, {_NB_Q // 2})) AS BIGINT) // COUNT(*)
               AS score_q
    FROM tok LEFT JOIN model USING (b) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.score_q, {_NB_Q // 2}) AS BIGINT) AS score_q,
       COALESCE(s.score_q, {_NB_Q // 2}) * 2 >= {_NB_Q} AS pred_hq
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Near-duplicate detection: exact n-gram Jaccard via inverted index


_NGRAM_DF_CAP = 128  # shingles in more documents than this leave the universe


def capped_shingle_index(docs: DataFrame, df_cap: int = _NGRAM_DF_CAP) -> DataFrame:
    """(doc_id, hs) inverted-index rows with a DOCUMENT-FREQUENCY CAP:
    any shingle present in more than ``df_cap`` documents (boilerplate —
    headers, licence text, templates) is dropped from the index.  Without
    the cap one shingle shared by M documents emits M^2 candidate rows in
    the self-join; with it the worst case per shingle is df_cap^2, so
    total candidates stay O(distinct_shingles * df_cap^2) = O(corpus) —
    the standard skew guard for n-gram dedup at 100 TB.

    The hot-shingle set is identified by one partial-aggregated groupBy
    over the index; the anti-join is left to AQE (the hot set is tiny in
    real corpora, so it broadcasts at runtime, but nothing breaks if an
    adversarial corpus makes it large)."""
    sh = exploded_shingles(docs).select("doc_id", hash60(F.col("s")).alias("hs"))
    return _cap_index(sh, df_cap)


def _cap_index(raw: DataFrame, df_cap: int) -> DataFrame:
    """Drop (doc_id, hs) rows whose hs has document frequency > df_cap."""
    hot = (
        raw.groupBy("hs")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("hs")
    )
    return raw.join(hot, "hs", "left_anti")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard >= 0.8 over the
    df-capped shingle universe (idf-filtered Jaccard).

    Candidate pairs come from the shingle INVERTED INDEX (self-equi-join
    on the shingle), so only documents sharing at least one shingle are
    ever compared — the standard scale-out layout.  Shingles in more
    than _NGRAM_DF_CAP documents are boilerplate: they carry no near-dup
    signal at the 0.8 threshold, and each would emit df^2 candidate rows
    in the self-join, so ``capped_shingle_index`` drops them from BOTH
    the index and the set sizes — the oracle applies the identical cap,
    so the gate replays the filtered universe bit-for-bit."""
    docs = _spread_docs(spark, sf_dir)
    # self-joined subtrees don't canonicalize equal (HOF lambda ids), so
    # Spark would re-tokenize the corpus for each of the three branches
    # (sizes, join-a, join-b); persist the raw index once (feeds the
    # df-stats agg AND the anti-join probe side with zero re-tokenize)
    # and the capped index once (feeds all three consumers) — at cluster
    # scale these are the two materializations a production dedup
    # pipeline checkpoints anyway (shingle stats + filtered index).
    # the inverted index carries the 60-bit shingle HASH, not the string:
    # 8-byte join keys shuffle less and compare faster, and the oracle
    # joins on the identical md5-derived value
    raw = track_persist(exploded_shingles(docs).select(
        "doc_id", hash60(F.col("s")).alias("hs")
    ))
    sh = track_persist(_cap_index(raw, _NGRAM_DF_CAP))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.hs") == F.col("b.hs")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("shared")
    )
    return (
        shared.join(sa, F.col("da") == F.col("sa.doc_id"))
        .join(sb, F.col("db") == F.col("sb.doc_id"))
        .select("da", "db", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


_NGRAM_JACCARD_SQL = f"""
WITH raw AS (
    SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hs
    FROM ({_SHINGLE_SQL})
),
hot AS (
    SELECT hs FROM raw GROUP BY hs HAVING count(*) > {_NGRAM_DF_CAP}
),
sh AS (
    SELECT doc_id, hs FROM raw
    WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.hs = raw.hs)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
    FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT da, db,
       CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
FROM shared
JOIN sizes sa ON da = sa.doc_id
JOIN sizes sb ON db = sb.doc_id
WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.8
"""


# ---------------------------------------------------------------------------
# Near-duplicate detection: MinHash + LSH banding

_MH_K = 16  # minhash functions
_MH_BANDS = 4  # bands of 4 rows each: P(candidate) = 1-(1-j^4)^4
_MH_R = _MH_K // _MH_BANDS  # rows (signature slots) per band


def _collapse_identical(df: DataFrame, key: str, id_col: str = "doc_id"):
    """(reps, cm): collapse rows whose ``key`` column (a full
    signature/hash) is IDENTICAL down to one representative — the
    smallest id — returning the representative table (key + ``rep``)
    and the copy map (``id_col`` -> ``rep``).

    This is the EXACT-DUPLICATE SKEW GUARD of the banded near-dup
    family: a corpus dominated by byte-identical items puts every copy
    on the same (band, value) join key, turning the banded self-join
    into an O(k^2) hot task.  Collapsing first makes the banded join
    run over DISTINCT signatures only; within-group pairs are emitted
    directly from the copy map (output-bound — every row produced IS a
    result row) and cross-group matches fan back out through it.  Both
    shuffles here are skew-tolerant: the groupBy partial-aggregates
    map-side, and the copy-map join matches exactly one representative
    per row (AQE can split an oversized partition without blowup).

    Both outputs are PERSISTED here (tracked — see
    session.release_persisted): the banded self-join consumes ``reps``
    on two aliased branches and the fan-out/within stages consume
    ``cm`` on up to four — none of which hit exchange reuse across
    aliases (the repo-wide self-join rule).

    Why groupBy + join-back and NOT a ``min() over (partition by
    key)`` window (tried for the r12 cost trim and REJECTED): a
    window places EVERY row of a partition key in one task, so a
    corpus dominated by a single duplicate group — the exact skew
    mode this collapse guards — would funnel the whole corpus through
    one window task.  The groupBy partial-aggregates map-side (no hot
    task at any group size) and the join-back matches exactly one
    representative per row (AQE can split an oversized partition), so
    both shuffles here stay skew-tolerant by construction.  Also
    tried and REJECTED (r11): pre-partitioning ``cm`` by ``rep``
    before the persist (cached-plan output partitioning is not reused
    for exchange elision under this AQE config — exchange count went
    95 -> 103, wall unchanged) and hashing the signature to a digest
    key (birthday-bound collision risk at corpus scale for an exact
    operator)."""
    reps = track_persist(df.groupBy(key).agg(F.min(id_col).alias("rep")))
    cm = track_persist(df.join(reps, key).select(
        F.col(id_col).alias("doc_id"), "rep"
    ))
    return reps, cm


def _minhash_sigv(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): the 16-long densified OPH signature as ONE array
    column (sig[i] = mh_i) — the unit the exact-duplicate collapse
    groups on.  Derivation below; the long-format (doc_id, i, mh) view
    is ``_minhash_sigs``/``_explode_sigv``.

    The i-th minhash of each document's shingle set,
    i in [0, 16), via ONE-PERMUTATION HASHING with rotation
    densification (Li/Owen/Zhang, "One Permutation Hashing", NIPS 2012;
    densification per Shrivastava/Li): hash each shingle ONCE, partition
    the hash space into K buckets by h % K, take the min per non-empty
    bucket, and fill empty bucket i with the value of the nearest
    non-empty bucket clockwise ((b - i) mod K smallest).

    vs the classic K-independent-hash scheme this computes K x fewer
    md5s — at corpus scale the signature pass drops from O(K * shingles)
    to O(shingles) hashing — while keeping the same (doc_id, i, mh)
    signature layout, and every value is still md5-derived so the oracle
    replays it bit-for-bit."""
    sh = exploded_shingles(docs)
    hashed = sh.select("doc_id", hash60(F.col("s")).alias("h"))
    # ONE shuffle: 16 conditional mins in a single partial-aggregated
    # groupBy (whole-stage codegen, map-side combine), instead of a
    # (doc, bucket) groupBy followed by a 16x explode + second groupBy.
    # Expressions as SQL strings (r18): the Column-API form of the 16
    # aggregates + the 16x16 densification chain below cost ~0.7 s of
    # driver-side py4j round trips PER CONSTRUCTION, multiplied across
    # every minhash consumer (lsh / edit / cluster_cc / neardup_safe /
    # incremental); F.expr parses JVM-side in one call each.  Identical
    # expression semantics, oracle-pinned.
    wide = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(CASE WHEN h % {_MH_K} = {i} THEN h END)"
            ).alias(f"m{i}")
            for i in range(_MH_K)
        ]
    )
    # rotation densification as a coalesce chain: position i takes the
    # nearest non-empty bucket clockwise — exactly the oracle's
    # arg_min(mh, (b - i) mod K)
    dense = F.expr(
        "array(" + ", ".join(
            "coalesce(" + ", ".join(
                f"m{(i + k) % _MH_K}" for k in range(_MH_K)
            ) + ")"
            for i in range(_MH_K)
        ) + ")"
    )
    return wide.select("doc_id", dense.alias("sig"))


def _explode_sigv(sigv: DataFrame) -> DataFrame:
    """(doc_id, i, mh) long-format view of the array-form signatures —
    the layout the per-pair Jaccard-estimate verifiers join on."""
    return sigv.select(
        "doc_id", F.posexplode("sig").alias("i", "mh")
    ).select("doc_id", F.col("i").cast("long").alias("i"), "mh")


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, i, mh): long-format signatures (see _minhash_sigv)."""
    return _explode_sigv(_minhash_sigv(docs))


def _minhash_band_candidates(docs: DataFrame):
    """(sigs, cross, within): the shared MinHash-LSH candidate
    generator — band the 16-long signature 4x4 and self-equi-join on
    the band digest.  ``cross`` pairs span two signature groups and
    still need verification; ``within`` pairs share an IDENTICAL full
    signature (agreement 16/16, Jaccard estimate exactly 1.0), so the
    signature verifier skips them — only a verifier with access to
    finer evidence (edit distance on the raw text) re-checks them.
    Both the Jaccard-estimate verifier (dedup_minhash_lsh) and the
    edit-distance verifier (dedup_edit_distance) consume these
    candidates.

    EXACT-DUPLICATE COLLAPSE before banding (the skew guard, see
    _collapse_identical): identical signatures — the shape of a corpus
    full of byte-identical copies — are grouped to one representative;
    only DISTINCT signatures enter the banded self-join.  The candidate
    set is provably unchanged: sig(a) == sig(rep) means a shares
    exactly rep's band keys, so cross-group candidacy is decided by the
    representative pair, and within-group pairs (all bands equal) are
    always candidates — emitted straight from the copy map, every row
    produced being a result row.

    The first element returned is ``repsig`` (rep, sig): ARRAY-form
    signatures of the representatives only, the table the zip_with
    verifier joins (r12 brief item 3 — the r10-era long-format
    (doc_id, i, mh) 16x explode + 16-row join + groupBy is gone from
    this path; _minhash_sigs keeps the long layout for consumers that
    genuinely need it).  sigv persists because BOTH collapse shuffles
    (the reps groupBy and the cm join-back) consume the signature
    pass — the corpus's dominant compute — and reps/cm persist inside
    _collapse_identical for their own multi-branch consumers."""
    sigv = track_persist(_minhash_sigv(docs))
    reps, cm = _collapse_identical(sigv, "sig")
    repsig = reps.select(F.col("rep"), F.col("sig"))
    # band digests as one SQL string (r18 — the _minhash_sigv py4j
    # rationale); sig[i] is 0-based in the Column API = element_at(i+1)
    band_arr = F.expr(
        "array(" + ", ".join(
            "concat_ws(','," + ", ".join(
                f"CAST(sig[{j * _MH_R + k}] AS STRING)"
                for k in range(_MH_R)
            ) + ")"
            for j in range(_MH_BANDS)
        ) + ")"
    )
    banded = reps.select(
        "rep", F.posexplode(band_arr).alias("band", "band_key")
    )
    qa = banded.alias("qa")
    qb = banded.alias("qb")
    rep_cand = (
        qa.join(
            qb,
            (F.col("qa.band") == F.col("qb.band"))
            & (F.col("qa.band_key") == F.col("qb.band_key"))
            & (F.col("qa.rep") < F.col("qb.rep")),
        )
        .select(F.col("qa.rep").alias("ra"), F.col("qb.rep").alias("rb"))
        .distinct()
    )
    within = _within_pairs(cm)
    return repsig, rep_cand, cm, within


def _within_pairs(cm: DataFrame, extra=()):
    """All (da, db) member pairs inside each exact-duplicate group of
    the copy map, with optional constant extra columns (the known
    within-group distance/estimate: hamming 0, jaccard 1.0, cosine
    1.0).  Output-bound: every produced row is a result row; AQE can
    split the hot representative key."""
    out = (
        cm.alias("x")
        .join(
            cm.alias("y"),
            (F.col("x.rep") == F.col("y.rep"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("da"),
            F.col("y.doc_id").alias("db"),
            *[c.alias(n) for n, c in extra],
        )
    )
    return out


def _fan_out_pairs(rep_pairs: DataFrame, cm: DataFrame, carry=()):
    """Expand representative pairs (ra, rb, *carry) to member pairs
    (da, db, *carry) through the copy map — the shared fan-out of the
    collapsed near-dup family.  Every emitted row is a result row
    (output-bound); group-disjointness makes the expansion
    duplicate-free without a distinct."""
    ca = cm.select(F.col("rep").alias("ra"), F.col("doc_id").alias("ia"))
    cb = cm.select(F.col("rep").alias("rb"), F.col("doc_id").alias("ib"))
    return (
        rep_pairs.join(ca, "ra")
        .join(cb, "rb")
        .select(
            F.least("ia", "ib").alias("da"),
            F.greatest("ia", "ib").alias("db"),
            *carry,
        )
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals for looped/spammy text (the Gopher-style
    repetition filters a curation pass thresholds): per document, the
    duplicate-3-gram fraction (1 - distinct/total 3-grams) and the
    top-word fraction (occurrences of the most frequent token over all
    tokens), both as exact parts-per-million BIGINTs so the oracle
    hash-matches bit-for-bit (a float division could flake the last
    ulp).

    Plan shape: TWO thin branches joined on doc_id, deliberately NOT
    one explode that carries the per-doc scalars along.  The scalar
    branch computes (n_words, total/distinct 3-grams) per doc over a
    MATERIALIZED token array (inlining split() into the shingle lambda
    re-tokenizes per element — O(words^2) per doc, measured 287 s at
    sf0.1); the word branch is a bare token explode into the (doc,
    word) count and per-doc max.  Colocating the shingle HOF inside
    the Generate+aggregate codegen stage compiles a pathological
    Janino unit (~13-17 s one-time per stage shape, measured) — split
    branches keep each generated function small.  At 100 TB both join
    sides are doc-count-sized aggregate outputs partitioned on doc_id;
    the corpus is scanned twice but only (doc_id, text) columns, and
    nothing wide ever shuffles."""
    docs = _spread_docs(spark, sf_dir)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    stats = toked.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.greatest(F.size("toks") - 2, F.lit(0)).cast("long").alias("t3"),
        F.size(shingles_from_tokens(F.col("toks"), 3)).cast("long").alias("d3"),
    )
    topw = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return stats.join(topw, "doc_id").select(
        "doc_id",
        "n_words",
        F.expr(
            "(t3 - d3) * CAST(1000000 AS BIGINT)"
            " div greatest(t3, CAST(1 AS BIGINT))"
        ).alias("dup_3gram_ppm"),
        F.expr(
            "top_c * CAST(1000000 AS BIGINT)"
            " div greatest(n_words, CAST(1 AS BIGINT))"
        ).alias("top_word_ppm"),
    )


_TEXT_REPETITION_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
base AS (
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(greatest(len(w) - 2, 0) AS BIGINT) AS t3,
           CAST(len(list_distinct(list_transform(
               generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS BIGINT) AS d3,
           unnest(w) AS word
    FROM toks
),
wc AS (
    SELECT doc_id, word, count(*) AS c,
           min(n_words) AS n_words, min(t3) AS t3, min(d3) AS d3
    FROM base GROUP BY doc_id, word
)
SELECT doc_id,
       min(n_words) AS n_words,
       (min(t3) - min(d3)) * 1000000 // greatest(min(t3), 1) AS dup_3gram_ppm,
       max(c) * 1000000 // greatest(min(n_words), 1) AS top_word_ppm
FROM wc GROUP BY doc_id
"""


_MIX_TARGET = 200  # total docs the mixture draws
_MIX_W_SCALE = 1_000_000  # sqrt weights quantized to exact BIGINTs


def mixture_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling — the data-mixing step that
    draws a training corpus from heterogeneous sources with
    down-weighted heads (T = 0.5: source quota ∝ sqrt(source size),
    the standard temperature trick that keeps small sources
    represented).  Quotas are DERIVED FROM THE CORPUS inside the plan:
    per-source counts -> w_s = floor(sqrt(n_s) * 1e6) (sqrt is
    correctly-rounded IEEE, so both engines produce the identical
    BIGINT) -> k_s = TARGET * w_s div sum(w) — exact integer arithmetic
    end-to-end, so the drawn set is deterministic and hash-checkable.
    Docs are ranked per source by md5 hash (stable under repartition
    and corpus growth, same rationale as quota_sample_per_group).

    Scale shape: one scan; the per-source count agg is
    vocabulary-of-sources-sized and broadcasts back; the rank window
    shuffles once on source, and the static ``rk <= _MIX_TARGET``
    pre-filter lets Catalyst plan a partial WindowGroupLimit below the
    exchange (the dynamic per-source quota k_s <= TARGET is applied on
    top), so mappers forward at most TARGET rows per source."""
    # no scan spread here (r18): this query's map-side work is light and
    # its first real operation is already an exchange, so the r17 spread
    # was pure overhead at bench scale (driver-confirmed regression,
    # VERDICT r17 item 1) and a no-op at archive scale either way
    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture(docs, _MIX_TARGET)


def temperature_mixture(docs: DataFrame, target: int) -> DataFrame:
    """The T=0.5 mixture draw over an arbitrary (doc_id, source) frame —
    shared by the gate query above and the 1M-doc skew scale test so
    the quota/rank semantics cannot drift between them (the
    minhash_verified_pairs pattern)."""
    w = F.floor(F.sqrt(F.count("*").cast("double")) * _MIX_W_SCALE).cast("long")
    weights = docs.groupBy("source").agg(w.alias("w_s"))
    tot = weights.agg(F.sum("w_s").alias("w_tot"))
    quotas = weights.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(f"{target} * w_s div w_tot").alias("quota"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            hash60(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    ranked = docs.select("doc_id", "source", rk.cast("long").alias("rk")).filter(
        F.col("rk") <= target
    )
    return ranked.join(F.broadcast(quotas), "source").filter(
        F.col("rk") <= F.col("quota")
    ).select("doc_id", "source", "rk", "quota")


_MIXTURE_SQL = f"""
WITH weights AS (
    SELECT source,
           CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * {_MIX_W_SCALE})
                AS BIGINT) AS w_s
    FROM documents GROUP BY source
),
tot AS (SELECT sum(w_s) AS w_tot FROM weights),
quotas AS (
    SELECT source, CAST({_MIX_TARGET} * w_s // w_tot AS BIGINT) AS quota
    FROM weights CROSS JOIN tot
),
ranked AS (
    SELECT doc_id, source,
           CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT), doc_id
           ) AS BIGINT) AS rk
    FROM documents
)
SELECT doc_id, ranked.source AS source, rk, quota
FROM ranked JOIN quotas ON ranked.source = quotas.source
WHERE rk <= quota
"""


def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction — the crawl-pipeline stage between WARC
    ingestion (raw HTML payloads) and every text operator in this
    suite: drop <script>/<style> blocks and comments wholesale, strip
    the remaining tags, decode the common entities (incl. numeric
    character references), and collapse whitespace.

    The synthetic corpus has no HTML column, so HTML is PLANTED
    in-plan around each doc's text (the ``text_scrub_pii`` discipline):
    doc_id-dependent head/script/style/comment blocks, attribute-laden
    tags, and entity-encoded punctuation — every rule must fire for
    the hash to match.

    Scale shape: a chain of ``regexp_replace`` calls — pure JVM
    whole-stage codegen, one scan, no shuffle at all (the cheapest
    possible plan class); at 100 TB this runs map-side inside the same
    stage as the WARC record parse that feeds it."""
    docs = _spread_docs(spark, sf_dir)
    html = F.expr(
        """
        '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS STRING)
        || '</title>'
        || CASE WHEN doc_id % 2 = 0
                THEN '<script type="text/javascript">var x = 1 < 2 && "a";
</script>' ELSE '' END
        || CASE WHEN doc_id % 3 = 0
                THEN '<style>.c { color: red; }</style>' ELSE '' END
        || '</head><body class="main" data-id="' || CAST(doc_id AS STRING)
        || '"><!-- comment ' || CAST(doc_id AS STRING) || ' --><h1>T&amp;C</h1>
<p>' || text || ' &lt;fin&gt; &#65;&#x42;</p></body></html>
        '
        """
    )
    # order matters: script/style/comments out first (their content
    # may contain '<'), then tags, then entities, then whitespace —
    # one nested codegen expression, shared verbatim with the oracle
    extracted = (
        docs.select("doc_id", html.alias("t"))
        .select(
            "doc_id",
            F.expr(
                """
            trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(t, '(?is)<script\\\\b[^>]*>.*?</script>', ' '),
                      '(?is)<style\\\\b[^>]*>.*?</style>', ' '),
                    '(?s)<!--.*?-->', ' '),
                  '<[^>]+>', ' '),
                '&#65;', 'A'), '&#x42;', 'B'),
                '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&amp;', '&'),
              '\\\\s+', ' '))
            """
            ).alias("extracted"),
        )
    )
    return extracted.select(
        "doc_id",
        F.md5("extracted").alias("text_md5"),
        F.length("extracted").cast("long").alias("n_chars"),
        F.substring("extracted", 1, 24).alias("head"),
    )


_HTML_EXTRACT_SQL = """
WITH raw AS (
    SELECT doc_id,
           '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
           || '</title>'
           || CASE WHEN doc_id % 2 = 0
                   THEN '<script type="text/javascript">var x = 1 < 2 && "a";
</script>' ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN '<style>.c { color: red; }</style>' ELSE '' END
           || '</head><body class="main" data-id="' || CAST(doc_id AS VARCHAR)
           || '"><!-- comment ' || CAST(doc_id AS VARCHAR) || ' --><h1>T&amp;C</h1>
<p>' || text || ' &lt;fin&gt; &#65;&#x42;</p></body></html>
        ' AS t
    FROM documents
),
extracted AS (
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(t, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '&#65;', 'A'), '&#x42;', 'B'),
               '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&amp;', '&'),
             '\\s+', ' ', 'g')) AS extracted
    FROM raw
)
SELECT doc_id, md5(extracted) AS text_md5,
       CAST(len(extracted) AS BIGINT) AS n_chars,
       substr(extracted, 1, 24) AS head
FROM extracted
"""


def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass run before any corpus ships:
    count and redact email addresses and URLs per document, emitting
    the redacted text's md5 so a downstream exact-dedup/audit step can
    key on the scrubbed content.  The corpus documents are synthetic,
    so PII is PLANTED deterministically inside the query (every 5th doc
    gets an email, every 7th a URL appended) — the oracle replays the
    same injection, so the hash match validates the actual regex
    matching/replacement machinery on text that genuinely contains
    PII, not a vacuous all-zeros row.

    Patterns are written in the common subset of Java regex (Spark) and
    RE2 (DuckDB) — char classes, quantifiers, alternation only, no
    lookaround — so both engines compile them identically.  Scale
    shape: one scan, pure JVM regexp expressions inside whole-stage
    codegen, no shuffle at all."""
    docs = _spread_docs(spark, sf_dir)
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url_re = r"https?://[^ ]+"
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" contact-"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" https://ex.com/doc/"), F.col("doc_id")),
        ).otherwise(F.lit("")),
    )
    base = docs.select("doc_id", text.alias("t"))
    n_emails = (
        F.size(F.regexp_extract_all(F.col("t"), F.lit(email_re), 0)).cast("long")
    )
    n_urls = F.size(F.regexp_extract_all(F.col("t"), F.lit(url_re), 0)).cast("long")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), email_re, "[EMAIL]"), url_re, "[URL]"
    )
    return base.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


_SCRUB_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_SCRUB_URL_RE = "https?://[^ ]+"

_TEXT_SCRUB_SQL = f"""
WITH aug AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 5 = 0
                   THEN ' contact-' || doc_id || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' https://ex.com/doc/' || doc_id ELSE '' END AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_SCRUB_EMAIL_RE}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(t, '{_SCRUB_URL_RE}')) AS BIGINT) AS n_urls,
       md5(regexp_replace(regexp_replace(t, '{_SCRUB_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_SCRUB_URL_RE}', '[URL]', 'g')) AS scrubbed_md5
FROM aug
"""


_DECON_K = 8  # contamination n-gram length (long enough to be evidence)
_DECON_EVAL_MOD = 7  # doc_id % mod == 0 -> held-out benchmark split


def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the pre-training hygiene pass that
    flags training documents sharing any long n-gram with a held-out
    evaluation set (here the deterministic ``doc_id % _DECON_EVAL_MOD
    == 0`` split stands in for the benchmark corpus).  Output per
    contaminated training doc: how many distinct ``_DECON_K``-grams it
    shares, how many distinct eval docs those hit, and the smallest
    offending eval doc id — the evidence row a removal/audit step
    consumes.

    Scale shape: one tokenize scan builds the 8-gram inverted index
    (60-bit hashes, not strings), the same ``_NGRAM_DF_CAP`` boilerplate
    guard as n-gram dedup drops shingles present in >cap docs (a
    ubiquitous 8-gram is template text, not contamination — and each
    would otherwise emit df^2 join rows), and contamination is an EQUI
    JOIN train-side x eval-side on the shingle hash — never an all-pairs
    scan.  At 100 TB the eval index is benchmark-sized (tiny), so AQE
    broadcasts it; candidates are O(shared shingles), not O(docs^2)."""
    docs = _spread_docs(spark, sf_dir)
    return _decontam_evidence(docs)


def _decontam_evidence(docs: DataFrame) -> DataFrame:
    """Per contaminated training doc, the (doc_id, n_shared_ngrams,
    n_eval_docs, first_eval_id) evidence row — the core of
    ``decontam_ngram``, shared with ``pipeline_curate_v2`` so the
    contamination semantics cannot drift between the standalone gate
    and the composed curation pass.

    raw feeds the hot-shingle agg AND the anti-join probe; capped idx
    feeds both split branches — persist each once (same two
    checkpoints dedup_ngram_jaccard materializes, same reason).  raw
    is the corpus-sized table and is only ever scanned sequentially
    (no point-lookups), so it persists DISK_ONLY: at 100 TB the
    executors' memory belongs to the equi join and the capped index,
    not to a shingle table read exactly twice."""
    from pyspark import StorageLevel

    raw = exploded_shingles(docs, _DECON_K).select(
        "doc_id", hash60(F.col("s")).alias("hs")
    ).persist(StorageLevel.DISK_ONLY)
    track_persist(raw)
    idx = track_persist(_cap_index(raw, _NGRAM_DF_CAP))
    ev = idx.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0).select(
        "hs", F.col("doc_id").alias("eval_id")
    )
    tr = idx.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0)
    return (
        tr.join(ev, "hs")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("hs").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
            F.min("eval_id").alias("first_eval_id"),
        )
    )


_DECON_GRAM = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(_DECON_K))

# The decontamination index CTEs (tokenize -> hashed 8-gram shingles ->
# df-cap -> capped index), shared verbatim by _DECONTAM_SQL and
# _CURATE2_SQL so the oracle semantics cannot drift either.
_DECON_CTES = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
raw AS (
    SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hs
    FROM (
        SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, len(w) - {_DECON_K - 1}),
            i -> {_DECON_GRAM}))) AS s
        FROM toks
    )
),
hot AS (SELECT hs FROM raw GROUP BY hs HAVING count(*) > {_NGRAM_DF_CAP}),
idx AS (
    SELECT doc_id, hs FROM raw
    WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.hs = raw.hs)
)"""

_DECONTAM_SQL = f"""
WITH {_DECON_CTES},
ev AS (
    SELECT hs, doc_id AS eval_id FROM idx WHERE doc_id % {_DECON_EVAL_MOD} = 0
),
tr AS (
    SELECT doc_id, hs FROM idx WHERE doc_id % {_DECON_EVAL_MOD} <> 0
)
SELECT tr.doc_id AS doc_id,
       count(DISTINCT tr.hs) AS n_shared_ngrams,
       count(DISTINCT eval_id) AS n_eval_docs,
       min(eval_id) AS first_eval_id
FROM tr JOIN ev USING (hs)
GROUP BY tr.doc_id
"""


def minhash_verified_pairs(docs: DataFrame) -> DataFrame:
    """(da, db, jaccard_est): the full MinHash-LSH pipeline over an
    arbitrary (doc_id, text) frame — band candidates re-scored by
    full-signature agreement, kept at matches/K >= 0.5.  Shared by the
    corpus query below and the 200k-doc scale test so the verification
    semantics cannot drift between them.  Verification runs at the
    REPRESENTATIVE level: agreement(a, b) depends only on the two
    signatures, and every member shares its representative's
    signature, so scoring rep pairs before the copy-map fan-out is
    exactly equivalent while the verify join stays bounded by DISTINCT
    signatures (two 5k-copy groups band-colliding would otherwise push
    25M member pairs through the agreement check); within-group pairs
    carry an identical signature — estimate exactly 1.0 with no join
    at all.

    Agreement is computed IN-ARRAY (r12 brief item 3): the two 16-long
    signature arrays join onto the candidate pair by rep id (two
    BIGINT-key joins against the cached collapse frame) and
    matches/16 is one zip_with + size(filter(...)) codegen expression
    per pair — no 16x posexplode, no 16-row equi join, no groupBy.
    Same value as the long-format sum by construction (slot i matches
    iff sig_a[i] == sig_b[i]); /16 is an exact dyadic division, so the
    oracle's sum(CASE)/16.0 hash-matches bit-for-bit."""
    repsig, rep_cand, cm, within = _minhash_band_candidates(docs)
    sa = repsig.select(F.col("rep").alias("ra"), F.col("sig").alias("_siga"))
    sb = repsig.select(F.col("rep").alias("rb"), F.col("sig").alias("_sigb"))
    matches = F.size(
        F.filter(
            F.zip_with("_siga", "_sigb", lambda x, y: x == y),
            lambda m: m,
        )
    )
    est_rep = (
        rep_cand.join(sa, "ra")
        .join(sb, "rb")
        .select(
            "ra", "rb",
            (matches.cast("double") / F.lit(float(_MH_K)))
            .alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= 0.5)
    )
    return _fan_out_pairs(est_rep, cm, carry=("jaccard_est",)).unionByName(
        within.select(
            "da", "db", F.lit(1.0).cast("double").alias("jaccard_est")
        )
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: 16 md5-derived minhashes per doc,
    banded 4x4; documents sharing any band key become candidates
    (equi join on the band digest — the only shuffle that touches
    pairs); candidates are verified with the exact Jaccard estimate
    from the full signature (matches/16 >= 0.5).

    At 100 TB: signatures are 16 BIGINTs per doc (tiny), the band join
    is uniform under md5, and verification cost is |candidates|, not
    |docs|^2."""
    docs = _spread_docs(spark, sf_dir)
    return minhash_verified_pairs(docs)


# shared CTE prefix: shingles -> OPH signatures -> bands -> candidates
_MH_CAND_CTES = f"""
WITH sh AS ({_SHINGLE_SQL}),
hashed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
    FROM sh
),
slots AS (
    SELECT doc_id, h % {_MH_K} AS b, min(h) AS mh
    FROM hashed GROUP BY 1, 2
),
sigs AS (
    SELECT doc_id, i.i AS i,
           arg_min(mh, (b - i.i + {_MH_K}) % {_MH_K}) AS mh
    FROM slots, generate_series(0, {_MH_K - 1}) AS i(i)
    GROUP BY doc_id, i.i
),
banded AS (
    SELECT doc_id, CAST(floor(i / {_MH_K // _MH_BANDS}.0) AS BIGINT) AS band,
           string_agg(mh, ',' ORDER BY i) AS band_key
    FROM sigs GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT qa.doc_id AS da, qb.doc_id AS db
    FROM banded qa JOIN banded qb
      ON qa.band = qb.band AND qa.band_key = qb.band_key
     AND qa.doc_id < qb.doc_id
)"""

_MINHASH_SQL = f"""{_MH_CAND_CTES}
SELECT da, db,
       CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
           / {_MH_K}.0 AS jaccard_est
FROM cand
JOIN sigs sa ON da = sa.doc_id
JOIN sigs sb ON db = sb.doc_id AND sa.i = sb.i
GROUP BY da, db
HAVING CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
           / {_MH_K}.0 >= 0.5
"""


# ---------------------------------------------------------------------------
# Incremental (cross-snapshot) dedup: new corpus vs already-trained corpus


# ---------------------------------------------------------------------------
# Bloom-filter incremental membership (space-bounded exact-dup prefilter)

_BLOOM_BITS = 1 << 14  # 16384 bits = 512 32-bit words (demo-sized; see doc)
_BLOOM_K = 5  # probes per key


def _bloom_positions(key, k: int = _BLOOM_K, m: int = _BLOOM_BITS):
    """The k md5-derived bit positions of a content key — identical
    arithmetic on both engines (hash60 of 'key:i')."""
    return [
        hash60(F.concat(key, F.lit(f":{i}"))) % m for i in range(k)
    ]


def bloom_word_table(keys: DataFrame, key_col: str = "key") -> DataFrame:
    """(widx, w): the FIXED-SIZE Bloom filter as 32-bit words — each
    key sets _BLOOM_K md5-derived bits via one partial-agg ``bit_or``
    groupBy.  The build behind the ``dedup_bloom_incremental`` gate."""
    pos = keys.select(
        F.explode(
            F.array(*_bloom_positions(F.col(key_col)))
        ).alias("pos")
    )
    return pos.groupBy(F.expr("pos div 32").alias("widx")).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))"
        ).alias("w")
    )


def bloom_probe(
    df: DataFrame,
    words: DataFrame,
    key_col: str = "key",
    group_cols: tuple = ("doc_id",),
) -> DataFrame:
    """(group_cols..., key_col, bloom_hit): probe a broadcast Bloom
    word table — bloom_hit iff EVERY of the key's probe bits is set.
    Groups on the COMPACT (group_cols, key) only (never the full row:
    payload columns would otherwise key the shuffle and the aggregate
    hash map, and byte-identical rows would silently merge); callers
    join payload back by the group key."""
    probes = df.select(
        *group_cols, key_col,
        F.explode(
            F.array(*_bloom_positions(F.col(key_col)))
        ).alias("pos"),
    )
    return (
        probes.join(
            F.broadcast(words),
            F.expr("pos div 32") == F.col("widx"),
            "left",
        )
        .groupBy(*group_cols, key_col)
        .agg(
            (
                F.min(
                    F.when(
                        F.expr(
                            "w IS NOT NULL AND (w & shiftleft("
                            "CAST(1 AS BIGINT), CAST(pos % 32 AS INT)"
                            ")) != 0"
                        ),
                        1,
                    ).otherwise(0)
                )
                == 1
            ).alias("bloom_hit")
        )
    )


def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPACE-BOUNDED incremental exact-dup screening — the Bloom-filter
    sidecar shape: at 100 TB the trained corpus's content-key set is
    itself terabytes, but a Bloom filter over it is FIXED-SIZE, so the
    new crawl can be screened with a broadcast join against a few MB
    of bits, and only the (tiny) candidate set ever reaches the exact
    key join.  No false negatives by construction — every true
    duplicate is bloom_hit — and false positives are explicit in the
    output as (bloom_hit=true, is_dup=false) rows, never silent drops.

    Build: the old split's keys (md5 content, doc_id % 3 != 0) each
    set _BLOOM_K md5-derived bits in an _BLOOM_BITS-bit filter,
    materialized as (word_idx, 32-bit word) rows via one partial-agg
    ``bit_or`` groupBy — at ANY corpus size the filter stays 512 rows
    here (production sizes m ~ 1.44 * n * log2(1/fp); the demo m is
    deliberately small so the false-positive arm is EXERCISED: ~11%
    fp at sf0.1's ~3.3k old keys, ~0 at sf0.001 — the gate hashes all
    three regimes).  Probe: each new-split doc's k probe positions
    broadcast-join the word table; bloom_hit = every probed bit set.
    Verify: ONLY bloom candidates enter the exact key semi join
    against the old keys.  Planted dups (doc_id % 9 in {0,1} share a
    content key across the split boundary) make is_dup non-trivial at
    every SF.

    Output (doc_id, bloom_hit, is_dup) for the new split.  All
    arithmetic integral/boolean -> the oracle replays it bit-for-bit.

    Oracle-independence class A-minus: the SQL recomputes the same
    bit arithmetic through DuckDB's own bit_or/shift machinery; the
    no-false-negative guarantee and fp-rate behavior are additionally
    property-tested in tests/test_pipeline_suite.py."""
    # no scan spread here (r18): this query's map-side work is light and
    # its first real operation is already an exchange, so the r17 spread
    # was pure overhead at bench scale (driver-confirmed regression,
    # VERDICT r17 item 1) and a no-op at archive scale either way
    docs = load_table(spark, sf_dir, "documents")
    key = F.when(
        F.col("doc_id") % 9 <= 1,
        F.md5(F.concat(F.lit("shared:"),
                       F.expr("CAST(doc_id div 9 AS STRING)"))),
    ).otherwise(F.md5("text"))
    keyed = docs.select("doc_id", key.alias("key"))
    old = keyed.filter(F.col("doc_id") % 3 != 0)
    new = keyed.filter(F.col("doc_id") % 3 == 0)

    words = bloom_word_table(old)
    hit = bloom_probe(new, words)
    matched = (
        hit.filter(F.col("bloom_hit"))
        .join(old.select("key").distinct(), "key", "left_semi")
        .select("doc_id", F.lit(True).alias("_dup"))
    )
    return (
        hit.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def _bloom_sql() -> str:
    m, k = _BLOOM_BITS, _BLOOM_K
    pos = (
        "CAST(('0x' || substr(md5(key || ':' || i), 1, 15)) AS BIGINT)"
        f" % {m}"
    )
    return f"""
WITH keyed AS (
    SELECT doc_id,
           CASE WHEN doc_id % 9 <= 1
                THEN md5('shared:' || CAST(doc_id // 9 AS VARCHAR))
                ELSE md5(text) END AS key
    FROM documents
),
old AS (SELECT * FROM keyed WHERE doc_id % 3 <> 0),
new AS (SELECT * FROM keyed WHERE doc_id % 3 = 0),
oldpos AS (
    SELECT {pos} AS pos
    FROM old, generate_series(0, {k - 1}) AS t(i)
),
words AS (
    SELECT pos // 32 AS widx,
           bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS w
    FROM oldpos GROUP BY 1
),
probes AS (
    SELECT doc_id, key, {pos} AS pos
    FROM new, generate_series(0, {k - 1}) AS t(i)
),
hit AS (
    SELECT doc_id, key,
           min(CASE WHEN w IS NOT NULL
                     AND (w & (CAST(1 AS BIGINT)
                               << CAST(pos % 32 AS INT))) <> 0
                    THEN 1 ELSE 0 END) = 1 AS bloom_hit
    FROM probes LEFT JOIN words ON probes.pos // 32 = words.widx
    GROUP BY 1, 2
)
SELECT h.doc_id, h.bloom_hit,
       (h.bloom_hit AND EXISTS (
            SELECT 1 FROM old o WHERE o.key = h.key)) AS is_dup
FROM hit h
"""


_BLOOM_SQL = _bloom_sql()


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the snapshot-over-snapshot shape every
    production pretraining pipeline needs: a NEW crawl must be deduped
    against the corpus a model was ALREADY trained on, without
    re-deduping the old corpus against itself.  Splits are derived
    deterministically here (doc_id % 3 == 0 is the incoming snapshot,
    the rest is the trained corpus); in production the old side's band
    index is a precomputed artifact and this query's old-side subtree
    is simply a parquet read of it.

    Mechanics: ONE shingle+OPH-signature pass over the union corpus
    (one scan — in production the old side is precomputed), 4x4 band
    keys, then an old x new EQUI join on the band digest (never
    all-pairs, and never old x old — the join's split predicates keep
    the candidate space to cross-snapshot pairs only).  Candidates are
    verified by the exact signature-agreement Jaccard estimate
    (matches/16 >= 0.5) and each new doc reports its best old match
    (highest estimate, lowest old id) — the keep/drop decision for the
    incoming snapshot.

    At 100 TB: the old index is read, not rebuilt; the band join
    shuffles ~|new| + |old-index| rows on uniform md5 keys; the
    verification and the per-new-doc top-1 window both run on
    candidate pairs only."""
    docs = _spread_docs(spark, sf_dir)
    sigs = track_persist(_minhash_sigs(docs))
    banded = (
        sigs.withColumn("band", F.floor(F.col("i") / (_MH_K // _MH_BANDS)))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "mh"))),
                    lambda x: x["mh"].cast("string"),
                ),
            ).alias("band_key")
        )
    )
    track_persist(banded)
    old = banded.filter(F.col("doc_id") % 3 != 0).alias("old")
    new = banded.filter(F.col("doc_id") % 3 == 0).alias("new")
    cand = (
        new.join(
            old,
            (F.col("new.band") == F.col("old.band"))
            & (F.col("new.band_key") == F.col("old.band_key")),
        )
        .select(
            F.col("new.doc_id").alias("new_doc"),
            F.col("old.doc_id").alias("old_doc"),
        )
        .distinct()
    )
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    est = (
        cand.join(sa, F.col("new_doc") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("old_doc") == F.col("sb.doc_id"))
            & (F.col("sa.i") == F.col("sb.i")),
        )
        .groupBy("new_doc", "old_doc")
        .agg(
            (
                F.sum(
                    F.when(F.col("sa.mh") == F.col("sb.mh"), 1).otherwise(0)
                ).cast("double")
                / _MH_K
            ).alias("jaccard_est")
        )
        .filter(F.col("jaccard_est") >= 0.5)
    )
    w = Window.partitionBy("new_doc").orderBy(
        F.col("jaccard_est").desc(), F.col("old_doc")
    )
    return (
        est.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("new_doc", "old_doc", "jaccard_est")
    )


_INCREMENTAL_SQL = f"""{_MH_CAND_CTES.replace("cand AS (", "cand_unused AS (")},
xcand AS (
    SELECT DISTINCT qb.doc_id AS new_doc, qa.doc_id AS old_doc
    FROM banded qa JOIN banded qb
      ON qa.band = qb.band AND qa.band_key = qb.band_key
     AND qa.doc_id % 3 <> 0 AND qb.doc_id % 3 = 0
),
est AS (
    SELECT new_doc, old_doc,
           CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
               / {_MH_K}.0 AS jaccard_est
    FROM xcand
    JOIN sigs sa ON new_doc = sa.doc_id
    JOIN sigs sb ON old_doc = sb.doc_id AND sa.i = sb.i
    GROUP BY new_doc, old_doc
    HAVING CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
               / {_MH_K}.0 >= 0.5
)
SELECT new_doc, old_doc, jaccard_est FROM (
    SELECT new_doc, old_doc, jaccard_est,
           row_number() OVER (PARTITION BY new_doc
                              ORDER BY jaccard_est DESC, old_doc) AS rk
    FROM est
) WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Near-duplicate detection: blocked edit distance


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: MinHash-LSH blocking (the shared
    candidate generator), then exact character-level Levenshtein on the
    candidate texts, kept when the distance is <= 10% of the longer
    document.

    The blocking is what makes this scale: Levenshtein is O(len_a *
    len_b) per pair, affordable only because candidates are
    |bands-collisions|, never |docs|^2.  Spark and DuckDB agree on the
    classic Levenshtein definition, so the verify step is
    oracle-exact."""
    docs = _spread_docs(spark, sf_dir)
    # identical-signature (within) pairs are NOT pre-verified here:
    # equal signatures do not imply equal text, so every candidate goes
    # through the exact Levenshtein check
    _sigs, rep_cand, cm, within = _minhash_band_candidates(docs)
    cand = _fan_out_pairs(rep_cand, cm).unionByName(within)
    ta = docs.select(
        F.col("doc_id").alias("da"), F.col("text").alias("text_a")
    )
    tb = docs.select(
        F.col("doc_id").alias("db"), F.col("text").alias("text_b")
    )
    dist = F.levenshtein("text_a", "text_b").cast("long")
    return (
        cand.join(ta, "da")
        .join(tb, "db")
        .select("da", "db", dist.alias("edit_dist"),
                F.greatest(F.length("text_a"), F.length("text_b"))
                .cast("long").alias("max_len"))
        .filter(F.col("edit_dist") * 10 <= F.col("max_len"))
        .select("da", "db", "edit_dist")
    )


_EDIT_DIST_SQL = f"""{_MH_CAND_CTES}
SELECT da, db,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
FROM cand
JOIN documents a ON da = a.doc_id
JOIN documents b ON db = b.doc_id
WHERE CAST(levenshtein(a.text, b.text) AS BIGINT) * 10
      <= greatest(length(a.text), length(b.text))
"""


# ---------------------------------------------------------------------------
# Near-duplicate detection: SimHash


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit frequency-weighted simhash per doc;
    candidates share one of 4 15-bit chunks (pigeonhole: hamming <= 3
    guarantees an identical chunk), verified by exact hamming distance.

    The per-doc signature is ONE aggregation using higher-order
    functions over the (token-hash, weight) list — no 60-way explode,
    no Python."""
    docs = _spread_docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tw = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("w")).select(
        "doc_id", hash60(F.col("t")).alias("h"), "w"
    )
    hw = tw.groupBy("doc_id").agg(
        F.collect_list(F.struct("h", "w")).alias("hw")
    ).withColumn(
        # total weight hoisted out of the per-bit transform (otherwise it
        # re-aggregates the token list once per bit)
        "tot", F.expr("aggregate(hw, 0L, (acc, x) -> acc + x.w)")
    )
    # ONE pass over the token list with a 60-wide array accumulator
    # (zip_with per element), not 60 separate aggregate() passes — same
    # integer arithmetic, half the interpreted-HOF cost; then persist:
    # the chunk self-join would otherwise recompute the signature for
    # both sides (HOF subtrees never hit exchange reuse)
    sims = hw.select(
        "doc_id",
        F.expr(
            """
            aggregate(
              zip_with(
                aggregate(hw, array_repeat(0L, 60),
                  (acc, x) -> zip_with(acc, sequence(0, 59),
                      (a, b) -> a + x.w * ((shiftright(x.h, b)) & 1L))),
                sequence(0, 59),
                (c, b) -> CASE WHEN 2 * c > tot
                          THEN shiftleft(1L, b) ELSE 0L END),
              0L, (acc, v) -> acc + v)
            """
        ).alias("sh"),
    ).persist()
    track_persist(sims)
    # EXACT-DUPLICATE COLLAPSE before banding (the skew guard, see
    # _collapse_identical): byte-identical documents share the exact
    # 60-bit simhash, which would put every copy on the same
    # (chunk, value) self-join key; band DISTINCT simhashes only,
    # emit within-group pairs (hamming 0) straight from the copy map,
    # fan cross-group rep pairs back out (hamming depends only on the
    # two hashes, so members inherit the representative distance).
    reps, cm = _collapse_identical(sims, "sh")
    chunks = reps.select(
        "rep",
        "sh",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"),
    ).withColumn(
        "chunk_val",
        F.expr("shiftright(sh, 15 * c) & 32767L"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(
            F.col("a.rep").alias("ra"),
            F.col("b.rep").alias("rb"),
            F.col("a.sh").alias("sha"),
            F.col("b.sh").alias("shb"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).cast("long"),
        )
        .filter(F.col("hamming") <= 3)
    )
    ca = cm.select(F.col("rep").alias("ra"), F.col("doc_id").alias("ia"))
    cb = cm.select(F.col("rep").alias("rb"), F.col("doc_id").alias("ib"))
    cross = (
        rep_pairs.join(ca, "ra")
        .join(cb, "rb")
        .select(
            F.least("ia", "ib").alias("da"),
            F.greatest("ia", "ib").alias("db"),
            "hamming",
        )
    )
    within = _within_pairs(
        cm, extra=(("hamming", F.lit(0).cast("long")),)
    )
    return cross.unionByName(within)


_SIMHASH_SQL = """
WITH tw AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h,
           count(*) AS w
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
    GROUP BY 1, 2
),
-- oracle states the same signature via an explicit bit explode (simpler
-- SQL, identical integer arithmetic)
terms AS (
    SELECT doc_id, b.b AS b,
           CAST(sum(w * ((h >> b.b) & 1)) AS BIGINT) AS cnt,
           CAST(sum(w) AS BIGINT) AS tot
    FROM tw, generate_series(0, 59) AS b(b)
    GROUP BY 1, 2
),
sims AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN 2 * cnt > tot
                         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
    FROM terms GROUP BY 1
)
SELECT a.doc_id AS da, b.doc_id AS db,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


# ---------------------------------------------------------------------------
# Near-duplicate detection: embedding cosine (sign-hashed doc vectors)

_EC_D = 64  # feature-hash dimensions
_EC_PLANES = 36  # SRP-LSH hyperplanes
_EC_ROWS = 12  # bits per band -> 3 bands of 4096 keys: the band key
# space must grow with the corpus or buckets go quadratic — 4 bits (16
# keys) measured ~2.3M candidate pairs on a 5k corpus; 12 bits keeps
# expected random collisions per bucket ~1
_EC_THRESH = 0.95


def _ec_weights() -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-1000, 1000],
    derived from md5 at module level (plain constants embedded in both
    the Spark plan and the oracle SQL — no runtime hashing)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{h}_{j}".encode()).hexdigest()[:15], 16) % 2001
            - 1000
            for j in range(_EC_D)
        ]
        for h in range(_EC_PLANES)
    ]


_EC_W = _ec_weights()


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: each document is embedded as a
    64-dim SIGN-HASHED token-count vector (feature hashing with a sign
    hash, Weinberger et al. ICML'09 — the sign cancels the common-token
    bias that makes plain bag-of-words histograms all look alike), then
    random-hyperplane LSH (Charikar STOC'02) blocks candidates: 36
    deterministic integer hyperplanes -> 36 sign bits -> 3 bands of 12
    bits (4096-key band space — see the _EC_ROWS sizing note above);
    documents sharing a band key are verified by exact integer cosine.

    Everything is exact BIGINT arithmetic until the final
    dot/sqrt(na*nb) scalar, so the oracle replays it bit-for-bit; the
    candidate generator is an equi join on (band, key) — never an
    all-pairs cross join.

    Skew note: mean-centering (below) is what keeps band buckets from
    going quadratic on CORRELATED corpora; byte-identical docs are
    handled by the EXACT-DUPLICATE COLLAPSE like the rest of the
    near-dup family — but keyed on the full SPARSE VECTOR (cosine is a
    pure function of the two vectors, so rep-level verification is
    exact; a band-signature key would not be, since equal signatures
    do not imply equal vectors).  Only representative docs enter the
    banded self-join and the integer-cosine verify; within-group pairs
    are cosine 1.0 by identity (zero-norm docs are excluded up front,
    as the nq > 0 filter always did)."""
    docs = _spread_docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    # count occurrences BEFORE hashing: each distinct (doc, token) is
    # md5'd once and weighted by its count, not hashed per occurrence
    tc = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    hashed = tc.select("doc_id", hash60(F.col("t")).alias("h"), "c")
    hv = hashed.select(
        "doc_id",
        (F.col("h") % _EC_D).alias("j"),
        (
            F.when(
                F.shiftright(F.col("h"), 6).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
            * F.col("c")
        ).alias("sgn"),
    )
    # SPARSE long layout (doc_id, j, v), same as the oracle: a dense
    # 64-wide conditional aggregate was measured to blow the 64KB
    # whole-stage-codegen method limit and fall back to interpretation —
    # the narrow plan stays fully codegen'd.  persist: feeds norms,
    # plane projection, and both sides of the verification join.
    vec = track_persist(
        hv.groupBy("doc_id", "j")
        .agg(F.sum("sgn").cast("long").alias("v"))
    )
    # (r18 negative result, kept for the record: computing the 36
    # hyperplane projections as codegen sum aggregates over literal
    # weight arrays in one groupBy(doc_id) pass — removing the x36
    # broadcast-join row blow-up and two exchanges — was implemented,
    # oracle-verified bit-identical at all three SFs, and measured
    # 2.5x SLOWER end to end (5-sample min 9.6 s vs 3.8 s at sf0.1):
    # the projection aggregate in isolation was 2x faster, but the
    # composed query's th/ndocs broadcast subtrees then raced three
    # concurrent jobs over the not-yet-populated vec cache (the REST
    # profile showed three jobs sharing one parent stage), and fusing
    # the sums into docagg instead forces ObjectHashAggregate, where
    # every aggregate runs interpreted (measured 44 executor-CPU-s).
    # The explode-shaped plan below keeps the broadcast build of w
    # vec-independent, so nothing races the cache fill.  guide §1.1's
    # warning in action, same as the r17 HOF attempt.)
    # ONE per-doc aggregation produces both the norm (nq) and the
    # collapse key (the sorted sparse vector): nv and vecarr are
    # projections of it, not a second shuffle over vec
    docagg = track_persist(vec.groupBy("doc_id").agg(
        F.sum(F.col("v") * F.col("v")).cast("long").alias("nq"),
        F.array_sort(F.collect_list(F.struct("j", "v"))).alias("vkey"),
    ))
    nv = docagg.select("doc_id", "nq")
    # hyperplane weights as a broadcast (planes x dims) dim table
    w = spark.createDataFrame(
        [(h, j, _EC_W[h][j]) for h in range(_EC_PLANES) for j in range(_EC_D)],
        "h long, j long, wt long",
    )
    # MEAN-CENTERED projections: corpus-common tokens give every doc
    # vector a shared component, so raw sign bits correlate across
    # documents and band buckets go quadratic (measured 550k candidate
    # pairs on a 5k corpus).  Centering the hyperplane test on the
    # corpus mean — bit := N * (w·v) > w·S with S the exact per-dim
    # corpus sum — de-correlates background bits while near-identical
    # vectors still land on the same side.  All BIGINT, so the oracle
    # replays it exactly.
    csum = vec.groupBy("j").agg(F.sum("v").cast("long").alias("s"))
    # doc count as a broadcast 1-row aggregate, NOT an eager .count():
    # the query builder must stay a pure lazy plan (no driver actions)
    ndocs = vec.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    th = (
        F.broadcast(w)
        .join(F.broadcast(csum), "j")
        .groupBy("h")
        .agg(F.sum(F.col("wt") * F.col("s")).cast("long").alias("th"))
    )
    bits = (
        vec.join(F.broadcast(w), "j")
        .groupBy("doc_id", "h")
        .agg(F.sum(F.col("wt") * F.col("v")).cast("long").alias("proj"))
        .join(F.broadcast(th), "h")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "h",
            F.when(F.col("proj") * F.col("n_docs") > F.col("th"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("bit"),
        )
    )
    banded = (
        bits.groupBy(
            "doc_id", F.floor(F.col("h") / _EC_ROWS).alias("band")
        )
        .agg(
            F.sum(
                F.expr(f"shiftleft(bit, CAST(h % {_EC_ROWS} AS INT))")
            ).alias("key")
        )
        .persist()
    )
    track_persist(banded)
    # EXACT-DUPLICATE COLLAPSE keyed on the full sparse vector
    # (identical vector => identical cosine against everything); docs
    # with a zero norm are excluded up front — the nq > 0 filter's job
    vecarr = docagg.filter(F.col("nq") > 0).select("doc_id", "vkey")
    reps, cm = _collapse_identical(vecarr, "vkey")
    rep_ids = reps.select(F.col("rep").alias("doc_id"))
    banded_r = banded.join(rep_ids, "doc_id")
    qa, qb = banded_r.alias("qa"), banded_r.alias("qb")
    rep_cand = (
        qa.join(
            qb,
            (F.col("qa.band") == F.col("qb.band"))
            & (F.col("qa.key") == F.col("qb.key"))
            & (F.col("qa.doc_id") < F.col("qb.doc_id")),
        )
        .select(F.col("qa.doc_id").alias("ra"), F.col("qb.doc_id").alias("rb"))
        .distinct()
    )
    va = vec.alias("va")
    vb = vec.alias("vb")
    dots = (
        rep_cand.join(va, F.col("ra") == F.col("va.doc_id"))
        .join(
            vb,
            (F.col("rb") == F.col("vb.doc_id"))
            & (F.col("va.j") == F.col("vb.j")),
        )
        .groupBy("ra", "rb")
        .agg(F.sum(F.col("va.v") * F.col("vb.v")).cast("long").alias("dot"))
    )
    na = nv.alias("na")
    nb = nv.alias("nb")
    cosine = F.col("dot").cast("double") / F.sqrt(
        F.col("na.nq").cast("double") * F.col("nb.nq").cast("double")
    )
    rep_pairs = (
        dots.join(na, F.col("ra") == F.col("na.doc_id"))
        .join(nb, F.col("rb") == F.col("nb.doc_id"))
        .select("ra", "rb", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _EC_THRESH)
    )
    within = _within_pairs(
        cm, extra=(("cosine", F.lit(1.0).cast("double")),)
    )
    return _fan_out_pairs(rep_pairs, cm, carry=("cosine",)).unionByName(
        within
    )


def _ec_weight_values() -> str:
    return ", ".join(
        f"({h}, {j}, {_EC_W[h][j]})"
        for h in range(_EC_PLANES)
        for j in range(_EC_D)
    )


_EMBED_COSINE_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
hv AS (
    SELECT doc_id, h % {_EC_D} AS j,
           CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END AS sgn
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
          FROM tok)
),
vec AS (
    SELECT doc_id, j, CAST(sum(sgn) AS BIGINT) AS v FROM hv GROUP BY 1, 2
),
nv AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS nq FROM vec GROUP BY 1),
w(h, j, wt) AS (VALUES {_ec_weight_values()}),
ndocs AS (SELECT count(DISTINCT doc_id) AS n FROM vec),
csum AS (SELECT j, CAST(sum(v) AS BIGINT) AS s FROM vec GROUP BY j),
th AS (
    SELECT w.h, CAST(sum(w.wt * csum.s) AS BIGINT) AS th
    FROM w JOIN csum ON w.j = csum.j GROUP BY w.h
),
proj AS (
    SELECT vec.doc_id, w.h, CAST(sum(w.wt * vec.v) AS BIGINT) AS proj
    FROM vec JOIN w ON vec.j = w.j
    GROUP BY 1, 2
),
bits AS (
    SELECT p.doc_id, p.h,
           CASE WHEN p.proj * (SELECT n FROM ndocs) > t.th
                THEN 1 ELSE 0 END AS bit
    FROM proj p JOIN th t ON p.h = t.h
),
bands AS (
    SELECT doc_id, CAST(floor(h / {_EC_ROWS}.0) AS BIGINT) AS band,
           CAST(sum(bit << (h % {_EC_ROWS})) AS BIGINT) AS key
    FROM bits GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT qa.doc_id AS da, qb.doc_id AS db
    FROM bands qa JOIN bands qb
      ON qa.band = qb.band AND qa.key = qb.key AND qa.doc_id < qb.doc_id
),
ver AS (
    SELECT c.da, c.db, CAST(sum(va.v * vb.v) AS BIGINT) AS dot
    FROM cand c
    JOIN vec va ON va.doc_id = c.da
    JOIN vec vb ON vb.doc_id = c.db AND va.j = vb.j
    GROUP BY 1, 2
)
SELECT da, db,
       CAST(dot AS DOUBLE) / sqrt(CAST(qa.nq AS DOUBLE) * qb.nq) AS cosine
FROM ver
JOIN nv qa ON da = qa.doc_id
JOIN nv qb ON db = qb.doc_id
WHERE qa.nq > 0 AND qb.nq > 0
  AND CAST(dot AS DOUBLE) / sqrt(CAST(qa.nq AS DOUBLE) * qb.nq)
      >= {_EC_THRESH}
"""


# ---------------------------------------------------------------------------
# Text analysis: quality scoring, language ID, token stats, fingerprint


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: word count, mean word length,
    punctuation ratio, stopword ratio, and a composite keep-score — the
    standard pre-training corpus filters, all as JVM-side expressions."""
    docs = _spread_docs(spark, sf_dir)
    text = F.col("text")
    toks = tokens(text)
    n_words = F.size(toks).cast("long")
    n_chars = F.length(text).cast("long")
    n_punct = (
        F.length(text) - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))
    ).cast("long")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("long")
    avg_word_len = (n_chars - (n_words - 1)).cast("double") / n_words
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = n_stop.cast("double") / n_words
    keep = (n_words >= 50) & (avg_word_len >= 2.0) & (avg_word_len <= 12.0)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        keep.alias("keep"),
    )


_TEXT_QUALITY_SQL = f"""
WITH base AS (
    SELECT doc_id, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ({", ".join("'" + s + "'" for s in STOPWORDS)})))
                AS BIGINT) AS n_stop
    FROM documents
)
SELECT doc_id, n_words,
       CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
       CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
       n_words >= 50 AND
       CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words >= 2.0 AND
       CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words <= 12.0 AS keep
FROM base
"""

# language marker profiles (tiny, deterministic; broadcast at scale)
_LANG_MARKERS = {
    "en": ["the", "and", "is", "a"],
    "es": ["el", "la", "que", "de"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
}


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: count marker-token hits per language
    profile, argmax with a deterministic tie-break order ('und' when no
    profile scores).  Pure column arithmetic — at scale the profiles are
    a broadcast map, the scan stays one pass."""
    docs = _spread_docs(spark, sf_dir)
    toks = tokens(F.lower(F.col("text")))

    def marker_score(markers: list[str]):
        arr = F.array(*[F.lit(x) for x in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")

    scores = {lang: marker_score(m) for lang, m in _LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in ["en", "es", "de", "fr"]:  # deterministic priority
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_MARKERS],
        pred.alias("lang_pred"),
    )


def _lang_score_sql(markers: list[str]) -> str:
    inlist = ", ".join("'" + m + "'" for m in markers)
    return (
        "CAST(len(list_filter(string_split(lower(text), ' '), "
        f"t -> t IN ({inlist}))) AS BIGINT)"
    )


_LANG_ID_SQL = f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_lang_score_sql(_LANG_MARKERS["en"])} AS score_en,
           {_lang_score_sql(_LANG_MARKERS["es"])} AS score_es,
           {_lang_score_sql(_LANG_MARKERS["de"])} AS score_de,
           {_lang_score_sql(_LANG_MARKERS["fr"])} AS score_fr
    FROM documents
)
SELECT doc_id, lang, score_en, score_es, score_de, score_fr,
       CASE WHEN greatest(score_en, score_es, score_de, score_fr) = 0 THEN 'und'
            WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
            WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
            WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
            ELSE 'fr' END AS lang_pred
FROM scored
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex token count
    (letter runs / single digits / single punctuation) — the standard
    cheap proxy for tokenizer cost."""
    docs = _spread_docs(spark, sf_dir)
    text = F.col("text")
    n_ws = F.size(tokens(text)).cast("long")
    n_bpe = F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0)
    ).cast("long")
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (F.length(text).cast("double") / n_bpe).alias("chars_per_token"),
    )


_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
            AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS DOUBLE)
           / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
           AS chars_per_token
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized text (lowercased,
    whitespace-collapsed) + fingerprint-dup groups — the cheap exact-dup
    detector that survives formatting noise."""
    # no scan spread here (r18): this query's map-side work is light and
    # its first real operation is already an exchange, so the r17 spread
    # was pure overhead at bench scale (driver-confirmed regression,
    # VERDICT r17 item 1) and a no-op at archive scale either way
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    fp = F.md5(norm)
    w = Window.partitionBy(fp)
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.count(F.lit(1)).over(w).alias("fp_group_size"),
    )


_DOC_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
       count(*) OVER (PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g')))
           AS fp_group_size
FROM documents
"""


# ---------------------------------------------------------------------------
# Document fingerprinting: winnowing (rolling k-gram hashes)

_WIN_K = 8  # character k-gram length
_WIN_W = 4  # winnowing window (hashes per window)
_WIN_PREFIX = 200  # fingerprint the normalized prefix (bounds cost)


def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every character k-gram of the normalized
    text prefix, slide a w-hash window, keep each window's minimum; the
    distinct minima are the document's fingerprint set.  Guarantees any
    shared substring of length >= k + w - 1 yields a shared
    fingerprint — the partial-overlap detector exact dedup can't be.

    Shape: explode positions -> rolling min as a bounded window frame ->
    distinct.  One shuffle for the window, one for the distinct; at
    corpus scale the prefix cap bounds per-doc cost."""
    fps = winnowing_fingerprints(spark, sf_dir)
    # compact per-doc digest: xor is order-insensitive and cannot
    # overflow, so the whole fingerprint SET is pinned in one row per
    # document (the raw (doc_id, fp) rows are winnowing_fingerprints())
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.expr("bit_xor(fp)").alias("fp_digest"),
    )


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw (doc_id, fp) winnowing rows — the joinable fingerprint index
    (doc_winnowing gates its per-doc digest; this is the working
    layout).  The normalized prefix is materialized behind a projection
    boundary so the per-gram lambda doesn't re-run the regex per
    position."""
    docs = _spread_docs(spark, sf_dir)
    norm_df = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), r"\s+", " "),
            1,
            _WIN_PREFIX,
        ).alias("t"),
    )
    grams = norm_df.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length(t) - {_WIN_K} + 1, 1)), "
                f"i -> substring(t, i, {_WIN_K}))"
            )
        ).alias("pos", "gram"),
    ).filter(F.length("gram") == _WIN_K)
    hashed = grams.select("doc_id", "pos", hash60(F.col("gram")).alias("h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WIN_W - 1)
    )
    return hashed.select(
        "doc_id", F.min("h").over(w).alias("fp")
    ).distinct()


_DOC_WINNOW_SQL = rf"""
WITH norm AS (
    SELECT doc_id,
           substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1,
                  {_WIN_PREFIX}) AS t
    FROM documents
),
grams AS (
    SELECT doc_id, i.i AS pos, substr(t, i.i, {_WIN_K}) AS gram
    FROM norm, generate_series(1, {_WIN_PREFIX}) AS i(i)
    WHERE i.i <= greatest(length(t) - {_WIN_K} + 1, 1)
      AND length(substr(t, i.i, {_WIN_K})) = {_WIN_K}
),
hashed AS (
    SELECT doc_id, pos,
           CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h
    FROM grams
),
fps AS (
    SELECT DISTINCT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS fp
    FROM hashed
)
SELECT doc_id, count(*) AS n_fps,
       CAST(bit_xor(fp) AS BIGINT) AS fp_digest
FROM fps GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Heavy hitters via count-min sketch

_CMS_D = 4  # hash rows
_CMS_W = 1024  # counters per row
_CMS_TOPK = 10


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k corpus tokens with a COUNT-MIN SKETCH estimate next to the
    exact count (Cormode/Muthukrishnan '05): the sketch is d=4 rows of
    w=1024 counters built in one aggregation pass (4*N hash updates,
    4096-counter state — constant memory no matter the token
    cardinality); a key's estimate is the min over its d counters.

    Hash-checked output: token, exact count, sketch estimate, and the
    CM guarantee booleans (never under-estimates; over-estimate bounded
    by the colliding mass).  The sketch is md5-derived so DuckDB builds
    the identical one; at 100 TB the sketch path replaces the exact
    groupBy when the key space no longer fits a shuffle."""
    docs = _spread_docs(spark, sf_dir)
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    total = tok.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    exact = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n_exact"))
    topk = (
        exact.orderBy(F.col("n_exact").desc(), F.col("t"))
        .limit(_CMS_TOPK)
    )
    # sketch build: one pass, one shuffle of (r, bucket) partial counts
    rows = tok.select(
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r"), "t"
    ).select(
        "r",
        (
            hash60(F.concat(F.col("r").cast("string"), F.lit("#"), F.col("t")))
            % _CMS_W
        ).alias("b"),
    )
    cms = rows.groupBy("r", "b").agg(F.count(F.lit(1)).alias("c"))
    # probe: each top-k token joins its d counters, estimate = min(c)
    probes = topk.select(
        "t",
        "n_exact",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r"),
    ).withColumn(
        "b",
        hash60(F.concat(F.col("r").cast("string"), F.lit("#"), F.col("t")))
        % _CMS_W,
    )
    est = (
        probes.join(cms, ["r", "b"])
        .groupBy("t", "n_exact")
        .agg(F.min("c").alias("n_est"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "t",
        "n_exact",
        "n_est",
        (F.col("n_est") >= F.col("n_exact")).alias("never_under"),
        (
            (F.col("n_est") - F.col("n_exact")).cast("double")
            <= 2.0 * F.col("n_total").cast("double") / F.lit(float(_CMS_W))
        ).alias("overest_bounded"),
    )


_CMS_HASH = (
    "CAST(('0x' || substr(md5(r.r || '#' || t), 1, 15)) AS BIGINT) "
    f"% {_CMS_W}"
)

_HEAVY_HITTERS_SQL = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
exact AS (SELECT t, count(*) AS n_exact FROM tok GROUP BY t),
topk AS (
    SELECT t, n_exact FROM exact ORDER BY n_exact DESC, t LIMIT {_CMS_TOPK}
),
cms AS (
    SELECT r.r AS r, {_CMS_HASH} AS b, count(*) AS c
    FROM tok, generate_series(0, {_CMS_D - 1}) AS r(r)
    GROUP BY 1, 2
),
probes AS (
    SELECT t, n_exact, r.r AS r, {_CMS_HASH} AS b
    FROM topk, generate_series(0, {_CMS_D - 1}) AS r(r)
),
est AS (
    SELECT t, n_exact, min(c) AS n_est
    FROM probes JOIN cms USING (r, b)
    GROUP BY 1, 2
)
SELECT t, n_exact, n_est,
       n_est >= n_exact AS never_under,
       CAST(n_est - n_exact AS DOUBLE)
           <= 2.0 * CAST(n_total AS DOUBLE) / {_CMS_W}.0 AS overest_bounded
FROM est, total
"""


# ---------------------------------------------------------------------------
# Duplicate clustering: connected components over the near-dup pair graph


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: the transitive closure of the
    MinHash-LSH near-dup pairs (dedup_minhash_lsh) as connected
    components, labeling EVERY document with its cluster's minimum
    doc_id — the keep-one-representative step a real training-data
    pipeline runs after any pair detector.

    Components come from the large-star/small-star alternation
    (operators/graph.py, Kiveris et al. SoCC'14): a fixed unroll of
    pure edge-set DataFrame rounds — two shuffles per round on the
    shrinking edge set, no driver-side loop, provably O(log^2 n) rounds.
    The output is SELF-VALIDATING: n_unmerged is the exact count of
    pair edges whose endpoints received different labels (always 0; the
    oracle states the true closure via a recursive CTE, so an
    insufficient round count hash-fails loudly instead of silently
    under-merging).

    At 100 TB: the edge set is |near-dup pairs| (linear-ish, df-capped
    upstream), each round's aggregates are partial-agg shuffles on the
    vertex id, and singleton docs never enter the graph — they join in
    only at the final left join against the labels.

    The round count is SELF-HEALING, not a judgment call: the build
    starts at rounds=2 (near-dup components are near-cliques) and
    label_components executes its exact convergence check, doubling the
    rounds (<= 3 escalations, 2->4->8->16) while any edge's endpoints
    disagree — so a corpus with adversarially long duplicate chains
    converges automatically instead of relying on a hand-justified
    constant, and a graph beyond even 16 rounds still fails loudly
    (n_unmerged + the oracle's true closure).  The check executes the
    PERSISTED component map, which the final collect then reuses (cache
    hit), so construction is deliberately eager here — the one other
    exception besides g1_auto_dispatch to the lazy-build rule
    (tests/test_plans.py::test_query_construction_is_lazy)."""
    from wrf_to_geodataframe_spark.operators.graph import label_components

    docs = _spread_docs(spark, sf_dir)
    # localCheckpoint, not persist (r17): the pair table's lineage is
    # the ENTIRE minhash chain, and every one of the CC rounds, the
    # convergence check, and the final labeling referenced it — the
    # analyzed plan ran 21,700 formatted lines and every per-stage AQE
    # re-optimization walked it.  Checkpointing makes the pairs a leaf
    # (plan: ~21.7k -> ~0.4k lines); this builder is already eager
    # (the self-healing convergence check), so the materialization
    # point moves, not the laziness contract.  Same rows, same
    # downstream arithmetic.
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("da").alias("a"), F.col("db").alias("b"))
        .localCheckpoint()
    )
    # assume_distinct: the verified pairs are unique by construction
    # (distinct rep pairs fanned out through disjoint copy groups,
    # unioned with per-group within pairs) — skip the operator's
    # input-normalization shuffle (r17)
    labels, unmerged = label_components(
        docs, pairs, "doc_id", rounds=2, auto_escalate=3,
        assume_distinct=True,
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .crossJoin(F.broadcast(unmerged))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).cast("long").alias("is_canonical"),
            "n_unmerged",
        )
    )


# the rewrite below attaches RECURSIVE to the OUTER WITH; guard the
# anchor so a reformat of the shared prefix can't silently retarget it
# (explicit raise, not assert: asserts vanish under `python -O`)
if not _MH_CAND_CTES.lstrip().startswith("WITH "):
    raise ValueError(
        f"_MH_CAND_CTES must open with the outer WITH: {_MH_CAND_CTES[:40]!r}"
    )

# Shared recursive-closure CTE chain (banded candidates -> verified
# pairs -> symmetric edges -> transitive reach -> min-label clusters):
# the oracle prefix for BOTH dedup_cluster_cc and
# pipeline_split_neardup_safe — a named constant, composed (never
# string-sliced) so a rewording of one consumer cannot silently break
# the other at gate-run time.
_CC_CTES = _MH_CAND_CTES.replace("WITH ", "WITH RECURSIVE ", 1) + f""",
pairs AS (
    SELECT da, db
    FROM cand
    JOIN sigs sa ON da = sa.doc_id
    JOIN sigs sb ON db = sb.doc_id AND sa.i = sb.i
    GROUP BY da, db
    HAVING CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)
               / {_MH_K}.0 >= 0.5
),
sym AS (
    SELECT da AS a, db AS b FROM pairs
    UNION ALL
    SELECT db AS a, da AS b FROM pairs
),
reach(v, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.v
),
lbl AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
"""

_CLUSTER_CC_SQL = _CC_CTES + """
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       CAST(l.doc_id = l.cluster_id AS BIGINT) AS is_canonical,
       CAST(0 AS BIGINT) AS n_unmerged
FROM lbl l JOIN sizes s USING (cluster_id)
"""


# ---------------------------------------------------------------------------
# Data mixing: deterministic per-group quota sampling

_QUOTA_K = 20  # documents kept per (lang, source) stratum


def quota_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) quota sampling — the data-mixing primitive
    that caps each stratum's contribution to a training corpus: keep
    the ``_QUOTA_K`` documents with the smallest md5-derived rank per
    stratum.  Hash-ranking (not ORDER BY doc_id) makes the kept set a
    uniform pseudo-random sample of the stratum that is stable under
    re-partitioning, re-runs, and corpus growth (a doc's rank never
    changes, so incremental re-sampling keeps prior picks unless pushed
    out by k).

    At 100 TB the plan is one scan + ONE shuffle on the stratum key,
    and Spark 4 plans the k-cap as a partial ``WindowGroupLimit`` BELOW
    the exchange: each mapper forwards at most k rows per stratum, so
    the shuffle and sort see O(k * mappers) rows per stratum, not the
    stratum — the two-phase top-k refinement, applied by Catalyst
    automatically (asserted in tests/test_plans.py)."""
    docs = load_table(spark, sf_dir, "documents")  # one-shuffle plan pin: no spread
    rk = F.row_number().over(
        Window.partitionBy("lang", "source").orderBy(
            hash60(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        docs.select(
            "doc_id", "lang", "source", rk.cast("long").alias("rk")
        )
        .filter(F.col("rk") <= _QUOTA_K)
    )


_QUOTA_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, rk
FROM (
    SELECT doc_id, lang, source,
           row_number() OVER (
               PARTITION BY lang, source
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS BIGINT),
                        doc_id
           ) AS rk
    FROM documents
)
WHERE rk <= {_QUOTA_K}
"""


# ---------------------------------------------------------------------------
# Term salience: integer-exact tf-idf top terms per document

_TFIDF_TOP = 3  # terms kept per document


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_TFIDF_TOP`` most salient terms per document by
    term-frequency x inverse document frequency, with the idf factor as
    the exact rational ``tf * 1e6 div df`` (parts-per-million integer
    score) rather than ``tf * ln(N/df)``: the ranking stays a pure
    BIGINT computation both engines evaluate bit-identically, where a
    float log could flake the value hash in the last ulp.  Rank ties
    break on the term string, so the output is fully deterministic.

    Plan shape: ONE tokenize scan -> (doc, term) partial-agg count
    (persisted: it feeds both the document-frequency aggregate and the
    scoring join, and without the persist Catalyst plans two full
    scan+explode+agg subtrees — the df branch's agg gets rewritten to a
    distinct so exchange reuse can't dedupe them) -> df agg on term ->
    join back on term -> one per-doc window.  The join strategy is left
    to AQE: the df table is vocabulary-sized (zipf-bounded, far smaller
    than the corpus), so under the broadcast threshold it converts to a
    broadcast join at runtime; past it (100 TB vocabularies can exceed
    the threshold) the sort-merge fallback is equally correct — both
    sides are already partitioned by term.  The per-doc top-k runs as a
    partial WindowGroupLimit before the shuffle."""
    # no scan spread here (r18): this query's map-side work is light and
    # its first real operation is already an exchange, so the r17 spread
    # was pure overhead at bench scale (driver-confirmed regression,
    # VERDICT r17 item 1) and a no-op at archive scale either way
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tc = track_persist(tok.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ))
    dfreq = tc.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = tc.join(dfreq, "t").select(
        "doc_id",
        "t",
        "tf",
        "df",
        F.expr("tf * CAST(1000000 AS BIGINT) div df").alias("score_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("t")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _TFIDF_TOP)
        .select(
            "doc_id", F.col("t").alias("term"), "tf", "df", "score_ppm", "rk"
        )
    )


_TFIDF_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tc AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tc GROUP BY 1),
scored AS (
    SELECT doc_id, t, tf, df, tf * 1000000 // df AS score_ppm
    FROM tc JOIN dfreq USING (t)
),
ranked AS (
    SELECT doc_id, t AS term, tf, df, score_ppm,
           row_number() OVER (
               PARTITION BY doc_id ORDER BY score_ppm DESC, t
           ) AS rk
    FROM scored
)
SELECT doc_id, term, tf, df, score_ppm, rk FROM ranked WHERE rk <= {_TFIDF_TOP}
"""


# ---------------------------------------------------------------------------
# BM25 retrieval: query -> top-k documents (the lexical-retrieval
# side of a training-data pipeline — decontamination lookups, seed
# expansion, RAG evals)

_BM25_QUERIES = [
    (0, "spark"), (0, "table"), (0, "join"),
    (1, "window"), (1, "agg"), (1, "stream"),
    (2, "customer"), (2, "query"), (2, "slow"),
]
_BM25_K = 5  # documents kept per query


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the documents table for a literal
    query set — Okapi BM25 (k1=1.5, b=0.75) re-expressed in EXACT
    INTEGER RATIONALS (the tfidf_top_terms discipline: no float log,
    no float division anywhere, so both engines rank bit-identically):

        idf_pm   = (2(N - df) + 1) * 1000 div (2 df + 1)     (Robertson
                   ratio in per-mille, log dropped — same ordering)
        dlr_pm   = 1000 * dl * N div T                       (dl/avgdl)
        score_i  = idf_pm * 20 tf * 1000
                   div (8000 tf + 3000 + 9 dlr_pm)
                   [= idf * tf(k1+1) / (tf + k1(1-b+b*dl/avgdl)),
                    scaled by 8 and per-milled]

    and per-(query, doc) score = Σ score_i over matched terms — a pure
    BIGINT sum.  Rank ties break on doc_id.

    Plan shape: ONE tokenize scan -> (doc, term) partial-agg count,
    persisted (it feeds the doc-length agg, the document-frequency
    agg, and the scoring join); the query-term table and the filtered
    df table broadcast; corpus stats are a 1-row crossJoined agg; the
    per-query top-k is a WindowGroupLimit over a 9-term candidate
    set.  At 100 TB: candidates = docs containing a query term — the
    inverted-index access path, never a corpus-wide score."""
    docs = _spread_docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    tc = track_persist(tok.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ))
    dl = tc.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").alias("t_tokens"),
    )
    dfreq = tc.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    qterms = spark.createDataFrame(_BM25_QUERIES, "qid long, t string")
    dfq = dfreq.join(F.broadcast(qterms.select("t").distinct()), "t")
    cand = (
        tc.join(F.broadcast(qterms), "t")
        .join(F.broadcast(dfq), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf_pm = F.expr(
        "(2 * (n_docs - df) + 1) * CAST(1000 AS BIGINT) div (2 * df + 1)"
    )
    dlr_pm = F.expr("1000 * dl * n_docs div t_tokens")
    scored = cand.withColumn("idf_pm", idf_pm).withColumn(
        "dlr_pm", dlr_pm
    ).withColumn(
        "score_i",
        F.expr(
            "idf_pm * 20 * tf * CAST(1000 AS BIGINT)"
            " div (8000 * tf + 3000 + 9 * dlr_pm)"
        ),
    )
    per_doc = scored.groupBy("qid", "doc_id").agg(
        F.sum("score_i").alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _BM25_K)
        .select("qid", "rk", "doc_id", "score", "n_terms")
    )


_BM25_SQL = f"""
WITH q(qid, t) AS (
    VALUES {", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)}
),
tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
tc AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tc GROUP BY 1),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS t_tokens
    FROM dl
),
dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tc GROUP BY 1),
scored AS (
    SELECT q.qid, tc.doc_id,
           ((2 * (s.n_docs - f.df) + 1) * 1000 // (2 * f.df + 1))
             * 20 * tc.tf * 1000
             // (8000 * tc.tf + 3000
                 + 9 * (1000 * d.dl * s.n_docs // s.t_tokens)) AS score_i
    FROM tc
    JOIN q USING (t)
    JOIN dfreq f USING (t)
    JOIN dl d USING (doc_id), stats s
),
per_doc AS (
    SELECT qid, doc_id, CAST(sum(score_i) AS BIGINT) AS score,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM scored GROUP BY 1, 2
),
ranked AS (
    SELECT qid, doc_id, score, n_terms,
           row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, doc_id
           ) AS rk
    FROM per_doc
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk,
       doc_id, score, n_terms
FROM ranked WHERE rk <= {_BM25_K}
"""


# ---------------------------------------------------------------------------
# End-to-end corpus curation: quality filter -> dedup -> quota

_CURATE_QUOTA = 50  # per-stratum cap after filtering


def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass a pre-training corpus actually runs,
    as ONE plan: (1) quality gate — the text_quality keep-score
    (word-count + word-length band); (2) exact dedup — keep only each
    content-md5 group's minimum doc_id; (3) stratum quota — at most
    ``_CURATE_QUOTA`` survivors per (lang, source) by the deterministic
    md5 rank.  Output is the curated manifest (doc, stratum, tokens,
    rank) a downstream tokenizer run would consume.

    The point of the gate row is COMPOSITION: each stage is an
    operator the suite already verifies in isolation; this proves they
    chain inside one Catalyst plan (filter pushes below the dedup
    shuffle; the quota window runs over the dedup survivors only) and
    that the composed semantics replay bit-for-bit in the oracle's CTE
    chain."""
    # no scan spread here (r18): this query's map-side work is light and
    # its first real operation is already an exchange, so the r17 spread
    # was pure overhead at bench scale (driver-confirmed regression,
    # VERDICT r17 item 1) and a no-op at archive scale either way
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    toks = tokens(text)
    n_words = F.size(toks).cast("long")
    n_chars = F.length(text).cast("long")
    avg_word_len = (n_chars - (n_words - 1)).cast("double") / n_words
    quality = docs.select(
        "doc_id", "lang", "source", "text", n_words.alias("n_tokens")
    ).filter(
        (n_words >= 50) & (avg_word_len >= 2.0) & (avg_word_len <= 12.0)
    )
    keepers = quality.groupBy(F.md5("text").alias("content_md5")).agg(
        F.min("doc_id").alias("doc_id")
    )
    survivors = quality.join(keepers, "doc_id").select(
        "doc_id", "lang", "source", "n_tokens"
    )
    rk = F.row_number().over(
        Window.partitionBy("lang", "source").orderBy(
            hash60(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        survivors.select(
            "doc_id", "lang", "source", "n_tokens", rk.cast("long").alias("rk")
        )
        .filter(F.col("rk") <= _CURATE_QUOTA)
    )


_CURATE_SQL = f"""
WITH quality AS (
    SELECT doc_id, lang, source, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
    WHERE len(string_split(text, ' ')) >= 50
      AND CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
              / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
),
keepers AS (
    SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
),
survivors AS (
    SELECT q.doc_id, q.lang, q.source, q.n_tokens
    FROM quality q JOIN keepers USING (doc_id)
)
SELECT doc_id, lang, source, n_tokens, rk
FROM (
    SELECT doc_id, lang, source, n_tokens,
           row_number() OVER (
               PARTITION BY lang, source
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS BIGINT),
                        doc_id
           ) AS rk
    FROM survivors
)
WHERE rk <= {_CURATE_QUOTA}
"""


# Curation manifest v2 thresholds: Gopher-style repetition gates tuned
# to the corpus distribution (dup-3-gram p95 ~ 11k ppm, top-word p95
# ~ 165k ppm) so each gate prunes a real tail without emptying the set.
_CURATE2_MAX_DUP3_PPM = 5_000
_CURATE2_MAX_TOPW_PPM = 150_000
_CURATE2_TARGET = 120  # total docs the final temperature mixture draws


def pipeline_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation manifest v2 — the FULL production pretraining-curation
    pass composed as ONE Catalyst plan: quality gate -> Gopher-style
    repetition thresholds -> PII scrub (planted PII; later stages key
    on the SCRUBBED content) -> benchmark decontamination (the eval
    split is excluded as benchmark data, contaminated training docs
    are dropped) -> exact dedup on the scrubbed md5 -> temperature
    mixture (T = 0.5 quotas derived IN-PLAN from the *survivor* source
    counts, not the raw corpus).  Output: the manifest row a tokenizer
    run consumes — doc, lang, source, token count, PII counts, scrubbed
    content key, per-source rank and quota.

    Every stage is an operator the suite verifies in isolation
    (pipeline_curate proved the v1 three-stage chain; this composes all
    six round-5 operators); the oracle replays the identical chain as
    CTEs, so a hash match proves the COMPOSITION semantics, not just
    the parts.  Plan shape at 100 TB: the corpus scans feeding quality/
    repetition/scrub touch only (doc_id, lang, source, text); the
    decontam index is the shared persisted pair from
    ``_decontam_evidence``; ``survivors`` is persisted because both the
    quota-weight agg and the rank window consume it (the weight table
    is sources-sized and broadcasts back); the final rank applies the
    static ``rk <= _CURATE2_TARGET`` pre-filter so the window plans a
    partial WindowGroupLimit below its exchange."""
    docs = _spread_docs(spark, sf_dir)
    return curate_v2(docs, _CURATE2_TARGET)


def curate_v2(docs: DataFrame, target: int) -> DataFrame:
    """The six-stage curation pass over an arbitrary (doc_id, lang,
    source, text) frame — shared by the gate query above and the
    200k-doc planted-classes scale test so the composed semantics
    cannot drift between them (the minhash_verified_pairs pattern)."""
    survivors = curate_clean(docs)

    # exact dedup keyed on the SCRUBBED content
    keepers = survivors.groupBy("scrubbed_md5").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    survivors = track_persist(survivors.join(keepers, "doc_id"))

    # temperature mixture over the survivors (quotas in-plan)
    w = F.floor(F.sqrt(F.count("*").cast("double")) * _MIX_W_SCALE).cast("long")
    weights = survivors.groupBy("source").agg(w.alias("w_s"))
    tot = weights.agg(F.sum("w_s").alias("w_tot"))
    quotas = weights.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(f"{target} * w_s div w_tot").alias("quota"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            hash60(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    ranked = survivors.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "n_emails",
        "n_urls",
        "scrubbed_md5",
        rk.cast("long").alias("rk"),
    ).filter(F.col("rk") <= target)
    return ranked.join(F.broadcast(quotas), "source").filter(
        F.col("rk") <= F.col("quota")
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "n_emails",
        "n_urls",
        "scrubbed_md5",
        "rk",
        "quota",
    )


def curate_clean(docs: DataFrame) -> DataFrame:
    """Stages 1-4 of the curation chain (quality -> repetition -> PII
    scrub -> decontamination), PRE-dedup."""
    text = F.col("text")
    toks = tokens(text)
    n_words = F.size(toks).cast("long")
    n_chars = F.length(text).cast("long")
    avg_word_len = (n_chars - (n_words - 1)).cast("double") / n_words
    quality = docs.select(
        "doc_id", "lang", "source", "text", n_words.alias("n_tokens")
    ).filter(
        (n_words >= 50) & (avg_word_len >= 2.0) & (avg_word_len <= 12.0)
    )

    # repetition thresholds (text_repetition's shape, over the quality
    # survivors).  The per-row stats half (n_words / t3 / d3) is a pure
    # projection, and its d3 shingle builder is an INTERPRETED
    # higher-order transform: joining it against topw used to leave
    # that evaluation in the post-join stage, whose byte-small input
    # AQE coalesces to ~1 partition — measured 3.5 s on ONE task at
    # sf0.1 (thread dumps: ArrayTransform.eval/ConcatWs inside the
    # cache build).  It is now computed MAP-SIDE over the spread scan
    # (below any exchange) and carried through the join as three longs
    # (r18, guide §2.5) — the stats⋈topw join disappears outright.
    # PII scrub (text_scrub_pii's planted-PII injection + redaction) —
    # computed MAP-SIDE over the scan, BEFORE the rep_ok join (r18,
    # guide §2.3/§2.5): the join output is byte-small, so AQE coalesces
    # it to ~1 partition and a post-join scrub ran its regex chain
    # single-threaded (measured 3-5 s on one task at sf0.1 — the
    # dominant cost of curate_v2/v3).  Scrubbing in the quality
    # projection keeps the regexes on the spread scan partitions AND
    # lets the join shuffle narrow manifest rows (two longs + one md5)
    # instead of the full text.  Same expressions over the same rows —
    # the rep_ok filter commutes with a per-row projection — so every
    # output value is identical.
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" contact-"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" https://ex.com/doc/"), F.col("doc_id")),
        ).otherwise(F.lit("")),
    )
    t = F.col("t")
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, _SCRUB_EMAIL_RE, "[EMAIL]"), _SCRUB_URL_RE, "[URL]"
    )
    toks_q = tokens(F.col("text"))
    enriched = quality.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        aug.alias("t"),
        F.size(toks_q).cast("long").alias("n_words"),
        F.greatest(F.size(toks_q) - 2, F.lit(0)).cast("long").alias("t3"),
        F.size(shingles_from_tokens(toks_q, 3)).cast("long").alias("d3"),
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "n_words",
        "t3",
        "d3",
        F.size(F.regexp_extract_all(t, F.lit(_SCRUB_EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_SCRUB_URL_RE), 0))
        .cast("long")
        .alias("n_urls"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )
    topw = (
        quality.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    # ONE fused predicate instead of (dup3 <= A) & (topw <= B): a
    # conjunction splits, and the dup3 conjunct (referencing only the
    # enriched side) then pushes below the spread exchange into the
    # 1-split scan stage, dragging the whole interpreted shingle
    # lambda with it (measured: the scan task evaluated it serially).
    # max(a - A, b - B) <= 0 is the same boolean in exact BIGINT
    # arithmetic (every input is non-null past the quality gate) but
    # references BOTH join sides, so it stays at the join and d3 is
    # evaluated in the 32-way-parallel enriched projection.
    scrub = (
        enriched.join(topw, "doc_id")
        .filter(
            F.greatest(
                F.expr(
                    "(t3 - d3) * CAST(1000000 AS BIGINT)"
                    " div greatest(t3, CAST(1 AS BIGINT))"
                )
                - F.lit(_CURATE2_MAX_DUP3_PPM).cast("long"),
                F.expr(
                    "top_c * CAST(1000000 AS BIGINT)"
                    " div greatest(n_words, CAST(1 AS BIGINT))"
                )
                - F.lit(_CURATE2_MAX_TOPW_PPM).cast("long"),
            )
            <= 0
        )
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "n_emails",
            "n_urls",
            "scrubbed_md5",
        )
    )

    # decontamination: benchmark split out, contaminated train docs out.
    # clean is persisted: it feeds BOTH the dedup-keepers aggregate and
    # the join against them — without the cache the whole upstream
    # (quality -> repetition -> scrub -> decontam anti-join) computes
    # twice.  Doc-count rows, narrow manifest columns.
    contaminated = _decontam_evidence(docs).select("doc_id")
    clean = track_persist(
        scrub.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0).join(
            contaminated, "doc_id", "left_anti"
        )
    )
    return clean


_CURATE2_SQL = f"""
WITH {_DECON_CTES},
contaminated AS (
    SELECT DISTINCT tr.doc_id
    FROM (SELECT doc_id, hs FROM idx WHERE doc_id % {_DECON_EVAL_MOD} <> 0) tr
    JOIN (SELECT hs FROM idx WHERE doc_id % {_DECON_EVAL_MOD} = 0) ev
      USING (hs)
),
quality AS (
    SELECT doc_id, lang, source, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
    WHERE len(string_split(text, ' ')) >= 50
      AND CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
              / len(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
),
rbase AS (
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(greatest(len(w) - 2, 0) AS BIGINT) AS t3,
           CAST(len(list_distinct(list_transform(
               generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS BIGINT) AS d3,
           unnest(w) AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM quality)
),
rwc AS (
    SELECT doc_id, word, count(*) AS c,
           min(n_words) AS n_words, min(t3) AS t3, min(d3) AS d3
    FROM rbase GROUP BY doc_id, word
),
rep_ok AS (
    SELECT doc_id FROM rwc GROUP BY doc_id
    HAVING (min(t3) - min(d3)) * 1000000 // greatest(min(t3), 1)
               <= {_CURATE2_MAX_DUP3_PPM}
       AND max(c) * 1000000 // greatest(min(n_words), 1)
               <= {_CURATE2_MAX_TOPW_PPM}
),
scrub AS (
    SELECT doc_id, lang, source, n_tokens,
           CAST(len(regexp_extract_all(t, '{_SCRUB_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(t, '{_SCRUB_URL_RE}')) AS BIGINT)
               AS n_urls,
           md5(regexp_replace(
               regexp_replace(t, '{_SCRUB_EMAIL_RE}', '[EMAIL]', 'g'),
               '{_SCRUB_URL_RE}', '[URL]', 'g')) AS scrubbed_md5
    FROM (
        SELECT q.doc_id, lang, source, n_tokens,
               text
               || CASE WHEN q.doc_id % 5 = 0
                       THEN ' contact-' || q.doc_id || '@example.com'
                       ELSE '' END
               || CASE WHEN q.doc_id % 7 = 0
                       THEN ' https://ex.com/doc/' || q.doc_id
                       ELSE '' END AS t
        FROM quality q JOIN rep_ok USING (doc_id)
    )
),
clean AS (
    SELECT * FROM scrub
    WHERE doc_id % {_DECON_EVAL_MOD} <> 0
      AND NOT EXISTS (
          SELECT 1 FROM contaminated c WHERE c.doc_id = scrub.doc_id
      )
),
keepers AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY scrubbed_md5),
survivors AS (SELECT c.* FROM clean c JOIN keepers USING (doc_id)),
weights AS (
    SELECT source,
           CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * {_MIX_W_SCALE})
                AS BIGINT) AS w_s
    FROM survivors GROUP BY source
),
tot AS (SELECT sum(w_s) AS w_tot FROM weights),
quotas AS (
    SELECT source, CAST({_CURATE2_TARGET} * w_s // w_tot AS BIGINT) AS quota
    FROM weights CROSS JOIN tot
),
ranked AS (
    SELECT s.*,
           CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT), doc_id
           ) AS BIGINT) AS rk
    FROM survivors s
)
SELECT doc_id, lang, ranked.source AS source, n_tokens, n_emails, n_urls,
       scrubbed_md5, rk, quota
FROM ranked JOIN quotas ON ranked.source = quotas.source
WHERE rk <= quota
"""


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk into fixed token budgets

_PACK_BUDGET = 512  # tokens per training sequence
_PACK_MIN_BUCKETS = 8  # parallelism floor so tiny corpora still fan out
_PACK_DOCS_PER_BUCKET = 4096  # target stream size; buckets = n / this
# chunk_id = bucket * 2^40 + local_chunk must stay inside int64: cap the
# bucket count at 2^22 (bucket * 2^40 <= 2^62; ~17B docs before the cap
# binds, past which streams grow proportionally instead of multiplying)
_PACK_MAX_BUCKETS = 1 << 22


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing — the pretraining-batch
    layout step: documents are laid end-to-end in a deterministic
    md5-hash order and cut into fixed ``_PACK_BUDGET``-token training
    sequences, each document annotated with the chunk it starts in and
    its token offset inside that chunk (GPT-style concatenation
    packing; documents may straddle a boundary, the offsets say
    exactly where).

    The layout is DISTRIBUTED BY CONSTRUCTION: docs are first
    hash-bucketed into independent packing streams, and the
    running-token-offset window sorts only within its bucket — there
    is never a global single-task sort.  The bucket count is derived
    FROM THE CORPUS inside the plan (1-row count agg, the sim_ivf_topk
    stride pattern): ``least(greatest(n_docs div _PACK_DOCS_PER_BUCKET,
    _PACK_MIN_BUCKETS), _PACK_MAX_BUCKETS)``, so each stream packs a
    bounded ~4k docs no matter the corpus size — at 100 TB that is
    millions of parallel sort streams, not a fixed handful of multi-TB
    ones.  Chunk ids are globally unique via (bucket, local_chunk) ->
    bucket * 2^40 + local_chunk arithmetic, all exact BIGINTs: buckets
    are capped at 2^22 so the product never exceeds 2^62 (the cap
    binds only past ~17B docs, where streams grow instead of
    multiplying), and local chunks per bucket stay far below 2^40."""
    docs = load_table(spark, sf_dir, "documents")  # one-shuffle plan pin: no spread
    # bucket count as a lazy 1-row agg crossJoined in — no driver collect
    nb = docs.agg(
        F.least(
            F.greatest(
                F.floor(F.count("*") / F.lit(_PACK_DOCS_PER_BUCKET)).cast("long"),
                F.lit(_PACK_MIN_BUCKETS).cast("long"),
            ),
            F.lit(_PACK_MAX_BUCKETS).cast("long"),
        ).alias("n_buckets")
    )
    h = hash60(F.col("doc_id").cast("string"))
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    based = docs.crossJoin(F.broadcast(nb)).select(
        "doc_id",
        (h % F.col("n_buckets")).alias("bucket"),
        h.alias("rank_in_bucket"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("rank_in_bucket", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    placed = based.withColumn("start", start)
    return placed.select(
        "doc_id",
        "bucket",
        "n_tokens",
        # exact BIGINT arithmetic end-to-end (div, not float floor)
        F.expr(
            f"bucket * CAST({1 << 40} AS BIGINT) + start div {_PACK_BUDGET}"
        ).alias("chunk_id"),
        F.expr(f"start % {_PACK_BUDGET}").alias("offset_in_chunk"),
    )


_PACK_SQL = f"""
WITH nb AS (
    SELECT LEAST(GREATEST(count(*) // {_PACK_DOCS_PER_BUCKET},
                          {_PACK_MIN_BUCKETS}),
                 {_PACK_MAX_BUCKETS}) AS n_buckets
    FROM documents
),
based AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % n_buckets AS bucket,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               AS rank_in_bucket,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents CROSS JOIN nb
),
placed AS (
    SELECT doc_id, bucket, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY rank_in_bucket, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS start
    FROM based
)
SELECT doc_id, bucket, n_tokens,
       bucket * {1 << 40} + start // {_PACK_BUDGET} AS chunk_id,
       start % {_PACK_BUDGET} AS offset_in_chunk
FROM placed
"""


# ---------------------------------------------------------------------------
# Tokenized-training-corpus sink (operators/shards.py)

_SHARD_SEED = "r12shard"


def train_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZED-CORPUS TRAINING SINK — the terminal pipeline stage:
    deterministic seeded global shuffle of the corpus (epoch
    reproducibility), documents laid end-to-end, cut into fixed
    4096-token shards, each written as ``shard_<id>.npy`` through the
    engine's own npy writer (sources/npy.py), with the manifest row a
    data loader indexes by: (shard_id, n_tokens, checksum).

    Token ids here are hash60 of the whitespace tokens (the gate
    exercises the SHUFFLE + SHARD mechanics; the full
    bpe_encode-composed sink runs in tests/test_shards.py, which also
    round-trips the files and pins determinism across input
    partitionings).  The checksum folds each token's low 20 bits
    against its 1-based position — order-sensitive, so the oracle
    match proves the exact global permutation and shard layout, not
    just totals.  The oracle replays the permutation closed-form:
    hash-rank order, one running sum, arithmetic shard addressing.

    Scale shape: see operators/shards.py — bucketed running sums (no
    single-partition window), arithmetic range bucketing on the
    uniform hash ranks (no sampling job), one uniform shuffle on
    shard_id into the Arrow writer.  Files go to ONE per-process temp
    dir, CLEARED at each construction (the driver's sf dirs are
    read-only, and a fresh mkdtemp per call would grow /tmp
    monotonically across bench passes); same corpus + seed writes
    byte-identical files, so overlapping lazy builds of this gate stay
    consistent.  On a cluster the out dir is shared storage."""
    import os
    import shutil
    import tempfile

    from wrf_to_geodataframe_spark.operators.shards import (
        write_training_corpus,
    )

    docs = _spread_docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.transform(tokens(F.col("text")), lambda w: hash60(w)).alias(
            "toks"
        ),
    )
    out = os.path.join(
        tempfile.gettempdir(), f"train_shards_{os.getpid()}"
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    return write_training_corpus(toks, out, _SHARD_SEED)


_TRAIN_SHARD_SQL = f"""
WITH ranked AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5('{_SHARD_SEED}:'
                || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rank,
           string_split(text, ' ') AS ws
    FROM documents
), placed AS (
    SELECT doc_id, ws,
           CAST(coalesce(sum(len(ws)) OVER (
               ORDER BY rank, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS start
    FROM ranked
), toks AS (
    SELECT start + unnest(generate_series(1, len(ws))) - 1 AS gpos,
           CAST(('0x' || substr(md5(unnest(ws)), 1, 15)) AS BIGINT)
               AS tok
    FROM placed
)
SELECT gpos // 4096 AS shard_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum((gpos % 4096 + 1) * (tok % 1048576)) AS BIGINT)
           AS checksum
FROM toks GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings

_N_QUERIES = 8  # vec_id < 8 are the query vectors
_TOP_K = 3
_LSH_PLANES = 16  # random hyperplanes -> 16-bit signature
_LSH_BANDS = 4  # bands of 4 bits
_PLANE_SCALE = float(1 << 30)

_DOT_SQL = (
    "CAST(list_sum(list_transform(generate_series(1, len({a})), i -> "
    "CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
    f"* {float(1 << 40)!r}) AS BIGINT))) AS BIGINT)"
)


def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact ANN baseline.  Query set
    (vec_id < 8) is broadcast against all candidates; per-pair cosine is
    exact-integer quantized (functions/vectors.py) so ranking ties and
    hashes are bit-stable.

    Scale shape: O(|Q|·N) with the tiny side broadcast — correct for a
    small query batch; the LSH variant below is the recall/cost
    trade-off at large |Q|."""
    from wrf_to_geodataframe_spark.functions.vectors import (
        as_double_vec,
        cosine_from_q,
        dot_q,
        norm_q,
    )

    emb = _spread_embeddings(spark, sf_dir).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("e")
    )
    emb = emb.withColumn("nq", norm_q(F.col("e")))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nq").alias("qnq"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("nq").alias("cnq"),
    )
    pairs = F.broadcast(q).crossJoin(c).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_from_q(
            dot_q(F.col("qe"), F.col("ce")), F.col("qnq"), F.col("cnq")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
    )


_SIM_BRUTE_SQL = f"""
WITH norms AS (
    SELECT vec_id, {_DOT_SQL.format(a="embedding", b="embedding")} AS nq
    FROM embeddings
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_DOT_SQL.format(a="q.embedding", b="c.embedding")} AS dq
    FROM embeddings q JOIN embeddings c
      ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
),
scored AS (
    SELECT query_id, neighbor_id,
           CAST(dq AS DOUBLE)
               / sqrt(CAST(nq.nq AS DOUBLE) * CAST(nc.nq AS DOUBLE)) AS cosine
    FROM pairs
    JOIN norms nq ON query_id = nq.vec_id
    JOIN norms nc ON neighbor_id = nc.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM scored
)
WHERE rank <= {_TOP_K}
"""


def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH: 16
    md5-derived deterministic hyperplanes → 16-bit sign signature per
    vector, banded 4×4; candidates share a band key (EQUI join — never a
    cross join), then exact cosine re-ranks the candidates and keeps
    top-k per query.

    Scale shape: signatures are one shuffle over (vec, plane) terms;
    the candidate join shuffles on (band, key) which md5 keeps uniform;
    re-rank cost is |candidates|, not N."""
    from wrf_to_geodataframe_spark.functions.vectors import (
        as_double_vec,
        cosine_from_q,
        dot_q,
        norm_q,
    )

    emb = _spread_embeddings(spark, sf_dir).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("e")
    )
    # deterministic hyperplanes: w(h, d) = (hash60(h||'_'||d) % 2001 - 1000)/1000
    planes = (
        spark.range(_LSH_PLANES)
        .select(F.col("id").alias("h"))
        .crossJoin(spark.range(1, 65).select(F.col("id").alias("d")))
        .select(
            "h",
            "d",
            (
                (
                    hash60(F.concat(F.col("h").cast("string"), F.lit("_"), F.col("d").cast("string")))
                    % 2001
                    - 1000
                ).cast("double")
                / 1000.0
            ).alias("w"),
        )
    )
    comps = emb.select(
        "vec_id", F.posexplode("e").alias("pos", "v")
    ).select("vec_id", (F.col("pos") + 1).alias("d"), "v")
    terms = comps.join(F.broadcast(planes), "d").select(
        "vec_id",
        "h",
        F.floor(F.col("w") * F.col("v") * F.lit(_PLANE_SCALE)).cast("long").alias("tq"),
    )
    bits = terms.groupBy("vec_id", "h").agg(
        (F.sum("tq") > 0).cast("long").alias("bit")
    )
    # the band table feeds both sides of the candidate self-join, and
    # HOF-bearing subtrees never hit exchange reuse — persist the tiny
    # (vec, band) signature table instead of re-deriving it twice
    bands = bits.groupBy(
        "vec_id", F.floor(F.col("h") / (_LSH_PLANES // _LSH_BANDS)).alias("band")
    ).agg(
        F.sum(F.expr(f"shiftleft(bit, CAST(h % {_LSH_PLANES // _LSH_BANDS} AS INT))"))
        .alias("band_key")
    )
    track_persist(bands)
    qb = bands.filter(F.col("vec_id") < _N_QUERIES).alias("qb")
    cb = bands.alias("cb")
    cand = (
        qb.join(
            cb,
            (F.col("qb.band") == F.col("cb.band"))
            & (F.col("qb.band_key") == F.col("cb.band_key"))
            & (F.col("qb.vec_id") != F.col("cb.vec_id")),
        )
        .select(
            F.col("qb.vec_id").alias("query_id"),
            F.col("cb.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    embn = emb.withColumn("nq", norm_q(F.col("e")))
    qe = embn.select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nq").alias("qnq")
    )
    ce = embn.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), F.col("nq").alias("cnq")
    )
    scored = (
        cand.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_q(
                dot_q(F.col("qe"), F.col("ce")), F.col("qnq"), F.col("cnq")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
    )


_SIM_LSH_SQL = f"""
WITH planes AS (
    SELECT h.h AS h, d.d AS d,
           (CAST(('0x' || substr(md5(h.h || '_' || d.d), 1, 15)) AS BIGINT)
                % 2001 - 1000) / 1000.0 AS w
    FROM generate_series(0, {_LSH_PLANES - 1}) AS h(h),
         generate_series(1, 64) AS d(d)
),
comps AS (
    SELECT vec_id, d.d AS d, CAST(embedding[d.d] AS DOUBLE) AS v
    FROM embeddings, generate_series(1, 64) AS d(d)
),
terms AS (
    SELECT vec_id, h,
           CAST(floor(w * v * {_PLANE_SCALE!r}) AS BIGINT) AS tq
    FROM comps JOIN planes USING (d)
),
bits AS (
    SELECT vec_id, h,
           CASE WHEN CAST(sum(tq) AS BIGINT) > 0 THEN 1 ELSE 0 END AS bit
    FROM terms GROUP BY vec_id, h
),
bands AS (
    SELECT vec_id,
           CAST(floor(h / {_LSH_PLANES // _LSH_BANDS}.0) AS BIGINT) AS band,
           CAST(sum(bit << (h % {_LSH_PLANES // _LSH_BANDS})) AS BIGINT) AS band_key
    FROM bits GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
    FROM bands qb JOIN bands cb
      ON qb.band = cb.band AND qb.band_key = cb.band_key
     AND qb.vec_id < {_N_QUERIES} AND cb.vec_id <> qb.vec_id
),
norms AS (
    SELECT vec_id, {_DOT_SQL.format(a="embedding", b="embedding")} AS nq
    FROM embeddings
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
           CAST({_DOT_SQL.format(a="q.embedding", b="n.embedding")} AS DOUBLE)
               / sqrt(CAST(nq.nq AS DOUBLE) * CAST(nc.nq AS DOUBLE)) AS cosine
    FROM cand c
    JOIN embeddings q ON c.query_id = q.vec_id
    JOIN embeddings n ON c.neighbor_id = n.vec_id
    JOIN norms nq ON c.query_id = nq.vec_id
    JOIN norms nc ON c.neighbor_id = nc.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM scored
)
WHERE rank <= {_TOP_K}
"""


_IVF_NPROBE = 3


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer — stride =
    floor(sqrt(N)) derived from a 1-row count agg inside the plan, so
    every stride-th vec_id is a centroid and the centroid count is
    ~sqrt(N) for ANY corpus size — each vector assigned to its nearest
    centroid by exact-integer cosine; queries probe the 3 nearest
    centroids and exact-rerank only those lists.

    Scale shape: the broadcast side is the ~sqrt(N) centroid table (a
    few MB even at 10^10 vectors), assignment scores N x sqrt(N) pairs
    (the standard IVF train/assign cost), the probe join shuffles on
    centroid id (list sizes ~sqrt(N)), and rerank cost is nprobe/C of
    brute force — the classic IVF recall/cost dial, with everything
    deterministic so the oracle can replay it."""
    from wrf_to_geodataframe_spark.functions.vectors import (
        as_double_vec,
        cosine_from_q,
        dot_q,
        norm_q,
    )

    # (vec, norm) feeds centroid scoring, probes, and BOTH rerank sides;
    # norm_q is an interpreted HOF, so uncached branches would each
    # recompute it over the full table
    emb = track_persist(
        _spread_embeddings(spark, sf_dir).select(
            "vec_id", as_double_vec(F.col("embedding")).alias("e")
        ).withColumn("nq", norm_q(F.col("e")))
    )
    # stride = floor(sqrt(N)) as a 1-row agg crossJoined in (plan stays
    # lazy, no driver collect); greatest(...,1) guards the empty table.
    stride = emb.agg(
        F.greatest(F.floor(F.sqrt(F.count("*"))).cast("long"), F.lit(1)).alias(
            "ivf_stride"
        )
    )
    cents = (
        emb.crossJoin(F.broadcast(stride))
        .filter(F.col("vec_id") % F.col("ivf_stride") == 0)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("e").alias("ce"),
            F.col("nq").alias("cnq"),
        )
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        cosine_from_q(dot_q(F.col("e"), F.col("ce")), F.col("nq"), F.col("cnq")).alias(
            "ccos"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    ranked = scored.withColumn("crank", F.row_number().over(w))
    assign = ranked.filter(F.col("crank") == 1).select("vec_id", "cent_id")
    probes = (
        ranked.filter((F.col("crank") <= _IVF_NPROBE) & (F.col("vec_id") < _N_QUERIES))
        .select(F.col("vec_id").alias("query_id"), "cent_id")
    )
    cand = (
        probes.join(assign, "cent_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .distinct()
    )
    qe = emb.select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nq").alias("qnq")
    )
    ce = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ne"), F.col("nq").alias("nnq")
    )
    rer = (
        cand.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_q(
                dot_q(F.col("qe"), F.col("ne")), F.col("qnq"), F.col("nnq")
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
    )


_SIM_IVF_SQL = f"""
WITH norms AS (
    SELECT vec_id, {_DOT_SQL.format(a="embedding", b="embedding")} AS nq
    FROM embeddings
),
stride AS (
    SELECT GREATEST(CAST(floor(sqrt(count(*))) AS BIGINT), 1) AS ivf_stride
    FROM embeddings
),
cents AS (
    SELECT vec_id AS cent_id, embedding AS ce, nq AS cnq
    FROM embeddings JOIN norms USING (vec_id) CROSS JOIN stride
    WHERE vec_id % ivf_stride = 0
),
scored AS (
    SELECT e.vec_id, c.cent_id,
           CAST({_DOT_SQL.format(a="e.embedding", b="c.ce")} AS DOUBLE)
               / sqrt(CAST(n.nq AS DOUBLE) * CAST(c.cnq AS DOUBLE)) AS ccos
    FROM embeddings e
    JOIN norms n USING (vec_id)
    CROSS JOIN cents c
),
ranked AS (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id)
               AS crank
    FROM scored
),
assign AS (SELECT vec_id, cent_id FROM ranked WHERE crank = 1),
probes AS (
    SELECT vec_id AS query_id, cent_id FROM ranked
    WHERE crank <= {_IVF_NPROBE} AND vec_id < {_N_QUERIES}
),
cand AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a USING (cent_id)
    WHERE a.vec_id <> p.query_id
),
rer AS (
    SELECT c.query_id, c.neighbor_id,
           CAST({_DOT_SQL.format(a="q.embedding", b="n.embedding")} AS DOUBLE)
               / sqrt(CAST(nq.nq AS DOUBLE) * CAST(nn.nq AS DOUBLE)) AS cosine
    FROM cand c
    JOIN embeddings q ON c.query_id = q.vec_id
    JOIN embeddings n ON c.neighbor_id = n.vec_id
    JOIN norms nq ON c.query_id = nq.vec_id
    JOIN norms nn ON c.neighbor_id = nn.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM rer
)
WHERE rank <= {_TOP_K}
"""


# ---------------------------------------------------------------------------
# Similarity search: product quantization (PQ / ADC)

_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (M * SUB = 64)
_PQ_K = 16  # codewords per subspace (first 16 vectors' subvectors)
_PQ_Q = 1 << 20  # component quantizer
_PQ_RERANK = 64  # ADC candidates per query fed to the exact rerank


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou/Douze/Schmid, TPAMI 2011): each
    vector is encoded as 8 sub-codes (nearest of 16 deterministic
    codewords per 8-dim subspace); queries rank candidates by
    ASYMMETRIC DISTANCE — the sum of per-subspace query-to-codeword
    distances looked up from a tiny precomputed table, never touching
    the raw database vectors.

    Determinism discipline: components quantize to BIGINT first, so
    every distance is an exact integer; argmin ties break on the lowest
    code via the combined key min(d2 * K + c).  Scale shape: codes are
    8 small ints per vector (a 64-dim float vector compresses ~32x),
    encode is one broadcast pass, and query cost is |DB| lookups of a
    1024-entry table — the memory/recall dial IVF doesn't give you."""
    # L2-NORMALIZE before quantizing: ADC ranks by L2 distance, and on
    # the unit sphere L2 order == cosine order, matching the exact
    # rankers; quantization after the division keeps everything BIGINT
    emb = _spread_embeddings(spark, sf_dir).select(
        "vec_id",
        F.expr(
            "greatest(sqrt(aggregate(transform(embedding, x -> "
            "CAST(x AS DOUBLE) * x), CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x)), 1e-12d)"
        ).alias("nd"),
        "embedding",
    ).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
            f"/ nd * {_PQ_Q}) AS BIGINT))"
        ).alias("qv"),
    )
    track_persist(emb)
    cb = emb.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("c"), F.col("qv").alias("cv")
    )
    ms = spark.range(_PQ_M).select(F.col("id").alias("m"))
    sub_d2 = F.expr(
        f"aggregate(zip_with(slice(qv, CAST(m * {_PQ_SUB} + 1 AS INT), "
        f"{_PQ_SUB}), slice(cv, CAST(m * {_PQ_SUB} + 1 AS INT), {_PQ_SUB}), "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )
    # encode: argmin codeword per (vector, subspace) via the combined
    # integer key — deterministic tie-break on the lowest code
    enc = (
        emb.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(cb))
        .select(
            "vec_id", "m", (sub_d2 * _PQ_K + F.col("c")).alias("key")
        )
        .groupBy("vec_id", "m")
        .agg(F.min("key").alias("k"))
        .select("vec_id", "m", (F.col("k") % _PQ_K).alias("code"))
    )
    # query-side lookup table: distance from each query subvector to
    # every codeword (|Q| x M x K rows — tiny, broadcast)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    lut = (
        q.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "m",
            F.col("c").alias("code"),
            F.expr(
                f"aggregate(zip_with(slice(qqv, CAST(m * {_PQ_SUB} + 1 AS "
                f"INT), {_PQ_SUB}), slice(cv, CAST(m * {_PQ_SUB} + 1 AS "
                f"INT), {_PQ_SUB}), (a, b) -> (a - b) * (a - b)), 0L, "
                f"(acc, x) -> acc + x)"
            ).alias("d2"),
        )
    )
    adc = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("d2_approx"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("d2_approx").asc(), F.col("neighbor_id")
    )
    cand = adc.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= _PQ_RERANK
    ).select("query_id", "neighbor_id")
    # exact-cosine rerank of the compressed-domain candidates (same
    # recall/cost structure as the IVF query: approximate candidates,
    # exact final ranking)
    from wrf_to_geodataframe_spark.functions.vectors import (
        as_double_vec,
        cosine_from_q,
        dot_q,
        norm_q,
    )

    full = _spread_embeddings(spark, sf_dir).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("e")
    ).withColumn("nq", norm_q(F.col("e")))
    qe = full.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nq").alias("qnq"),
    )
    ce = full.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ne"),
        F.col("nq").alias("nnq"),
    )
    rer = (
        cand.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_q(
                dot_q(F.col("qe"), F.col("ne")), F.col("qnq"), F.col("nnq")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
    )


_PQ_SUBD2 = (
    "CAST(list_sum(list_transform(generate_series(1, {sub}), i -> "
    "({a}[m.m * {sub} + i] - {b}[m.m * {sub} + i]) "
    "* ({a}[m.m * {sub} + i] - {b}[m.m * {sub} + i]))) AS BIGINT)"
)

_SIM_PQ_SQL = f"""
WITH nrm AS (
    SELECT vec_id, embedding,
           greatest(sqrt(list_sum(list_transform(embedding, x ->
               CAST(x AS DOUBLE) * x))), 1e-12) AS nd
    FROM embeddings
),
qemb AS (
    SELECT vec_id,
           list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) / nd * {_PQ_Q}) AS BIGINT)) AS qv
    FROM nrm
),
cb AS (SELECT vec_id AS c, qv AS cv FROM qemb WHERE vec_id < {_PQ_K}),
enc AS (
    SELECT vec_id, m, CAST(k % {_PQ_K} AS BIGINT) AS code FROM (
        SELECT e.vec_id, m.m AS m,
               min({_PQ_SUBD2.format(sub=_PQ_SUB, a="e.qv", b="cb.cv")}
                   * {_PQ_K} + cb.c) AS k
        FROM qemb e, generate_series(0, {_PQ_M - 1}) AS m(m), cb
        GROUP BY 1, 2
    )
),
lut AS (
    SELECT q.vec_id AS query_id, m.m AS m, cb.c AS code,
           {_PQ_SUBD2.format(sub=_PQ_SUB, a="q.qv", b="cb.cv")} AS d2
    FROM qemb q, generate_series(0, {_PQ_M - 1}) AS m(m), cb
    WHERE q.vec_id < {_N_QUERIES}
),
adc AS (
    SELECT l.query_id, e.vec_id AS neighbor_id,
           CAST(sum(l.d2) AS BIGINT) AS d2_approx
    FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
    WHERE e.vec_id <> l.query_id
    GROUP BY 1, 2
),
cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2_approx ASC, neighbor_id)
                   AS crank
        FROM adc
    ) WHERE crank <= {_PQ_RERANK}
),
norms AS (
    SELECT vec_id, {_DOT_SQL.format(a="embedding", b="embedding")} AS nq
    FROM embeddings
),
rer AS (
    SELECT c.query_id, c.neighbor_id,
           CAST({_DOT_SQL.format(a="q.embedding", b="n.embedding")} AS DOUBLE)
               / sqrt(CAST(nq.nq AS DOUBLE) * CAST(nn.nq AS DOUBLE)) AS cosine
    FROM cand c
    JOIN embeddings q ON c.query_id = q.vec_id
    JOIN embeddings n ON c.neighbor_id = n.vec_id
    JOIN norms nq ON c.query_id = nq.vec_id
    JOIN norms nn ON c.neighbor_id = nn.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)
                AS BIGINT) AS rank
    FROM rer
)
WHERE rank <= {_TOP_K}
"""


def pca_project_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA under the oracle (VERDICT r8 item 6): fit on a
    2-D slice of the embeddings (operators/pca.py — integer-Gram
    partials, driver eigh, broadcast projection) and return the
    per-component POPULATION VARIANCE of the projected coordinates.
    Mathematically that variance IS the covariance eigenvalue, and for
    d=2 the eigenvalues have the closed form
    ``mean(tr) ± sqrt(((caa-cbb)/2)^2 + cab^2)`` — which DuckDB can
    replay exactly from the same quantized Gram sums.  The inputs are
    pre-snapped to the 2^-20 dyadic lattice on BOTH sides so the
    quantization inside fit_pca is the identity and the only
    disagreement is eigensolver-vs-closed-form float error (~1e-12
    relative), absorbed by the 2^-10 output quantization.

    The fit is EAGER by design (one bounded O(d^2) partials collect,
    the BPE discipline — exempted in the laziness plan test);
    the projection + variance aggregate stays lazy."""
    from wrf_to_geodataframe_spark.operators.pca import (
        fit_pca,
        project_pca,
    )

    q = float(1 << 20)
    emb = _spread_embeddings(spark, sf_dir).select(
        "vec_id",
        F.array(
            F.floor(F.col("embedding")[0].cast("double") * q) / q,
            F.floor(F.col("embedding")[1].cast("double") * q) / q,
        ).alias("embedding"),
    )
    mean, comps, _eig = fit_pca(spark, emb, "embedding")
    proj = project_pca(spark, emb, mean, comps, k=2)
    agg = proj.agg(
        F.var_pop(F.col("pca")[0]).alias("v0"),
        F.var_pop(F.col("pca")[1]).alias("v1"),
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).cast("long").alias("component"),
                    F.floor(F.col("v0") * 1024).cast("long").alias("var_q"),
                ),
                F.struct(
                    F.lit(1).cast("long").alias("component"),
                    F.floor(F.col("v1") * 1024).cast("long").alias("var_q"),
                ),
            )
        ).alias("s")
    ).select("s.component", "s.var_q")


_PCA_SQL = """
WITH q AS (
    SELECT CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1048576) AS BIGINT) AS a,
           CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1048576) AS BIGINT) AS b
    FROM embeddings
), s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(b) AS DOUBLE) AS sb,
           CAST(SUM(a * a) AS DOUBLE) AS gaa,
           CAST(SUM(a * b) AS DOUBLE) AS gab,
           CAST(SUM(b * b) AS DOUBLE) AS gbb
    FROM q
), c AS (
    SELECT gaa / 1099511627776.0 / n
               - (sa / 1048576.0 / n) * (sa / 1048576.0 / n) AS caa,
           gab / 1099511627776.0 / n
               - (sa / 1048576.0 / n) * (sb / 1048576.0 / n) AS cab,
           gbb / 1099511627776.0 / n
               - (sb / 1048576.0 / n) * (sb / 1048576.0 / n) AS cbb
    FROM s
), e AS (
    SELECT (caa + cbb) / 2.0
               + SQRT(((caa - cbb) / 2.0) * ((caa - cbb) / 2.0)
                      + cab * cab) AS l1,
           (caa + cbb) / 2.0
               - SQRT(((caa - cbb) / 2.0) * ((caa - cbb) / 2.0)
                      + cab * cab) AS l2
    FROM c
)
SELECT CAST(0 AS BIGINT) AS component,
       CAST(FLOOR(l1 * 1024) AS BIGINT) AS var_q FROM e
UNION ALL
SELECT CAST(1 AS BIGINT), CAST(FLOOR(l2 * 1024) AS BIGINT) FROM e
"""


# ---------------------------------------------------------------------------
# Multimodal columns


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata path (oracle-checked half of the
    multimodal plumbing): payload byte length + typed metadata, all
    JVM-side over the binary column."""
    from wrf_to_geodataframe_spark.operators.multimodal import attach_fake_payload

    docs = _spread_docs(spark, sf_dir)
    wp = attach_fake_payload(docs)
    return wp.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        "fmt",
        "width",
        "height",
    )


_MULTIMODAL_META_SQL = """
SELECT doc_id,
       CAST(octet_length(unhex(md5(text))) AS BIGINT) AS n_bytes,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS fmt,
       CAST(16 + doc_id % 5 AS BIGINT) AS width,
       CAST(16 + doc_id % 7 AS BIGINT) AS height
FROM documents
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor image resize over the deterministic fake byte
    grids.  The Arrow mapInPandas kernel produces real binary pixels
    (numpy-golden-pinned in tests/test_pipeline_suite.py); the gate row
    hex-encodes them JVM-side so the value compare is engine-robust
    (bytes surface as bytearray vs bytes in pandas depending on the
    engine), and the oracle restates the whole pipeline — md5-chain
    image synthesis + the exact (y*h div 8, x*w div 8) nearest-neighbor
    index arithmetic — in SQL, so the hash match validates the kernel's
    OUTPUT, not its mechanism."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        attach_fake_image,
        resize_images,
    )

    docs = _spread_docs(spark, sf_dir)
    out = resize_images(attach_fake_image(docs), 8, 8)
    return out.select(
        "doc_id", "out_w", "out_h", F.hex("pixels").alias("pixels_hex")
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sampling over the fake "video" grids (fan-out
    mapInPandas kernel, numpy-golden-pinned).  Hex-encoded frames +
    full-pipeline SQL oracle — see multimodal_resize."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        attach_fake_image,
        sample_frames,
    )

    docs = _spread_docs(spark, sf_dir)
    out = sample_frames(attach_fake_image(docs), stride=2)
    return out.select("doc_id", "frame_idx", F.hex("frame").alias("frame_hex"))


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over the binary payload.  The
    Arrow-batch kernel computes byte-level features with numpy; the
    oracle independently derives the same numbers from the md5 hex
    digits, so the gate row hash-checks the kernel's output."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        attach_fake_payload,
        extract_features,
    )

    docs = _spread_docs(spark, sf_dir)
    return extract_features(attach_fake_payload(docs))


_MM_BLOCKS_HEX = " || ".join(f"md5(text || ':{b}')" for b in range(28))

_MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
       CAST(16 AS BIGINT) AS n_bytes,
       CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) AS first_byte,
       CAST(list_sum(list_transform(generate_series(1, 16),
            i -> CAST(('0x' || substr(md5(text), 2 * i - 1, 2)) AS BIGINT)))
            AS BIGINT) AS byte_sum
FROM documents
"""

_MULTIMODAL_RESIZE_SQL = f"""
WITH img AS (
    SELECT doc_id,
           CAST(16 + doc_id % 5 AS BIGINT) AS w,
           CAST(16 + doc_id % 7 AS BIGINT) AS h,
           {_MM_BLOCKS_HEX} AS bh
    FROM documents
),
pix AS (
    SELECT doc_id, y.y AS y, x.x AS x,
           substr(bh,
                  CAST(2 * ((y.y * h // 8) * w + (x.x * w // 8)) AS BIGINT) + 1,
                  2) AS p
    FROM img, generate_series(0, 7) AS y(y), generate_series(0, 7) AS x(x)
)
SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
       upper(string_agg(p, '' ORDER BY y, x)) AS pixels_hex
FROM pix GROUP BY doc_id
"""

def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG round-trip over the deterministic byte grids: each grid
    is encoded as a valid grayscale PNG (scanline filter cycling y % 5,
    so None/Sub/Up/Average/Paeth all appear in every image) and decoded
    back by the pure-stdlib codec in ``sources/png.py`` — both steps
    Arrow ``mapInPandas`` kernels.  The oracle states the ANALYTIC
    answer (encode∘decode = identity on the md5-chain pixels), so the
    hash match validates every unfilter branch, the zlib framing and
    the CRC path of the decoder, not a re-statement of its mechanism.
    Dimensions come from the decoded IHDR, not the input columns."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        attach_fake_image,
        decode_images,
        encode_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the codec is CPU-bound Python inside Arrow batches: spread it over
    # every worker even when the input is one small parquet split (at
    # 100 TB the scan yields thousands of splits and this hash exchange
    # is noise next to the per-image work)
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    out = decode_images(encode_images(attach_fake_image(docs)))
    return out.select(
        "doc_id", "width", "height", "channels", F.hex("pixels").alias("pixels_hex")
    )


_MULTIMODAL_DECODE_SQL = f"""
SELECT doc_id,
       CAST(16 + doc_id % 5 AS BIGINT) AS width,
       CAST(16 + doc_id % 7 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS channels,
       upper(substr({_MM_BLOCKS_HEX}, 1,
                    CAST(2 * (16 + doc_id % 5) * (16 + doc_id % 7) AS BIGINT)))
           AS pixels_hex
FROM documents
"""


def multimodal_decode_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG round-trip across the FORMAT MIX a crawl corpus contains —
    the round-6 codec surface on the hash path: each doc's md5-chain
    byte grid is encoded per ``doc_id % 3`` as a palette PNG (16
    md5-derived colors), a 16-bit grayscale PNG (big-endian sample
    pairs), or a 4-bit bit-packed grayscale PNG — scanline filters
    cycling y % 5 in all three — then decoded by ``sources/png.py``.
    The oracle states the ANALYTIC normalization for each format
    (palette expansion through the shared color table, 16->8 high-byte
    scaling, 4-bit v*17 scaling), so the hash match validates the
    PLTE/tRNS, 16-bit and bit-unpacking decode paths plus every
    filter x depth combination — not a restatement of the codec."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        decode_images,
        encode_images_formats,
    )

    docs = load_table(spark, sf_dir, "documents")
    # spread the CPU-bound Python codec over every worker (see
    # multimodal_decode's repartition note)
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    w = (F.lit(16) + F.col("doc_id") % 5).cast("long")
    h = (F.lit(16) + F.col("doc_id") % 7).cast("long")
    # 55 blocks x 16 bytes = 880 = 2 * (20 * 22): covers 16-bit's
    # two-bytes-per-sample need at the max grid
    blocks = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(f":{b}"))))
            for b in range(55)
        ]
    )
    base = docs.select(
        "doc_id",
        w.alias("width"),
        h.alias("height"),
        (F.col("doc_id") % 3).cast("long").alias("fmt"),
        blocks.alias("_blocks"),
    ).select(
        "doc_id",
        "width",
        "height",
        "fmt",
        F.expr("substring(_blocks, 1, CAST(2 * width * height AS INT))").alias(
            "raw"
        ),
    )
    out = decode_images(encode_images_formats(base))
    return out.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.hex("pixels").alias("pixels_hex"),
    )


def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG round-trip on the hash path: per doc, a grayscale image of
    constant 8x8 tiles (one md5-derived EVEN byte per block, w/h
    multiples of 8) is encoded as a real JFIF stream — BASELINE for
    even docs, PROGRESSIVE (SOF2 with successive approximation) for
    odd docs — and decoded back by ``sources/jpeg.py`` through the
    mixed-format ``decode_images`` dispatch.  Constant even-valued
    blocks are the codec's bit-exact corner (DC quantization at step
    16 has no .5 boundary, every AC quantizes to zero), so ONE oracle
    states the decoded pixels in CLOSED FORM for both encodings — per
    pixel, the block's chain byte forced even — validating the
    Huffman DC chain, the progressive DC first/refine scans and EOB
    machinery, byte stuffing, dequantization and flat inverse DCT,
    not a codec restatement.  The general lossy path is pinned by
    PSNR + determinism + baseline==progressive goldens in pytest (no
    SQL engine can replay a float DCT bit-for-bit)."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        decode_images,
        encode_images_jpeg_tiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    w = (F.lit(16) + (F.col("doc_id") % 2) * 8).cast("long")
    h = (F.lit(16) + (F.col("doc_id") % 3) * 8).cast("long")
    # one md5 block = 16 bytes >= the max (24/8)*(32/8) = 12 tiles
    raw = F.unhex(F.md5(F.concat(F.col("text"), F.lit(":jb"))))
    base = docs.select(
        "doc_id", w.alias("width"), h.alias("height"), raw.alias("raw")
    )
    out = decode_images(encode_images_jpeg_tiles(base))
    return out.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.hex("pixels").alias("pixels_hex"),
    )


_MULTIMODAL_JPEG_SQL = """
WITH g AS (
    SELECT doc_id,
           CAST(16 + (doc_id % 2) * 8 AS BIGINT) AS width,
           CAST(16 + (doc_id % 3) * 8 AS BIGINT) AS height,
           md5(text || ':jb') AS bh
    FROM documents
)
SELECT doc_id, width, height, CAST(1 AS BIGINT) AS channels,
       array_to_string(list_transform(
           generate_series(0, CAST(width * height - 1 AS INT)),
           i -> upper(lpad(hex(
               (CAST(('0x' || substr(bh,
                    2 * (((i // width) // 8) * (width // 8)
                         + ((i % width) // 8)) + 1, 2)) AS INT) // 2) * 2),
               2, '0'))), '') AS pixels_hex
FROM g
"""


def multimodal_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless WebP (VP8L) round-trip on the hash path: per doc an
    RGBA grid of md5-chain bytes is encoded as a real RIFF/VP8L stream
    (odd docs add the subtract-green transform, so both the plain and
    transformed entropy paths are hash-checked) and decoded back by
    ``sources/webp.py`` through the mixed-format ``decode_images``
    dispatch.  VP8L is lossless, so the oracle states the decoded
    pixels in CLOSED FORM — identity on the chain bytes — validating
    canonical prefix codes (simple + code-length-coded headers), the
    LSB-first bit layout, and the transform inverse, not a codec
    restatement.  LZ77/cache/palette/predictor paths are pinned by the
    spec-level golden streams in ``tests/test_webp.py``.

    100 TB shape: CPU-bound Python codec inside Arrow batches — the
    repartition spreads one small parquet split over every core; at
    cluster scale the scan's own splits dominate and the exchange is
    noise (same pattern as ``multimodal_decode``)."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        decode_images,
        encode_images_webp,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    w = (F.lit(8) + F.col("doc_id") % 3).cast("long")
    h = (F.lit(6) + F.col("doc_id") % 2).cast("long")
    # 18 md5 blocks = 288 bytes >= max 10*7*4 = 280 RGBA bytes
    raw = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(f":wp{b}"))))
            for b in range(18)
        ]
    )
    base = docs.select(
        "doc_id", w.alias("width"), h.alias("height"), raw.alias("raw")
    )
    out = decode_images(encode_images_webp(base))
    return out.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.hex("pixels").alias("pixels_hex"),
    )


_MM_WEBP_HEX = " || ".join(f"md5(text || ':wp{b}')" for b in range(18))

_MULTIMODAL_WEBP_SQL = f"""
SELECT doc_id,
       CAST(8 + doc_id % 3 AS BIGINT) AS width,
       CAST(6 + doc_id % 2 AS BIGINT) AS height,
       CAST(4 AS BIGINT) AS channels,
       upper(substr({_MM_WEBP_HEX}, 1,
                    CAST(8 * (8 + doc_id % 3) * (6 + doc_id % 2) AS BIGINT)))
           AS pixels_hex
FROM documents
"""


def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF (LZW) round-trip on the hash path: per doc a palette-index
    grid (md5-chain nibbles into the 16-color MM_PALETTE) is encoded
    as a real single-frame GIF89a by ``sources/gif.py`` — odd docs
    interlaced, so both row orders are exercised — and decoded back
    through the mixed-format ``decode_images`` dispatch.  GIF is
    lossless over palette indices, so the oracle states the decoded
    RGB pixels in CLOSED FORM (nibble -> palette color), validating
    the variable-width LSB-first LZW, the sub-block framing, and the
    4-pass interlace inverse — not a codec restatement.  Table-reset
    and transparency corners are pinned by unit goldens in
    ``tests/test_gif.py``.

    100 TB shape: CPU-bound Python codec inside Arrow batches; the
    repartition spreads the single small parquet split across every
    core (same pattern as the other codec gate rows)."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        decode_images,
        encode_images_gif,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    w = (F.lit(8) + F.col("doc_id") % 3).cast("long")
    h = (F.lit(6) + F.col("doc_id") % 2).cast("long")
    # 3 md5 blocks = 96 hex chars >= max 10*7 = 70 pixels
    hexidx = F.concat(
        *[F.md5(F.concat(F.col("text"), F.lit(f":gf{b}"))) for b in range(3)]
    )
    base = docs.select(
        "doc_id", w.alias("width"), h.alias("height"), hexidx.alias("hexidx")
    )
    out = decode_images(encode_images_gif(base))
    return out.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.hex("pixels").alias("pixels_hex"),
    )


def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-curation features through a REAL WAV round-trip: per doc
    64 int16-LE PCM samples (md5-chain bytes) are wrapped as a real
    mono 16 kHz WAV container (``sources/wav.py``), decoded back, and
    reduced to the classic loudness/silence-filter signals — frame
    count, peak amplitude, absolute sum, zero crossings, integer-milli
    RMS — ALL exact integers (the one float, RMS, is floor-quantized
    through an identical double expression in both engines).  The
    oracle recomputes every feature from the same md5 hex directly, so
    the hash match validates the container walk, the int16-LE
    interpretation, and the feature arithmetic.

    100 TB shape: numpy-vectorized mapInPandas over Arrow batches,
    one scan, no shuffle — the audio twin of the image codec rows."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        audio_features as _features,
        encode_audio_wav,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    pcm = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(f":au{b}"))))
            for b in range(8)
        ]
    )
    base = docs.select("doc_id", pcm.alias("pcm"))
    return _features(encode_audio_wav(base))


_AU_HEX = " || ".join(f"md5(text || ':au{b}')" for b in range(8))

_AUDIO_FEATURES_SQL = f"""
WITH g AS (
    SELECT doc_id, {_AU_HEX} AS hx FROM documents
),
sm AS (
    SELECT doc_id,
           list_transform(generate_series(0, 63), i ->
               CASE WHEN CAST(('0x' || substr(hx, 4*i + 3, 2)
                              || substr(hx, 4*i + 1, 2)) AS INT) >= 32768
                    THEN CAST(('0x' || substr(hx, 4*i + 3, 2)
                              || substr(hx, 4*i + 1, 2)) AS INT) - 65536
                    ELSE CAST(('0x' || substr(hx, 4*i + 3, 2)
                              || substr(hx, 4*i + 1, 2)) AS INT)
               END) AS s
    FROM g
)
SELECT doc_id,
       CAST(64 AS BIGINT) AS n_frames,
       CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak_abs,
       CAST(list_sum(list_transform(s, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_sum(list_transform(generate_series(1, 63), i ->
           CASE WHEN (s[i] >= 0) <> (s[i+1] >= 0) THEN 1 ELSE 0 END))
           AS BIGINT) AS zero_crossings,
       CAST(floor(1000.0 * sqrt(
           CAST(list_sum(list_transform(s, x -> x * x)) AS DOUBLE) / 64.0))
           AS BIGINT) AS rms_milli
FROM sm
"""


def multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF round-trip on the hash path: per doc an RGB grid of
    md5-chain bytes is encoded as a real TIFF by ``sources/tiff.py``
    with the compression cycling none/LZW/Deflate/PackBits per doc
    (odd docs add the horizontal predictor, every 5th is big-endian,
    4-row strips) and decoded back through the mixed-format
    ``decode_images`` dispatch.  All four strip codecs are lossless,
    so the oracle states the decoded pixels in CLOSED FORM — identity
    on the chain bytes — validating the IFD writer/parser, the
    early-change TIFF-LZW, PackBits, the predictor inverse, and both
    byte orders.  Interop with libtiff is pinned separately in
    ``tests/test_tiff_interop.py``.

    100 TB shape: CPU-bound Python codec inside Arrow batches; the
    repartition spreads the single parquet split across every core
    (same pattern as the other codec gate rows)."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        decode_images,
        encode_images_tiff,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    w = (F.lit(8) + F.col("doc_id") % 3).cast("long")
    h = (F.lit(6) + F.col("doc_id") % 2).cast("long")
    # 14 md5 blocks = 224 bytes >= max 10*7*3 = 210 RGB bytes
    raw = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(f":tf{b}"))))
            for b in range(14)
        ]
    )
    base = docs.select(
        "doc_id", w.alias("width"), h.alias("height"), raw.alias("raw")
    )
    out = decode_images(encode_images_tiff(base))
    return out.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.hex("pixels").alias("pixels_hex"),
    )


_MM_TIFF_HEX = " || ".join(f"md5(text || ':tf{b}')" for b in range(14))

_MULTIMODAL_TIFF_SQL = f"""
SELECT doc_id,
       CAST(8 + doc_id % 3 AS BIGINT) AS width,
       CAST(6 + doc_id % 2 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       upper(substr({_MM_TIFF_HEX}, 1,
                    CAST(6 * (8 + doc_id % 3) * (6 + doc_id % 2) AS BIGINT)))
           AS pixels_hex
FROM documents
"""


_MM_GIF_HEX = " || ".join(f"md5(text || ':gf{b}')" for b in range(3))


def _multimodal_gif_sql() -> str:
    return f"""
WITH g AS (
    SELECT doc_id,
           CAST(8 + doc_id % 3 AS BIGINT) AS width,
           CAST(6 + doc_id % 2 AS BIGINT) AS height,
           {_MM_GIF_HEX} AS hx
    FROM documents
)
SELECT doc_id, width, height, CAST(3 AS BIGINT) AS channels,
       array_to_string(list_transform(
           generate_series(1, CAST(width * height AS INT)),
           i -> {_mm_palette_sql()}[
               CAST(('0x' || substr(hx, i, 1)) AS INT) + 1]), '')
           AS pixels_hex
FROM g
"""


def _mm_palette_sql() -> str:
    from wrf_to_geodataframe_spark.operators.multimodal import MM_PALETTE

    return "[" + ", ".join(f"'{c.hex().upper()}'" for c in MM_PALETTE) + "]"


_MM_BLOCKS55_HEX = " || ".join(f"md5(text || ':{b}')" for b in range(55))

_MULTIMODAL_FORMATS_SQL = f"""
WITH g AS (
    SELECT doc_id,
           CAST(16 + doc_id % 5 AS BIGINT) AS width,
           CAST(16 + doc_id % 7 AS BIGINT) AS height,
           doc_id % 3 AS fmt,
           {_MM_BLOCKS55_HEX} AS bh
    FROM documents
)
SELECT doc_id, width, height,
       CAST(CASE WHEN fmt = 0 THEN 3 ELSE 1 END AS BIGINT) AS channels,
       CASE fmt
         WHEN 0 THEN array_to_string(list_transform(
             generate_series(1, CAST(width * height AS INT)),
             i -> {_mm_palette_sql()}[
                 (CAST(('0x' || substr(bh, 2*i - 1, 2)) AS INT) % 16) + 1]), '')
         WHEN 1 THEN upper(array_to_string(list_transform(
             generate_series(1, CAST(width * height AS INT)),
             i -> substr(bh, 4*i - 3, 2)), ''))
         ELSE array_to_string(list_transform(
             generate_series(1, CAST(width * height AS INT)),
             i -> upper(lpad(hex(
                 (CAST(('0x' || substr(bh, 2*i - 1, 2)) AS INT) % 16) * 17),
                 2, '0'))), '')
       END AS pixels_hex
FROM g
"""


_MULTIMODAL_FRAME_SQL = f"""
WITH img AS (
    SELECT doc_id,
           CAST(16 + doc_id % 5 AS BIGINT) AS w,
           CAST(16 + doc_id % 7 AS BIGINT) AS h,
           {_MM_BLOCKS_HEX} AS bh
    FROM documents
)
SELECT doc_id, CAST(f.f AS BIGINT) AS frame_idx,
       upper(substr(bh, CAST(2 * f.f * w AS BIGINT) + 1,
                    CAST(2 * w AS BIGINT))) AS frame_hex
FROM img, generate_series(0, 21, 2) AS f(f)  -- h <= 16 + 6 = 22
WHERE f.f < h
"""


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (byte-pair encoding, Sennrich 2016)

_BPE_MERGES = 8  # merge rounds in the gate row (plan depth doubles/round)


def _bpe_words(docs: DataFrame) -> DataFrame:
    """(word, cnt, sp): the corpus word-frequency table with each word
    in delimited-spaced form ``/c/h/a/r/`` — the classic BPE training
    input (Sennrich/Haddow/Birch ACL'16 train on the word-count dict,
    not the raw corpus, which is what makes the per-round cost
    O(vocabulary), not O(corpus))."""
    w = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return w.withColumn(
        "sp",
        F.concat(
            F.lit("/"), F.array_join(F.split(F.col("word"), ""), "/"),
            F.lit("/"),
        ),
    )


def _bpe_pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the spaced vocabulary, weighted by
    word frequency: ONE explode + one partial-agg groupBy per round."""
    a = F.filter(F.split(F.col("sp"), "/"), lambda x: x != "")
    pairs = F.explode(
        F.expr(
            "transform(slice(filter(split(sp, '/'), x -> x <> ''), 1, "
            "greatest(size(filter(split(sp, '/'), x -> x <> '')) - 1, 0)), "
            "(x, i) -> concat(x, '/', element_at("
            "filter(split(sp, '/'), x2 -> x2 <> ''), i + 2)))"
        )
    )
    del a
    return (
        state.select(F.col("cnt"), pairs.alias("pair"))
        .groupBy("pair")
        .agg(F.sum("cnt").alias("c"))
    )


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE tokenizer training — the real algorithm every
    LLM tokenizer pipeline runs (Sennrich 2016; GPT-2/LLaMA-style
    byte-level variants differ only in the alphabet): iteratively find
    the most frequent adjacent symbol pair in the word-frequency
    vocabulary and merge it, 8 rounds, emitting the merge table
    (step, pair, new_token, pair_count).

    Spark-first shape: the vocabulary (word, cnt, spaced) is the only
    distributed state; each round is one explode + partial-agg
    groupBy (pair counts), a 1-ROW argmax collect (tie-broken count
    DESC then pair ASC so both engines agree), and a literal string
    replace applying the merge.  At 100 TB the word-count table is
    ~vocabulary-sized (tens of millions of rows, not corpus-sized),
    which is exactly why classic BPE trains on the frequency dict.

    The per-round argmax is a BOUNDED driver collect — one row per
    round: iterative algorithms checkpoint their O(1) control state on
    the driver while all data-sized work stays distributed.  (A fully
    lazy formulation exists but its plan tree doubles per round —
    measured 7 s of plan build + 15 s of repeated subtree execution at
    sf0.1 vs ~3 s for this form.)"""
    docs = _spread_docs(spark, sf_dir)
    rows = _bpe_train_merges(docs)
    return spark.createDataFrame(
        rows, "step long, pair string, new_token string, pair_count long"
    )


def _bpe_train_merges(docs: DataFrame) -> list:
    """The training loop over ANY corpus DF (shared by ``bpe_train``,
    ``bpe_encode`` and the curation-v3 composition): returns
    [(step, pair, new_token, pair_count)]."""
    state = _bpe_words(docs).persist()
    prev = None
    rows = []
    for r in range(_BPE_MERGES):
        top = (
            _bpe_pair_counts(state)
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(
                "BPE training corpus has no token pairs (empty corpus, "
                "or every upstream stage filtered it out) — cannot "
                f"train merge round {r}/{_BPE_MERGES}"
            )
        best = top[0]
        # the argmax just materialized ``state`` from ``prev``'s cache,
        # so the superseded round can drop now — live persisted state
        # stays bounded at <=2 vocab-sized DFs regardless of merge count
        if prev is not None:
            prev.unpersist()
        rows.append(
            (r, best.pair, best.pair.replace("/", ""), int(best.c))
        )
        patt = F.lit("/" + best.pair + "/")
        repl = F.lit("/" + best.pair.replace("/", "") + "/")
        prev = state
        state = state.select(
            "word",
            "cnt",
            F.replace(F.replace(F.col("sp"), patt, repl), patt, repl)
            .alias("sp"),
        ).persist()
    if prev is not None:
        prev.unpersist()
    state.unpersist()
    return rows


def _bpe_sql(k: int, corpus: str = "documents") -> str:
    # Every w/p/b CTE is multi-referenced (each round reads the prior
    # round; the final union reads every b) — MATERIALIZED stops
    # DuckDB from inlining the chain, which re-evaluates the corpus
    # subtree exponentially when that corpus is itself a heavy CTE
    # (the curate-v3 composition hung for minutes without this)
    ctes = [f"""w0 AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS cnt,
           '/' || array_to_string(list_transform(
               generate_series(1, len(word)), i -> word[i]), '/') || '/'
               AS sp
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
          FROM {corpus})
    WHERE len(word) >= 2 GROUP BY word)"""]
    for r in range(k):
        ctes.append(f"""p{r} AS MATERIALIZED (
    SELECT pair, sum(cnt) AS c FROM (
        SELECT cnt, unnest(list_transform(generate_series(1, len(a) - 1),
                     i -> a[i] || '/' || a[i+1])) AS pair
        FROM (SELECT cnt,
                     list_filter(string_split(sp, '/'), x -> x <> '') AS a
              FROM w{r})
    ) GROUP BY pair)""")
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT pair, c FROM p{r} "
            f"ORDER BY c DESC, pair ASC LIMIT 1)"
        )
        ctes.append(f"""w{r + 1} AS MATERIALIZED (
    SELECT word, cnt,
           replace(replace(sp,
               '/' || b.pair || '/', '/' || replace(b.pair, '/', '') || '/'),
               '/' || b.pair || '/', '/' || replace(b.pair, '/', '') || '/')
               AS sp
    FROM w{r}, b{r} b)""")
    unions = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS step, pair, "
        f"replace(pair, '/', '') AS new_token, "
        f"CAST(c AS BIGINT) AS pair_count FROM b{r}"
        for r in range(k)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges to the corpus — the tokenizer's
    ENCODE side: every document's words are char-spaced, the 8 learned
    merges replay in training order (same two-pass leftmost-greedy
    replace), and the row reports the doc's post-merge token count and
    the md5 of its encoded token stream (tokens space-joined, words
    '|'-joined).  The oracle re-derives the merge table itself and
    replays the same chain, so the hash checks BOTH training and
    application.

    Scale shape: training cost is vocabulary-sized (see
    ``bpe_train``); encoding is one scan over the corpus with a chain
    of 16 literal string replaces inside whole-stage codegen — exactly
    how a production pipeline tokenizes 100 TB with a frozen merge
    table."""
    docs = _spread_docs(spark, sf_dir)
    merges = [(m[1], m[2]) for m in _bpe_train_merges(docs)]
    enc_doc = _bpe_apply_doc_expr_spark(merges)
    return docs.select(
        "doc_id",
        F.expr(
            f"CAST(size(split({enc_doc}, '[ |]')) AS BIGINT)"
        ).alias("n_tokens"),
        F.expr(f"md5({enc_doc})").alias("encoded_md5"),
    )


def _bpe_apply_doc_expr_spark(merges: list) -> str:
    """Spark-SQL expression encoding a doc's ``text`` with literal
    learned merges (the frozen-tokenizer form)."""
    expr = "concat('/', array_join(split(x, ''), '/'), '/')"
    for pair, tok in merges:
        patt = f"'/{pair}/'"
        repl = f"'/{tok}/'"
        expr = f"replace(replace({expr}, {patt}, {repl}), {patt}, {repl})"
    enc_word = f"array_join(filter(split({expr}, '/'), t -> t <> ''), ' ')"
    return ("array_join(transform(split(lower(text), ' '), "
            f"x -> {enc_word}), '|')")


def _bpe_apply_doc_expr(k: int) -> str:
    """DuckDB expression encoding a doc's ``text`` with the b0..b{k-1}
    merge CTEs in scope (words '|'-joined, tokens space-joined)."""
    expr = ("'/' || array_to_string(list_transform("
            "generate_series(1, len(x)), i -> x[i]), '/') || '/'")
    for r in range(k):
        patt = f"'/' || b{r}.pair || '/'"
        repl = f"'/' || replace(b{r}.pair, '/', '') || '/'"
        expr = (f"replace(replace({expr}, {patt}, {repl}), {patt}, {repl})")
    enc_word = (f"array_to_string(list_filter(string_split({expr}, '/'), "
                "t -> t <> ''), ' ')")
    return ("array_to_string(list_transform("
            "string_split(lower(text), ' '), "
            f"x -> {enc_word}), '|')")


def _bpe_encode_sql(k: int) -> str:
    # reuse the training SQL's CTE prefix (everything before the final
    # union of merge rows), then append the per-doc apply
    train = _bpe_sql(k)
    prefix = train.split("\nSELECT CAST(0")[0]
    enc_doc = _bpe_apply_doc_expr(k)
    froms = ", ".join(f"b{r}" for r in range(k))
    return f"""{prefix}
SELECT doc_id,
       CAST(len(string_split_regex({enc_doc}, '[ |]')) AS BIGINT)
           AS n_tokens,
       md5({enc_doc}) AS encoded_md5
FROM documents, {froms}
"""


def pipeline_curate_v3(
    spark: SparkSession, sf_dir: str, nb_filter: bool = False
) -> DataFrame:
    """Curation manifest v3 — the COMPLETE pretraining data story in
    one gate row: run the six-stage curation pass (quality ->
    repetition -> PII scrub -> decontam -> exact dedup -> temperature
    mixture, ``curate_v2``), then train the BPE tokenizer ON THE
    CURATED SURVIVORS (training the tokenizer on cleaned data is
    standard practice — boilerplate and contamination would otherwise
    dominate the merges), encode the survivors with it, and report the
    number a pretraining run actually asks for: TOKENS PER SOURCE in
    the final mixture.

    ``nb_filter=True`` prepends the model-based quality stage
    (``nb_quality_filter``: seed-trained hashed-token classifier,
    broadcast-scored) before the heuristic pass — the modern pipeline
    ordering (DCLM/FineWeb-Edu run the classifier alongside the
    heuristics).  Off by default so the oracle-gated output is the
    audited six-stage chain.

    The oracle replays the entire chain — all curation CTEs, the 8
    BPE training rounds re-derived over the curated corpus, and the
    encode — so the hash checks the full composition end to end.

    Scale shape: curation is the audited curate_v2 plan; BPE training
    is vocabulary-sized with bounded 1-row argmax collects; the final
    accounting is one scan over survivors with 16 literal replaces in
    codegen and a partial-agg groupBy on source.

    Oracle-independence class C for the BPE half (suite/__init__
    taxonomy; the curation half is class A-minus): the BPE recurrence
    is cross-checked against a pure-python trainer in
    tests/test_pipeline_suite.py (test_bpe_train_matches_pure_python_reference)."""
    docs = _spread_docs(spark, sf_dir)
    if nb_filter:
        docs = nb_quality_filter(docs)
    kept = curate_v2(docs, _CURATE2_TARGET).select("doc_id", "source")
    # localCheckpoint TRUNCATES the curate lineage: without it the
    # six-stage expression tree re-inlines into every BPE word/pair
    # lambda (the collapse-projection blowup documented in the verify
    # skill) and the driver OOMs building plan strings.  The
    # checkpointed corpus is mixture-target-sized (~120 rows), and this
    # builder is already an eager one (bounded argmax collects).
    corpus = kept.join(docs.select("doc_id", "text"), "doc_id").localCheckpoint()
    merges = [(m[1], m[2]) for m in _bpe_train_merges(corpus)]
    enc_doc = _bpe_apply_doc_expr_spark(merges)
    return (
        corpus.select(
            "source",
            F.expr(
                f"CAST(size(split({enc_doc}, '[ |]')) AS BIGINT)"
            ).alias("nt"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
        )
    )


def _curate_v3_sql() -> str:
    # curation CTE prefix: everything before curate_v2's final SELECT
    head, _, final_sel = _CURATE2_SQL.rpartition("\nSELECT doc_id, lang")
    final_sel = "SELECT doc_id, lang" + final_sel
    # BPE CTEs over the curated corpus (strip the leading "WITH ")
    bpe = _bpe_sql(_BPE_MERGES, "corpus")
    bpe_ctes = bpe.split("\nSELECT CAST(0")[0][len("WITH "):]
    enc_doc = _bpe_apply_doc_expr(_BPE_MERGES)
    froms = ", ".join(f"b{r}" for r in range(_BPE_MERGES))
    return f"""{head},
final AS MATERIALIZED ({final_sel}),
corpus AS MATERIALIZED (
    SELECT f.source, d.doc_id, d.text
    FROM final f JOIN documents d USING (doc_id)
),
{bpe_ctes}
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split_regex({enc_doc}, '[ |]'))) AS BIGINT)
           AS total_tokens
FROM corpus, {froms}
GROUP BY source
"""


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (cluster-blocked embedding near-dup)

_SEM_COPY_OFF = 1 << 20  # planted near-dup ids live above every real vec_id
_SEM_THRESH = 0.99


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-shape (Abbas et al. 2023, arXiv
    2303.09540): cluster the embedding space with a cheap coarse
    quantizer, then search for near-duplicate pairs ONLY within each
    cluster — the cluster blocking is what makes semantic dedup
    tractable at corpus scale (within-cluster pairwise is ~N*sqrt(N)
    with sqrt(N) clusters, never all-pairs N^2).

    The synthetic embeddings have no organic near-dups (measured max
    pairwise cosine 0.52 at sf0.1), so near-duplicates are PLANTED
    in-plan: every 10th vector gets a copy (vec_id + 2^20) with its
    second component scaled by 1.01 — cosine ~0.9998 to its source.
    The pipeline must then (a) assign the copy to its source's cluster
    and (b) surface exactly the planted pairs at the 0.99 threshold;
    the oracle replays the planting, so the hash match validates the
    full cluster-block-verify machinery on genuine near-dups.  (Known
    SemDeDup caveat, accepted by the paper and pinned by the 20k-vector
    scale test: a source sitting ON a cluster boundary and its copy can
    assign to different centroids — recall is ~99.75% there, never
    below 99.5%, with zero false positives.)

    Coarse quantizer: stride = floor(sqrt(N_base)) derived in-plan
    (broadcast 1-row agg, same pattern as ``sim_ivf_topk``); centroids
    come from the BASE corpus only (dup copies must not become
    centroids).  All similarity arithmetic is the suite's exact
    quantized-BIGINT cosine.  Scale shape: broadcast sqrt(N) centroid
    table, assignment N x sqrt(N), within-cluster self-join shuffles on
    cent_id with ~sqrt(N) list sizes — the classic SemDeDup cost."""
    from wrf_to_geodataframe_spark.functions.vectors import (
        as_double_vec,
        cosine_from_q,
        dot_q,
        norm_q,
    )

    base = _spread_embeddings(spark, sf_dir).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("e")
    )
    copies = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(_SEM_COPY_OFF)).alias("vec_id"),
        F.transform(
            F.col("e"), lambda x, i: F.when(i == 1, x * F.lit(1.01)).otherwise(x)
        ).alias("e"),
    )
    aug = track_persist(
        base.unionByName(copies).withColumn("nq", norm_q(F.col("e")))
    )
    stride = base.agg(
        F.greatest(F.floor(F.sqrt(F.count("*"))).cast("long"), F.lit(1)).alias("s")
    )
    cents = (
        aug.filter(F.col("vec_id") < _SEM_COPY_OFF)
        .crossJoin(F.broadcast(stride))
        .filter(F.col("vec_id") % F.col("s") == 0)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("e").alias("ce"),
            F.col("nq").alias("cnq"),
        )
    )
    scored = aug.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        cosine_from_q(
            dot_q(F.col("e"), F.col("ce")), F.col("nq"), F.col("cnq")
        ).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    assign = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "cent_id")
    )
    pa, pb = assign.alias("pa"), assign.alias("pb")
    pairs = pa.join(
        pb,
        (F.col("pa.cent_id") == F.col("pb.cent_id"))
        & (F.col("pa.vec_id") < F.col("pb.vec_id")),
    ).select(
        F.col("pa.cent_id").alias("cent_id"),
        F.col("pa.vec_id").alias("va"),
        F.col("pb.vec_id").alias("vb"),
    )
    xa = aug.select(
        F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("nq").alias("na")
    )
    xb = aug.select(
        F.col("vec_id").alias("vb"), F.col("e").alias("eb"), F.col("nq").alias("nb")
    )
    return (
        pairs.join(xa, "va")
        .join(xb, "vb")
        .select(
            "cent_id",
            F.col("va").alias("keeper_vec"),
            F.col("vb").alias("removed_vec"),
            cosine_from_q(
                dot_q(F.col("ea"), F.col("eb")), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SEM_THRESH)
    )


_SEM_AUG_SQL = f"""
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    UNION ALL
    SELECT vec_id + {_SEM_COPY_OFF} AS vec_id,
           list_transform(generate_series(1, len(embedding)),
               i -> CASE WHEN i = 2 THEN CAST(embedding[i] AS DOUBLE) * 1.01
                         ELSE CAST(embedding[i] AS DOUBLE) END) AS e
    FROM embeddings WHERE vec_id % 10 = 0
"""

_SEMANTIC_SQL = f"""
WITH aug AS ({_SEM_AUG_SQL}),
norms AS (
    SELECT vec_id, {{dot_ee}} AS nq FROM aug
),
stride AS (
    SELECT GREATEST(CAST(floor(sqrt(count(*))) AS BIGINT), 1) AS s
    FROM embeddings
),
cents AS (
    SELECT vec_id AS cent_id, e AS ce, nq AS cnq
    FROM aug JOIN norms USING (vec_id) CROSS JOIN stride
    WHERE vec_id < {_SEM_COPY_OFF} AND vec_id % s = 0
),
scored AS (
    SELECT a.vec_id, c.cent_id,
           CAST({{dot_ec}} AS DOUBLE)
               / sqrt(CAST(n.nq AS DOUBLE) * CAST(c.cnq AS DOUBLE)) AS ccos
    FROM aug a JOIN norms n USING (vec_id) CROSS JOIN cents c
),
assign AS (
    SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cent_id) AS r
        FROM scored
    ) WHERE r = 1
),
pairs AS (
    SELECT a.cent_id, a.vec_id AS va, b.vec_id AS vb
    FROM assign a JOIN assign b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
)
SELECT p.cent_id,
       p.va AS keeper_vec,
       p.vb AS removed_vec,
       CAST({{dot_ab}} AS DOUBLE)
           / sqrt(CAST(nx.nq AS DOUBLE) * CAST(ny.nq AS DOUBLE)) AS cosine
FROM pairs p
JOIN aug x ON p.va = x.vec_id
JOIN aug y ON p.vb = y.vec_id
JOIN norms nx ON p.va = nx.vec_id
JOIN norms ny ON p.vb = ny.vec_id
WHERE CAST({{dot_ab}} AS DOUBLE)
          / sqrt(CAST(nx.nq AS DOUBLE) * CAST(ny.nq AS DOUBLE)) >= {_SEM_THRESH}
"""


def _semantic_sql() -> str:
    return _SEMANTIC_SQL.format(
        dot_ee=_DOT_SQL.format(a="e", b="e"),
        dot_ec=_DOT_SQL.format(a="a.e", b="c.ce"),
        dot_ab=_DOT_SQL.format(a="x.e", b="y.e"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup (web-crawl curation stage)


def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first stage of every
    web-crawl curation pipeline: normalize each document's source URL
    (lowercase scheme/host, strip default ports, drop fragments, drop
    tracking query params, sort the surviving params) and deduplicate
    documents whose URLs collapse to the same canonical form.

    The synthetic corpus has no URL column, so URLs are PLANTED
    deterministically in-plan (same discipline as ``text_scrub_pii``):
    each doc_id derives a URL whose case, default port, param order,
    tracking params, and fragment all vary with doc_id in ways that
    canonicalization must erase — the surviving identity is
    (host = doc_id%3, path = doc_id%50, id param = doc_id%25), so
    genuine collisions exist and the hash match exercises every
    normalization rule, not a vacuous identity map.

    Canonicalization lives in ``functions/urls.canonical_url``.

    Scale shape: pure JVM string/array expressions inside whole-stage
    codegen (regexp_extract / split / filter / array_sort — no Python),
    one scan, and a single groupBy shuffle on the canonical-URL key.
    At 100 TB the canonical key is high-cardinality (near one group per
    page), so the partial aggregate collapses dupes map-side and the
    shuffle carries ~unique-URL rows only."""
    # no scan spread here (r18): this query's map-side work is light and
    # its first real operation is already an exchange, so the r17 spread
    # was pure overhead at bench scale (driver-confirmed regression,
    # VERDICT r17 item 1) and a no-op at archive scale either way
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.expr(
            """
            CASE WHEN doc_id % 2 = 0
                 THEN 'HTTPS://WWW.SITE' || CAST(doc_id % 3 AS STRING) || '.COM'
                 ELSE 'https://www.site' || CAST(doc_id % 3 AS STRING) || '.com'
            END
            || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
            || '/Docs/Page-' || CAST(doc_id % 50 AS STRING)
            || '?' ||
            CASE WHEN doc_id % 3 = 0
                 THEN CASE WHEN doc_id % 2 = 0 THEN 'utm_source=feed&' ELSE '' END
                      || CASE WHEN doc_id % 5 = 0 THEN 'ref=rss&' ELSE '' END
                      || 'id=' || CAST(doc_id % 25 AS STRING)
                 ELSE 'id=' || CAST(doc_id % 25 AS STRING)
                      || CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed' ELSE '' END
                      || CASE WHEN doc_id % 5 = 0 THEN '&ref=rss' ELSE '' END
            END
            || CASE WHEN doc_id % 7 = 0
                    THEN '#Section-' || CAST(doc_id AS STRING) ELSE '' END
            """
        ).alias("url"),
    )
    from wrf_to_geodataframe_spark.functions.urls import canonical_url

    canon = raw.select(
        "doc_id", canonical_url(F.col("url")).alias("canon_url")
    )
    return canon.groupBy("canon_url").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("keeper_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_URL_PLANT_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN 'HTTPS://WWW.SITE' || CAST(doc_id % 3 AS VARCHAR) || '.COM'
                ELSE 'https://www.site' || CAST(doc_id % 3 AS VARCHAR) || '.com'
           END
           || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
           || '/Docs/Page-' || CAST(doc_id % 50 AS VARCHAR)
           || '?' ||
           CASE WHEN doc_id % 3 = 0
                THEN CASE WHEN doc_id % 2 = 0 THEN 'utm_source=feed&' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN 'ref=rss&' ELSE '' END
                     || 'id=' || CAST(doc_id % 25 AS VARCHAR)
                ELSE 'id=' || CAST(doc_id % 25 AS VARCHAR)
                     || CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN '&ref=rss' ELSE '' END
           END
           || CASE WHEN doc_id % 7 = 0
                   THEN '#Section-' || CAST(doc_id AS VARCHAR) ELSE '' END AS url
    FROM documents
"""

_URL_QS_SQL = """array_to_string(list_sort(list_filter(string_split(q, '&'),
    x -> substr(x, 1, 4) <> 'utm_' AND substr(x, 1, 4) <> 'ref='
         AND x <> '')), '&')"""

_URL_DEDUP_SQL = f"""
WITH raw AS ({_URL_PLANT_SQL}),
nofrag AS (
    SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM raw
),
parts AS (
    SELECT doc_id, url,
           lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
           lower(regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1)) AS h,
           regexp_extract(u, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1) AS p,
           regexp_extract(u, '\\?([^#]*)', 1) AS q
    FROM nofrag
),
canon AS (
    SELECT doc_id,
           CASE WHEN scheme = '' THEN url ELSE
           scheme || '://'
           || CASE WHEN scheme = 'https'
                   THEN regexp_replace(h, ':443$', '')
                   WHEN scheme = 'http'
                   THEN regexp_replace(h, ':80$', '')
                   ELSE h END
           || CASE WHEN p = '' THEN '/' ELSE p END
           || CASE WHEN {_URL_QS_SQL} = '' THEN ''
                   ELSE '?' || {_URL_QS_SQL} END END AS canon_url
    FROM parts
)
SELECT canon_url,
       count(*) AS n_docs,
       min(doc_id) AS keeper_doc,
       max(doc_id) AS last_doc
FROM canon
GROUP BY canon_url
"""


_SUBSTR_K = 8  # duplicated-substring window length (tokens)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup accounting (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" shape,
    the 13th dedup method): find every ``_SUBSTR_K``-token window that
    occurs MORE THAN ONCE anywhere in the corpus, union the duplicated
    windows into per-document SPANS, and report per doc how many
    tokens sit inside duplicated spans — the removal manifest an
    exact-substring scrubber consumes.

    Spark-first shape, fully declarative (no UDFs):
      1. one tokenize scan explodes every positioned window with its
         60-bit hash (rows ~ total corpus tokens — the shingle-index
         cost class);
      2. corpus-wide occurrence counts are one partial-agg groupBy on
         the hash (map-side combine crushes repeats), and windows keep
         only hashes with count >= 2 via an equi join (one row per
         hash on the build side after the agg — no fan-out, so no df
         cap is needed, unlike candidate-PAIR generators);
      3. the interval union is the classic gaps-and-islands plan: a
         running max-end window per doc marks island starts, a running
         sum numbers islands, and one aggregate sums island lengths.
    All counts are integers, so the result is bit-stable under any
    partitioning; the oracle replays the same logic as SQL window
    functions over DuckDB."""
    docs = _spread_docs(spark, sf_dir)
    toked, islands = _substr_islands(docs)
    per_doc = (
        islands.groupBy("doc_id", "n_tokens", "island")
        .agg((F.max("end") - F.min("start")).alias("span_len"))
        .groupBy("doc_id", "n_tokens")
        .agg(F.sum("span_len").alias("dup_tokens"))
    )
    base = toked.select("doc_id", "n_tokens")
    return base.join(per_doc, ["doc_id", "n_tokens"], "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.expr(
            "CAST(coalesce(dup_tokens, 0) * 1000000 AS BIGINT)"
            " div greatest(n_tokens, CAST(1 AS BIGINT))"
        ).alias("dup_ppm"),
    )


def _substr_islands(docs: DataFrame):
    """Shared core of the Lee-et-al exact-substring pair: tokenize,
    explode every positioned K-token window with its 60-bit hash,
    keep windows whose hash occurs >= 2 times corpus-wide (partial-agg
    groupBy + equi join), and mark the gaps-and-islands structure.
    -> (toked (doc_id, n_tokens, toks), islands (doc_id, n_tokens,
    start, end, island))."""
    toked = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.col("toks"),
    )
    wins = toked.select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            F.when(
                F.size("toks") >= _SUBSTR_K,
                F.expr(
                    f"transform(sequence(0, size(toks) - {_SUBSTR_K}), "
                    f"i -> concat_ws(' ', slice(toks, i + 1, {_SUBSTR_K})))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "s"),
    ).select("doc_id", "n_tokens", "pos", hash60(F.col("s")).alias("hs"))
    # wins feeds BOTH the occurrence-count build side and the probe —
    # persist once (corpus-token-sized, sequential-scan-only, so
    # DISK_ONLY: the decontam raw-shingle discipline)
    from pyspark import StorageLevel

    wins = wins.persist(StorageLevel.DISK_ONLY)
    counts = wins.groupBy("hs").agg(F.count(F.lit(1)).alias("cnt"))
    dup = wins.join(counts.filter(F.col("cnt") >= 2), "hs").select(
        "doc_id", "n_tokens",
        F.col("pos").alias("start"),
        (F.col("pos") + _SUBSTR_K).alias("end"),
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup.withColumn(
        "new_island",
        F.when(
            prev_max.isNull() | (F.col("start") > prev_max), 1
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    return toked, islands


def text_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the exact-substring span manifest: the scrubber stage
    that consumes what ``dedup_substring_spans`` reports.  Every token
    inside a duplicated span (a merged island of K-token windows that
    occur >= 2 times corpus-wide) is removed; the output is the
    scrubbed text plus the kept-token accounting — the Lee et al. 2022
    pipeline's actual data-mutation step, not just its report.

    Spark-first: islands merge in the shared gaps-and-islands plan
    (``_substr_islands``), collapse to one interval ARRAY per doc
    (small: islands per doc, not tokens), broadcast-join back to the
    token arrays, and the token filter is a nested HOF — ``filter``
    over ``transform`` with an ``exists`` span probe — entirely inside
    codegen, no UDFs, no extra shuffle beyond the span agg."""
    docs = _spread_docs(spark, sf_dir)
    toked, islands = _substr_islands(docs)
    spans = (
        islands.groupBy("doc_id", "island")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("s"), F.col("e")))
            ).alias("spans")
        )
    )
    joined = toked.join(spans, "doc_id", "left")
    kept = F.expr(
        "filter(transform(toks, (t, i) -> "
        "IF(spans IS NOT NULL AND exists(spans, sp -> i >= sp.s AND i < sp.e), "
        "CAST(NULL AS STRING), t)), x -> x IS NOT NULL)"
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        F.size(kept).cast("long").alias("kept_tokens"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


_SCRUB_SQL = f"""
WITH toked AS (
    SELECT doc_id, string_split(text, ' ') AS w,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
wins AS (
    SELECT doc_id, i - 1 AS start,
           CAST(('0x' || substr(md5(
               array_to_string(w[i : i + {_SUBSTR_K - 1}], ' ')
           ), 1, 15)) AS BIGINT) AS hs
    FROM (
        SELECT doc_id, w,
               unnest(generate_series(1, len(w) - {_SUBSTR_K - 1})) AS i
        FROM toked WHERE len(w) >= {_SUBSTR_K}
    )
),
counts AS (
    SELECT hs FROM wins GROUP BY hs HAVING count(*) >= 2
),
dup AS (
    SELECT doc_id, start, start + {_SUBSTR_K} AS "end"
    FROM wins JOIN counts USING (hs)
),
marked AS (
    SELECT doc_id, start, "end",
           CASE WHEN max("end") OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                 OR start > max("end") OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) THEN 1 ELSE 0 END AS new_island
    FROM dup
),
islands AS (
    SELECT doc_id, start, "end",
           sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS island
    FROM marked
),
merged AS (
    SELECT doc_id, min(start) AS s, max("end") AS e
    FROM islands GROUP BY doc_id, island
),
tok_rows AS (
    SELECT doc_id, n_tokens, i, w[i] AS t
    FROM (SELECT doc_id, n_tokens, w,
                 unnest(generate_series(1, len(w))) AS i
          FROM toked)
),
kept AS (
    SELECT tr.doc_id, tr.n_tokens, tr.i, tr.t
    FROM tok_rows tr
    WHERE NOT EXISTS (
        SELECT 1 FROM merged m
        WHERE m.doc_id = tr.doc_id
          AND tr.i - 1 >= m.s AND tr.i - 1 < m.e
    )
),
agg AS (
    SELECT doc_id, any_value(n_tokens) AS n_tokens,
           CAST(count(*) AS BIGINT) AS kept_tokens,
           string_agg(t, ' ' ORDER BY i) AS clean_text
    FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       coalesce(a.kept_tokens, 0) AS kept_tokens,
       coalesce(a.clean_text, '') AS clean_text
FROM (SELECT doc_id, n_tokens FROM toked) t
LEFT JOIN agg a USING (doc_id)
"""


_SUBSTR_SQL = f"""
WITH toked AS (
    SELECT doc_id, string_split(text, ' ') AS w,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
wins AS (
    SELECT doc_id, n_tokens, i - 1 AS start,
           CAST(('0x' || substr(md5(
               array_to_string(w[i : i + {_SUBSTR_K - 1}], ' ')
           ), 1, 15)) AS BIGINT) AS hs
    FROM (
        SELECT doc_id, n_tokens, w,
               unnest(generate_series(1, len(w) - {_SUBSTR_K - 1})) AS i
        FROM toked WHERE len(w) >= {_SUBSTR_K}
    )
),
counts AS (
    SELECT hs FROM wins GROUP BY hs HAVING count(*) >= 2
),
dup AS (
    SELECT doc_id, n_tokens, start, start + {_SUBSTR_K} AS "end"
    FROM wins JOIN counts USING (hs)
),
marked AS (
    SELECT doc_id, n_tokens, start, "end",
           CASE WHEN max("end") OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                 OR start > max("end") OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) THEN 1 ELSE 0 END AS new_island
    FROM dup
),
islands AS (
    SELECT doc_id, n_tokens, start, "end",
           sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS island
    FROM marked
),
per_doc AS (
    SELECT doc_id, n_tokens, CAST(sum(span_len) AS BIGINT) AS dup_tokens
    FROM (
        SELECT doc_id, n_tokens, island,
               max("end") - min(start) AS span_len
        FROM islands GROUP BY doc_id, n_tokens, island
    ) GROUP BY doc_id, n_tokens
)
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(p.dup_tokens, 0) * 1000000
            // greatest(b.n_tokens, 1) AS BIGINT) AS dup_ppm
FROM (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents) b
LEFT JOIN per_doc p ON b.doc_id = p.doc_id
"""


def dedup_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE NEAR-DUP DETECTION (the multimodal sibling of the text
    dedup family): every doc gets a deterministic 16x16 grayscale
    image — docs with ``doc_id % 10 == 1`` are NEAR-COPIES of their
    predecessor (same md5-chain pixels, one pixel perturbed +3) — the
    images go through a REAL PNG encode/decode round trip
    (sources/png.py, Arrow kernels), an integer-exact average-hash is
    computed from the DECODED pixels (8x8 block sums thresholded
    against the global mean: bit = 64*block_sum >= total), and pairs
    within Hamming distance 2 are reported.

    Scale shape: candidates come from a BANDED equi self-join on the
    hash's eight 8-bit bands — Hamming <= 2 leaves >= 6 of 8 bands
    identical, so banding is EXACT for the reported radius (never
    all-pairs); verification is a codegen zip_with/bit_count fold.
    The oracle restates the whole chain analytically from the md5
    pixels (encode-decode is identity), so the gate validates the
    codec round trip AND the hash/banding arithmetic."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        decode_images,
        encode_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # synthesis expressions as ONE SQL string each (r18): building the
    # 16-block md5 chain through the Column API costs hundreds of py4j
    # round trips — measured 1.6 s of pure driver-side plan
    # CONSTRUCTION per call; a single F.expr parses JVM-side in one
    # call.  Identical expression semantics, oracle-pinned.
    fam = (
        "CAST(CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 "
        "ELSE doc_id END AS STRING)"
    )
    blocks = F.expr(
        "concat("
        + ", ".join(
            f"unhex(md5(concat({fam}, ':{b}')))"
            for b in range(16)  # 16 blocks x 16 bytes = 256 px
        )
        + ")"
    )
    p0p = F.expr(
        f"(CAST(conv(substring(md5(concat({fam}, ':0')), 1, 2), 16, 10)"
        " AS INT)"
        " + (CASE WHEN doc_id % 10 = 1 THEN 3 ELSE 0 END)) % 256"
    )
    base = docs.select(
        "doc_id",
        F.lit(16).cast("long").alias("width"),
        F.lit(16).cast("long").alias("height"),
        blocks.alias("_blocks"),
        p0p.alias("_p0"),
    ).select(
        "doc_id",
        "width",
        "height",
        F.concat(
            F.unhex(F.lpad(F.hex(F.col("_p0")), 2, "0")),
            F.expr("substring(_blocks, 2, 255)"),
        ).alias("pixels"),
    )
    decoded = decode_images(encode_images(base))

    def _ahash(it):
        import pandas as pd

        from wrf_to_geodataframe_spark.operators.multimodal import (
            ahash_bands,
        )

        for pdf in it:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"),
                 "bands": ahash_bands(pdf["pixels"]).tolist()}
            )

    # the (doc_id, bands) table is tiny (8 longs/doc) but its lineage
    # is the whole PNG encode/decode chain: persist it so the banded
    # SELF-join's two branches don't each re-run the codecs (PythonMap
    # subtrees never canonicalize equal, so exchange reuse can't help —
    # the repo-wide self-join rule; bench clears caches between queries)
    h = track_persist(decoded.select("doc_id", "pixels").mapInPandas(
        _ahash, "doc_id long, bands array<long>"
    ))
    return ahash_neardup_pairs(h)


def ahash_neardup_pairs(h: DataFrame, max_hamming: int = 2) -> DataFrame:
    """(doc_a, doc_b, hamming): all pairs within ``max_hamming`` of the
    64-bit aHash, from a (doc_id, bands array<long>) table — the banded
    self-join core of ``dedup_image_ahash``, factored out so the
    adversarial skew tests can feed it a hand-built hash table.

    Banding is EXACT for max_hamming <= 2 (>= 6 of 8 bands stay
    identical); callers asking for a larger radius get a loud error
    rather than silent recall loss.

    EXACT-DUPLICATE COLLAPSE before banding (the skew guard, see
    _collapse_identical): identical 64-bit hashes — the shape of a
    corpus full of byte-identical images — collapse to one
    representative; only DISTINCT hashes enter the banded self-join.
    Exactness: hash(a) == hash(rep) means hamming(a, x) ==
    hamming(rep, x) for every x, so cross-group pairs inherit the
    representative pair's distance, and within-group pairs are
    hamming 0 by construction."""
    if max_hamming > 2:
        raise ValueError(
            "8-band aHash banding is exact only for hamming <= 2; "
            f"got max_hamming={max_hamming}"
        )
    reps, cm = _collapse_identical(h, "bands")
    e = reps.select(
        "rep", "bands", F.posexplode("bands").alias("bi", "bv")
    )
    ea = e.select(
        F.col("rep").alias("ra"), F.col("bands").alias("ba"),
        F.col("bi").alias("bia"), F.col("bv").alias("va"),
    )
    eb = e.select(
        F.col("rep").alias("rb"), F.col("bands").alias("bb"),
        F.col("bi").alias("bib"), F.col("bv").alias("vb"),
    )
    rep_pairs = (
        ea.join(
            eb,
            (F.col("bia") == F.col("bib"))
            & (F.col("va") == F.col("vb"))
            & (F.col("ra") < F.col("rb")),
        )
        .groupBy("ra", "rb")
        .agg(F.first("ba").alias("ba"), F.first("bb").alias("bb"))
        .withColumn(
            "hamming",
            F.expr(
                "CAST(aggregate(zip_with(ba, bb, (x, y) -> "
                "bit_count(x ^ y)), 0, (acc, v) -> acc + v) AS BIGINT)"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("ra", "rb", "hamming")
    )
    ca = cm.select(F.col("rep").alias("ra"), F.col("doc_id").alias("ia"))
    cb = cm.select(F.col("rep").alias("rb"), F.col("doc_id").alias("ib"))
    cross = (
        rep_pairs.join(ca, "ra")
        .join(cb, "rb")
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            "hamming",
        )
    )
    within = _within_pairs(
        cm, extra=(("hamming", F.lit(0).cast("long")),)
    ).withColumnsRenamed({"da": "doc_a", "db": "doc_b"})
    return cross.unionByName(within)


_AHASH_BH = " || ".join(
    "md5(CAST(fam AS VARCHAR) || ':{b}')".format(b=b) for b in range(16)
)

_AHASH_SQL = f"""
WITH fam AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END
               AS fam,
           doc_id % 10 = 1 AS is_copy
    FROM documents
),
hx AS (
    SELECT doc_id, is_copy, {_AHASH_BH} AS bh FROM fam
),
pix AS (
    SELECT doc_id,
           list_transform(range(0, 256), i ->
               CASE WHEN i = 0 THEN
                   (CAST(('0x' || substr(bh, 1, 2)) AS BIGINT)
                    + CASE WHEN is_copy THEN 3 ELSE 0 END) % 256
               ELSE CAST(('0x' || substr(bh, 2 * i + 1, 2)) AS BIGINT)
               END) AS p
    FROM hx
),
sums AS (
    SELECT doc_id,
           list_transform(range(0, 64), j ->
               p[(2 * (j // 8)) * 16 + 2 * (j % 8) + 1]
               + p[(2 * (j // 8)) * 16 + 2 * (j % 8) + 2]
               + p[(2 * (j // 8) + 1) * 16 + 2 * (j % 8) + 1]
               + p[(2 * (j // 8) + 1) * 16 + 2 * (j % 8) + 2]) AS bs,
           list_sum(p) AS total
    FROM pix
),
bands AS (
    SELECT doc_id,
           list_transform(range(0, 8), j ->
               list_sum(list_transform(range(0, 8), k ->
                   CASE WHEN bs[j * 8 + k + 1] * 64 >= total
                   THEN (1 << k) ELSE 0 END))) AS bands
    FROM sums
)
SELECT doc_a, doc_b, hamming
FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(list_sum(list_transform(range(0, 8), j ->
               bit_count(CAST(xor(CAST(a.bands[j + 1] AS BIGINT),
                                  CAST(b.bands[j + 1] AS BIGINT))
                              AS BIGINT)))) AS BIGINT) AS hamming
    FROM bands a JOIN bands b ON a.doc_id < b.doc_id
)
WHERE hamming <= 2
"""


def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCENE-CUT DETECTION (the video-pipeline shape: frame fan-out ->
    per-frame features -> temporal window): each doc carries a 12-frame
    "video" whose content switches scene every 4 frames (md5-chain
    pixels keyed by (doc, scene), one jitter pixel per frame so
    same-scene neighbors differ slightly), frames fan out through the
    REAL ``sample_frames`` Arrow kernel, each frame gets the
    integer-exact average-hash, and a per-video lag window marks a cut
    where consecutive-frame Hamming distance >= 16 (same-scene pairs
    sit near 0; scene boundaries near 32).

    Scale shape: one fan-out kernel + one window on (doc, frame) —
    per-video state never exceeds a frame pair; the oracle replays the
    synthesis, hash, lag and threshold analytically."""
    from wrf_to_geodataframe_spark.operators.multimodal import (
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    # frame synthesis as ONE SQL string (r18): 12 frames x 17 md5
    # subtrees through the Column API cost ~1 s of driver-side plan
    # construction in py4j round trips per call; a single F.expr
    # parses JVM-side in one call.  Identical expression semantics,
    # oracle-pinned.
    def frame_sql(f: int) -> str:
        key = f"concat(CAST(doc_id AS STRING), ':{f // 4}')"
        blocks = "concat(" + ", ".join(
            f"unhex(md5(concat({key}, ':{b}')))" for b in range(16)
        ) + ")"
        p0 = (
            f"CAST(conv(substring(md5(concat({key}, ':0')), 1, 2), 16, 10)"
            " AS INT)"
        )
        return (
            f"concat(unhex(lpad(hex(({p0} + {f}) % 256), 2, '0')), "
            f"substring({blocks}, 2, 255))"
        )

    base = docs.select(
        "doc_id",
        F.lit(256).cast("long").alias("width"),   # one frame per row
        F.lit(12).cast("long").alias("height"),   # 12 frames
        F.expr(
            "concat(" + ", ".join(frame_sql(f) for f in range(12)) + ")"
        ).alias("pixels"),
    )
    frames = sample_frames(base, stride=1)

    def _ahash(it):
        import pandas as pd

        from wrf_to_geodataframe_spark.operators.multimodal import (
            ahash_bands,
        )

        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "frame_idx": pdf["frame_idx"].astype("int64"),
                "bands": ahash_bands(pdf["frame"]).tolist(),
            })

    h = frames.mapInPandas(
        _ahash, "doc_id long, frame_idx long, bands array<long>"
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    return (
        h.withColumn("pb", F.lag("bands").over(w))
        .filter(F.col("pb").isNotNull())
        .withColumn(
            "hamming",
            F.expr(
                "CAST(aggregate(zip_with(bands, pb, (x, y) -> "
                "bit_count(x ^ y)), 0, (acc, v) -> acc + v) AS BIGINT)"
            ),
        )
        .select(
            "doc_id",
            "frame_idx",
            "hamming",
            (F.col("hamming") >= 16).cast("int").alias("is_cut"),
        )
    )


_SCENE_BH = " || ".join(
    "md5(k || ':{b}')".format(b=b) for b in range(16)
)

_SCENE_SQL = f"""
WITH f AS (
    SELECT doc_id, UNNEST(range(0, 12)) AS fi FROM documents
),
ky AS (
    SELECT doc_id, fi,
           CAST(doc_id AS VARCHAR) || ':' || CAST(fi // 4 AS VARCHAR)
               AS k
    FROM f
),
hx AS (
    SELECT doc_id, fi, {_SCENE_BH} AS bh FROM ky
),
pix AS (
    SELECT doc_id, fi,
           list_transform(range(0, 256), i ->
               CASE WHEN i = 0 THEN
                   (CAST(('0x' || substr(bh, 1, 2)) AS BIGINT) + fi)
                       % 256
               ELSE CAST(('0x' || substr(bh, 2 * i + 1, 2)) AS BIGINT)
               END) AS p
    FROM hx
),
sums AS (
    SELECT doc_id, fi,
           list_transform(range(0, 64), j ->
               p[(2 * (j // 8)) * 16 + 2 * (j % 8) + 1]
               + p[(2 * (j // 8)) * 16 + 2 * (j % 8) + 2]
               + p[(2 * (j // 8) + 1) * 16 + 2 * (j % 8) + 1]
               + p[(2 * (j // 8) + 1) * 16 + 2 * (j % 8) + 2]) AS bs,
           list_sum(p) AS total
    FROM pix
),
bands AS (
    SELECT doc_id, fi,
           list_transform(range(0, 8), j ->
               list_sum(list_transform(range(0, 8), k ->
                   CASE WHEN bs[j * 8 + k + 1] * 64 >= total
                   THEN (1 << k) ELSE 0 END))) AS bands
    FROM sums
),
lagged AS (
    SELECT doc_id, fi AS frame_idx, bands,
           LAG(bands) OVER (PARTITION BY doc_id ORDER BY fi) AS pb
    FROM bands
)
SELECT doc_id, frame_idx,
       CAST(list_sum(list_transform(range(0, 8), j ->
           bit_count(CAST(xor(CAST(bands[j + 1] AS BIGINT),
                              CAST(pb[j + 1] AS BIGINT))
                          AS BIGINT)))) AS BIGINT) AS hamming,
       CAST(CAST(list_sum(list_transform(range(0, 8), j ->
           bit_count(CAST(xor(CAST(bands[j + 1] AS BIGINT),
                              CAST(pb[j + 1] AS BIGINT))
                          AS BIGINT)))) AS BIGINT) >= 16 AS INT)
           AS is_cut
FROM lagged
WHERE pb IS NOT NULL
"""


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-STYLE DOCUMENT CHUNKING (the retrieval-corpus prep step
    between curation and embedding): overlapping token windows of
    W=32 whitespace tokens at stride S=24, with a guaranteed tail
    chunk so the last tokens are always covered even when (n-W) is
    not a stride multiple.  Entirely codegen array HOFs — split once,
    generate starts with ``sequence``, slice per start — no UDFs, no
    shuffle (per-row explode only), so it streams through 100 TB of
    documents at scan speed."""
    docs = _spread_docs(spark, sf_dir)
    return chunk_tokens(docs)


def chunk_tokens(docs: DataFrame, w: int = 32, s: int = 24) -> DataFrame:
    """The chunking transform over any (doc_id, text) frame."""
    toks = tokens(F.col("text"))
    d = docs.select("doc_id", toks.alias("toks")).withColumn(
        "g", F.greatest(F.size("toks") - w, F.lit(0)).cast("bigint")
    )
    starts = F.array_distinct(
        F.concat(
            F.sequence(F.lit(0).cast("bigint"), F.col("g"), F.lit(s)),
            F.array(F.col("g")),
        )
    )
    d = d.withColumn("start", F.explode(starts))
    return d.select(
        "doc_id",
        F.col("start").alias("chunk_start"),
        F.least(
            F.lit(w).cast("bigint"),
            F.size("toks").cast("bigint") - F.col("start"),
        ).alias("n_tokens"),
        F.array_join(
            F.slice("toks", F.col("start") + 1, w), " "
        ).alias("chunk_text"),
    )


_CHUNK_SQL = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
s AS (
    SELECT doc_id, toks,
           CAST(len(toks) AS BIGINT) AS n,
           CAST(GREATEST(len(toks) - 32, 0) AS BIGINT) AS g
    FROM t
),
st AS (
    SELECT doc_id, toks, n,
           UNNEST(list_distinct(list_append(range(0, g + 1, 24), g)))
               AS start
    FROM s
)
SELECT doc_id,
       CAST(start AS BIGINT) AS chunk_start,
       CAST(LEAST(32, n - start) AS BIGINT) AS n_tokens,
       array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
FROM st
"""


def holdout_split(text_col) -> "F.Column":
    """The CONTENT-hash train/val/test assignment (``hash60(text) %
    100``: <90 train, <95 val, else test) as one codegen expression —
    the rule of the ``pipeline_split_holdout`` gate (same text => same
    bucket)."""
    from wrf_to_geodataframe_spark.functions.text import hash60

    bucket = F.pmod(hash60(text_col), F.lit(100))
    return (
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
    )


def pipeline_split_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAMINATION-SAFE train/val/test split — the holdout step
    every training pipeline runs before packing: documents are
    assigned by a bucket of the CONTENT hash (``hash60(text) % 100``:
    <90 train, <95 val, else test), not the id, so byte-identical
    copies land in the SAME split BY CONSTRUCTION — the exact-dup
    train/test leakage channel is closed without a join.  Output: one
    row per (source, split) with the doc count and total whitespace
    tokens (exact BIGINTs), plus a self-validating ``leaked_exact``
    column — the number of distinct document texts that appear in
    MORE THAN ONE split, provably 0 here (same text => same bucket)
    and a loud nonzero if the assignment rule ever drifts to an
    id-keyed form.

    Scale shape: one scan; the split expression is a codegen md5; the
    counts are one partial-aggregated groupBy on (source, split); the
    leak check is a distinct + groupBy on the content hash reduced to
    a 1-row broadcast — all uniform md5-derived keys, no skew mode."""
    from wrf_to_geodataframe_spark.functions.text import hash60, tokens

    # no scan spread here (r18): this query's map-side work is light and
    # its first real operation is already an exchange, so the r17 spread
    # was pure overhead at bench scale (driver-confirmed regression,
    # VERDICT r17 item 1) and a no-op at archive scale either way
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        holdout_split(F.col("text")).alias("split"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
        hash60(F.col("text")).alias("_h"),
    )
    leak = (
        d.select("_h", "split")
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_ns"))
        .agg(
            F.coalesce(
                F.sum((F.col("_ns") > 1).cast("long")), F.lit(0)
            ).cast("long").alias("leaked_exact")
        )
    )
    return (
        d.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_toks"),
        )
        .crossJoin(F.broadcast(leak))
    )


_SPLIT_HOLDOUT_SQL = """
WITH d AS (
    SELECT source,
           CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                     % 100 < 90 THEN 'train'
                WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                     % 100 < 95 THEN 'val'
                ELSE 'test' END AS split,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
    FROM documents
),
leak AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS leaked_exact
    FROM (SELECT h, count(DISTINCT split) AS ns FROM d GROUP BY h)
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_toks,
       leaked_exact
FROM d, leak
GROUP BY source, split, leaked_exact
"""


def pipeline_split_neardup_safe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEAR-DUP-SAFE train/val/test split — the stronger leakage
    guarantee on top of :func:`pipeline_split_holdout`: documents are
    split by a bucket of their NEAR-DUP CLUSTER's id (MinHash-LSH
    pairs -> connected components -> the cluster minimum, the
    dedup_cluster_cc chain), so an entire near-duplicate cluster —
    not just byte-identical copies — lands in one split, closing the
    90%-identical-paraphrase train/test leakage channel.  Output: one
    row per split with the doc count, plus the self-validating
    ``leaked_neardup`` column — near-dup PAIRS whose endpoints landed
    in different splits, provably 0 (same cluster => same bucket).

    Scale shape: the minhash + CC chain's own plan discipline (banded
    equi joins, star rounds on the shrinking edge set), then one
    groupBy on the 3-value split key and a pair-sized leak join
    reduced to a 1-row broadcast.  Construction is eager like
    dedup_cluster_cc (the self-healing convergence check executes the
    persisted component map)."""
    from wrf_to_geodataframe_spark.functions.text import hash60
    from wrf_to_geodataframe_spark.operators.graph import (
        label_components,
    )

    docs = _spread_docs(spark, sf_dir)
    # localCheckpoint + assume_distinct: see dedup_cluster_cc (r17) —
    # same pair table, same 21.7k-line-plan truncation, same
    # uniqueness-by-construction argument; this builder is equally
    # eager (the convergence check executes at build).
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("da").alias("a"), F.col("db").alias("b"))
        .localCheckpoint()
    )
    labels, _unmerged = label_components(
        docs, pairs, "doc_id", rounds=2, auto_escalate=3,
        assume_distinct=True,
    )
    bucket = F.pmod(
        hash60(F.col("cluster_id").cast("string")), F.lit(100)
    )
    split = (
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
    )
    spl = track_persist(labels.select("doc_id", split.alias("split")))
    sa = spl.select(F.col("doc_id").alias("a"), F.col("split").alias("_sa"))
    sb = spl.select(F.col("doc_id").alias("b"), F.col("split").alias("_sb"))
    leak = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .agg(
            F.coalesce(
                F.sum((F.col("_sa") != F.col("_sb")).cast("long")),
                F.lit(0),
            ).cast("long").alias("leaked_neardup")
        )
    )
    return (
        spl.groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(leak))
    )


_SPLIT_ND_HASH = (
    "CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))"
    " AS BIGINT) % 100"
)

_SPLIT_NEARDUP_SQL = _CC_CTES + f""",
spl AS (
    SELECT doc_id,
           CASE WHEN {_SPLIT_ND_HASH} < 90 THEN 'train'
                WHEN {_SPLIT_ND_HASH} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM lbl
),
leak AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS leaked_neardup
    FROM pairs
    JOIN spl sa ON da = sa.doc_id
    JOIN spl sb ON db = sb.doc_id
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs, leaked_neardup
FROM spl, leak
GROUP BY split, leaked_neardup
"""


QUERIES = {
    "pipeline_split_holdout": pipeline_split_holdout,
    "pipeline_split_neardup_safe": pipeline_split_neardup_safe,
    "chunk_documents": chunk_documents,
    "dedup_image_ahash": dedup_image_ahash,
    "video_scene_cuts": video_scene_cuts,
    "dedup_exact": dedup_exact,
    "dedup_substring_spans": dedup_substring_spans,
    "text_scrub_spans": text_scrub_spans,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "decontam_ngram": decontam_ngram,
    "text_repetition": text_repetition,
    "text_scrub_pii": text_scrub_pii,
    "text_html_extract": text_html_extract,
    "mixture_sample_temperature": mixture_sample_temperature,
    "dedup_paragraph": dedup_paragraph,
    "quality_lm_score": quality_lm_score,
    "quality_nb_classifier": quality_nb_classifier,
    "train_shard_manifest": train_shard_manifest,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental": dedup_incremental,
    "dedup_bloom_incremental": dedup_bloom_incremental,
    "bpe_train": bpe_train,
    "bpe_encode": bpe_encode,
    "pipeline_curate_v3": pipeline_curate_v3,
    "simhash_neardup": simhash_neardup,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_edit_distance": dedup_edit_distance,
    "dedup_cluster_cc": dedup_cluster_cc,
    "quota_sample_per_group": quota_sample_per_group,
    "tfidf_top_terms": tfidf_top_terms,
    "bm25_topk": bm25_topk,
    "pack_sequences": pack_sequences,
    "pipeline_curate": pipeline_curate,
    "pipeline_curate_v2": pipeline_curate_v2,
    "text_quality": text_quality,
    "lang_id": lang_id,
    "token_stats": token_stats,
    "doc_fingerprint": doc_fingerprint,
    "doc_winnowing": doc_winnowing,
    "heavy_hitters_cms": heavy_hitters_cms,
    "sim_bruteforce_topk": sim_bruteforce_topk,
    "sim_lsh_ann": sim_lsh_ann,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_pq_topk": sim_pq_topk,
    "pca_project_variance": pca_project_variance,
    "multimodal_meta": multimodal_meta,
    "multimodal_features": multimodal_features,
    "multimodal_resize": multimodal_resize,
    "multimodal_decode": multimodal_decode,
    "multimodal_decode_formats": multimodal_decode_formats,
    "multimodal_decode_jpeg": multimodal_decode_jpeg,
    "multimodal_decode_webp": multimodal_decode_webp,
    "multimodal_decode_gif": multimodal_decode_gif,
    "multimodal_decode_tiff": multimodal_decode_tiff,
    "audio_features": audio_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "url_dedup": url_dedup,
    "dedup_semantic": dedup_semantic,
}

ORACLE = {
    "chunk_documents": _CHUNK_SQL,
    "dedup_image_ahash": _AHASH_SQL,
    "video_scene_cuts": _SCENE_SQL,
    "url_dedup": _URL_DEDUP_SQL,
    "dedup_semantic": _semantic_sql(),
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_substring_spans": _SUBSTR_SQL,
    "text_scrub_spans": _SCRUB_SQL,
    "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
    "decontam_ngram": _DECONTAM_SQL,
    "text_repetition": _TEXT_REPETITION_SQL,
    "text_scrub_pii": _TEXT_SCRUB_SQL,
    "text_html_extract": _HTML_EXTRACT_SQL,
    "mixture_sample_temperature": _MIXTURE_SQL,
    "dedup_paragraph": _DEDUP_PARAGRAPH_SQL,
    "quality_lm_score": _LM_SCORE_SQL,
    "quality_nb_classifier": _NB_CLASSIFIER_SQL,
    "train_shard_manifest": _TRAIN_SHARD_SQL,
    "dedup_minhash_lsh": _MINHASH_SQL,
    "dedup_incremental": _INCREMENTAL_SQL,
    "dedup_bloom_incremental": _BLOOM_SQL,
    "bpe_train": _bpe_sql(_BPE_MERGES),
    "bpe_encode": _bpe_encode_sql(_BPE_MERGES),
    "pipeline_curate_v3": _curate_v3_sql(),
    "simhash_neardup": _SIMHASH_SQL,
    "dedup_embedding_cosine": _EMBED_COSINE_SQL,
    "dedup_edit_distance": _EDIT_DIST_SQL,
    "dedup_cluster_cc": _CLUSTER_CC_SQL,
    "quota_sample_per_group": _QUOTA_SAMPLE_SQL,
    "tfidf_top_terms": _TFIDF_SQL,
    "bm25_topk": _BM25_SQL,
    "pack_sequences": _PACK_SQL,
    "pipeline_curate": _CURATE_SQL,
    "pipeline_split_holdout": _SPLIT_HOLDOUT_SQL,
    "pipeline_split_neardup_safe": _SPLIT_NEARDUP_SQL,
    "pipeline_curate_v2": _CURATE2_SQL,
    "text_quality": _TEXT_QUALITY_SQL,
    "lang_id": _LANG_ID_SQL,
    "token_stats": _TOKEN_STATS_SQL,
    "doc_fingerprint": _DOC_FINGERPRINT_SQL,
    "doc_winnowing": _DOC_WINNOW_SQL,
    "heavy_hitters_cms": _HEAVY_HITTERS_SQL,
    "sim_bruteforce_topk": _SIM_BRUTE_SQL,
    "sim_lsh_ann": _SIM_LSH_SQL,
    "sim_ivf_topk": _SIM_IVF_SQL,
    "sim_pq_topk": _SIM_PQ_SQL,
    "pca_project_variance": _PCA_SQL,
    "multimodal_meta": _MULTIMODAL_META_SQL,
    # the mapInPandas kernels are hash-checked too: the oracles restate
    # the full md5-synthesized pipeline + index arithmetic in SQL
    "multimodal_features": _MULTIMODAL_FEATURES_SQL,
    "multimodal_resize": _MULTIMODAL_RESIZE_SQL,
    "multimodal_decode": _MULTIMODAL_DECODE_SQL,
    "multimodal_decode_formats": _MULTIMODAL_FORMATS_SQL,
    "multimodal_decode_jpeg": _MULTIMODAL_JPEG_SQL,
    "multimodal_decode_webp": _MULTIMODAL_WEBP_SQL,
    "multimodal_decode_gif": _multimodal_gif_sql(),
    "multimodal_decode_tiff": _MULTIMODAL_TIFF_SQL,
    "audio_features": _AUDIO_FEATURES_SQL,
    "multimodal_frame_sample": _MULTIMODAL_FRAME_SQL,
}
