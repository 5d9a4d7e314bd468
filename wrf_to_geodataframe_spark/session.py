"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same configuration
keys are the ones that matter on a 1000-executor cluster (AQE, shuffle
partitioning, Arrow batching), so nothing here is local-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cgroup_limit_paths() -> list[str]:
    """Candidate cgroup memory-limit files for THIS process: the paths
    named by ``/proc/self/cgroup`` (and, for cgroup v2, every ancestor
    directory — a nested slice can be limited at any level), then the
    mount-root fallbacks.  Handles the bare-host case where the process
    sits in e.g. a systemd slice with MemoryMax but no cgroup
    namespace, so the root ``/sys/fs/cgroup/memory.max`` reads 'max'
    while the real limit lives deeper."""
    paths: list[str] = []
    try:
        with open("/proc/self/cgroup") as f:
            for line in f:
                hid, _, rest = line.strip().partition(":")
                ctrl, _, cpath = rest.partition(":")
                cpath = cpath.strip("/")
                if hid == "0":  # cgroup v2 unified hierarchy
                    parts = cpath.split("/") if cpath else []
                    while parts:
                        paths.append(
                            "/sys/fs/cgroup/" + "/".join(parts) + "/memory.max"
                        )
                        parts.pop()
                elif "memory" in ctrl.split(","):
                    base = "/sys/fs/cgroup/memory"
                    if cpath:
                        paths.append(f"{base}/{cpath}/memory.limit_in_bytes")
    except OSError:
        pass
    paths += [
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ]
    return paths


def _default_driver_memory() -> str:
    """min(32g, ~40% of available RAM), floor 2g — see the config
    comment in get_spark.  "Available" is the MINIMUM of host MemTotal
    and every applicable cgroup memory limit (v2 ``memory.max`` at the
    process's own cgroup and its ancestors, v1
    ``memory.limit_in_bytes``): in a memory-capped container or slice
    on a big host, sizing from MemTotal alone would pick a heap the
    cgroup then OOM-kills.  ``SPARK_DRIVER_MEMORY`` stays the escape
    hatch."""
    total = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total = int(line.split()[1]) * 1024
                    break
    except OSError:
        pass
    if total is None:
        return "8g"
    for limit_path in _cgroup_limit_paths():
        try:
            with open(limit_path) as f:
                raw = f.read().strip()
            if raw != "max":
                total = min(total, int(raw))
        except (OSError, ValueError):
            continue
    total_gb = total // (1024 ** 3)
    return f"{max(2, min(32, int(total_gb * 0.4)))}g"


def get_spark(
    app_name: str = "wrf_to_geodataframe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults chosen for the 100 TB design point, not just local tests:

    - AQE on (runtime shuffle-partition coalescing, skew-join splitting,
      broadcast-join conversion after runtime stats) — the engine's main
      answer to skewed grids and unknown selectivities.
    - Arrow execution for every pandas_udf / applyInPandas boundary.
    - UTC session timezone so temporal bucketing (daily resample, SURVEY
      §2 A2) is deterministic and oracle-comparable.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-partition CACHED plan output (default false).  The
        # suite persists narrow intermediates inside most multi-branch
        # queries (signatures, copy maps, component maps); with the
        # default, every shuffle below a persist keeps the static
        # shuffle-partition count — measured 4507 tasks for
        # dedup_cluster_cc at sf0.1 where the same plan coalesces to
        # 290 with the flag on (profiling r17, PROFILE_r17_*.json).
        # At the 100 TB design point the effect is the same, in the
        # other direction: cached intermediates size their partitions
        # from runtime bytes instead of a static constant (guide §2.2
        # "fewer, larger reduce partitions").  Trade-off: a consumer
        # can no longer reuse the cached plan's output partitioning
        # for exchange elision — the suite never relied on that (the
        # _collapse_identical r11 note: cached-plan partitioning was
        # not reused under this AQE config even when stable).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # No per-call origin capture.  With the default (true) every
        # Column-API call (F.col, F.lit, operators) also looks up the
        # active session, reads a conf, captures the Python stack and
        # sets and clears PySparkCurrentOrigin over py4j:
        # F.col("x") + F.lit(1) costs 27 round trips instead of 7, and
        # plan construction is mostly such calls.  Trade-off: analysis
        # errors lose the Python call-site fragment; the SQL context
        # and the message (e.g. the unresolved column's name) stay.
        # PySpark caches the flag per process on first use.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode driver == the only executor: size the heap to the
        # machine, not to a driver-only footprint.  8g measured 2-5x
        # run-to-run swings on individual suite queries from old-gen GC
        # churn over a 150-query session (dedup_embedding_cosine 7.6 s
        # -> 37 s); 32g restores flat timings.  Capped at ~40% of
        # physical RAM so small hosts don't hand the JVM a heap the OS
        # can't back (OOM-killer beats GC churn for worst failure mode).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 81 suite queries x warm-up+timed passes generate more compiled
        # code than the JVM's default 240m code cache; once it fills,
        # HotSpot flushes/deoptimizes mid-run and individual query
        # timings swing randomly run-to-run.  512m keeps every compiled
        # stage resident for the whole session.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def sf_path(sf_dir: str, table: str) -> str:
    """Path of one driver-generated parquet table under an sf directory."""
    return os.path.join(sf_dir, f"{table}.parquet")


# path -> (tree stamp, bytes), one entry per path.  The stamp is the
# max st_mtime_ns over the dataset root and every nested directory, so
# a dataset that grows IN PLACE (streaming ingest dirs, a part file
# added to an existing ``date=.../`` partition) refreshes its estimate
# instead of keeping a stale one for the life of the process.
_SCAN_BYTES_CACHE: dict[str, tuple[int, int]] = {}


def _tree_stamp(path: str) -> int:
    """Max st_mtime_ns over ``path`` and, for a directory, every
    directory below it (adding or removing a file touches its parent)."""
    stamp = os.stat(path).st_mtime_ns
    for root, dirs, _files in os.walk(path):
        for d in dirs:
            stamp = max(stamp, os.stat(os.path.join(root, d)).st_mtime_ns)
    return stamp


def _dataset_bytes(path: str) -> int:
    """Total on-disk bytes of one parquet dataset (file or directory),
    memoized — driver-side os.stat only, no Spark work.

    Returns 0 for anything os.stat cannot size (non-posix paths like
    s3://, permission errors): callers must treat 0 as UNKNOWN and fail
    open to "large" (ADVICE r17 — a 100 TB object-store dataset must
    never be mistaken for a byte-small one).  Failed stats are NOT
    memoized, so a transient error doesn't pin the unknown state."""
    try:
        stamp = _tree_stamp(path)
    except OSError:
        return 0
    hit = _SCAN_BYTES_CACHE.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    total = 0
    try:
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, f))
        else:
            total = os.path.getsize(path)
    except OSError:
        return 0
    _SCAN_BYTES_CACHE[path] = (stamp, total)
    return total


def _byte_string_as_bytes(raw: str, default: int) -> int:
    """Parse a Spark size conf value the way Spark's byteStringAsBytes
    does for the common forms: bare number = bytes, or a number with a
    case-insensitive b/k/m/g/t/p (optionally kb/mb/gb/tb/pb) suffix.  A
    digit-stripping parse would turn '128m' into 128 BYTES and inflate
    the partition estimate ~1e6x (ADVICE r17); unparseable forms fall
    back to ``default``."""
    s = str(raw).strip().lower()
    mult = 1
    for suffix, m in (
        ("pb", 1024**5), ("tb", 1024**4), ("gb", 1024**3),
        ("mb", 1024**2), ("kb", 1024),
        ("p", 1024**5), ("t", 1024**4), ("g", 1024**3), ("m", 1024**2),
        ("k", 1024), ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)].strip()
            mult = m
            break
    try:
        return int(s) * mult
    except ValueError:
        return default


def _small_scan_split(df, path: str) -> tuple[int, int] | None:
    """``(est, defaultParallelism)`` for a byte-SMALL scan, where
    ``est`` = ceil(dataset bytes / ``spark.sql.files.maxPartitionBytes``)
    is below ``defaultParallelism``; None when the scan already spans
    at least ``defaultParallelism`` such splits, or when its size is
    UNKNOWN (non-posix path, stat error): fail OPEN to "archive-scale"
    and leave the scan alone — the 100 TB path must never pay a
    full-corpus shuffle because the driver could not stat an
    object-store URI (ADVICE r17)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    default_pb = 128 * 1024 * 1024
    try:
        raw = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", str(default_pb)
        )
        max_pb = max(1, _byte_string_as_bytes(raw, default_pb))
    except Exception:
        max_pb = default_pb
    total = _dataset_bytes(path)
    if total <= 0:
        return None
    est = max(1, -(-total // max_pb))  # ceil-div
    if est >= p:
        return None
    return est, p


def ensure_scan_parallelism(df, path: str, *keys: str):
    """Spread a byte-small scan across the cores before a CPU-heavy
    expression chain (md5 shingle hashing, regex scrubbing, fold
    evaluation) — CONDITIONALLY: a no-op whenever the scan would
    already yield at least ``defaultParallelism`` partitions, which is
    every real archive-scale input.  A small single-file parquet table
    gives 1-2 scan partitions, so the whole map-side chain (tokenize
    -> md5 -> partial aggregation) serializes onto 1-2 cores; AQE
    cannot help because its partition sizing is byte-based and blind
    to per-row CPU (guide §2.5 input skew / the multimodal decode
    pattern, made conditional so the 100 TB path never pays an extra
    full-corpus shuffle).

    The partition estimate is DRIVER-SIDE file metadata (dataset bytes
    / ``spark.sql.files.maxPartitionBytes``, memoized) — deliberately
    not ``df.rdd.getNumPartitions()``, which materializes the physical
    plan and can run a listing job (it tripped the
    construction-is-lazy pin).  ``keys`` hash-partition the spread
    (deterministic layout, no round-robin input sort — guide §2.5)."""
    split = _small_scan_split(df, path)
    if split is None:
        return df
    p = split[1]
    return df.repartition(p, *keys) if keys else df.repartition(p)


def coalesce_small_scan(df, path: str):
    """Coalesce a byte-SMALL scan down to the partition count its bytes
    actually warrant (ceil(bytes / maxPartitionBytes)) — the inverse of
    :func:`ensure_scan_parallelism`, for DRIVER-BOUND projection gates
    whose cost is the collect, not the compute.

    Why: with many cores, Spark's split packing targets
    ``totalBytes / defaultParallelism`` per split (floored at
    ``openCostInBytes``), so a ~40 MB table fans out to dozens of
    kilobyte-scale scan tasks.  For a trivially-cheap projection whose
    result is collected, those extra partitions buy nothing and each
    costs a separate task-result fetch + per-batch deserialization on
    the driver (measured: the same collect-bound query ran ~3x slower
    at 32 scan splits than at 8 — VERDICT r17 item 3).

    Scale contract: a no-op whenever the byte estimate is UNKNOWN (0)
    or the dataset already spans >= ``defaultParallelism`` full
    maxPartitionBytes splits — an archive-scale scan keeps every split.
    Only apply this to queries whose per-row compute is a cast/rename
    (codegen floor); a CPU-heavy chain over a coalesced scan would
    serialize (use ensure_scan_parallelism's criterion instead)."""
    split = _small_scan_split(df, path)
    if split is None:
        return df
    return df.coalesce(split[0])


# ---------------------------------------------------------------------------
# Tracked persists: several suite queries persist intra-query
# intermediates (near-dup signatures, exact-duplicate collapse maps,
# PageRank degree tables) that MUST stay cached until the caller's
# action runs — the query builder cannot unpersist them eagerly.  In a
# long multi-query session those entries would otherwise accumulate
# until LRU eviction (ADVICE r11).  Every such persist registers here,
# and ``release_persisted()`` frees whatever is still pinned.
# bench.py and the driver already call ``spark.catalog.clearCache()``
# between queries, which frees the BLOCKS session-wide; this is the
# surgical per-library API for sessions that also cache their OWN
# frames and don't want a global clear.
#
# localCheckpoint CAVEAT (ADVICE r17): a few eager builders
# (dedup_cluster_cc / pipeline_split_neardup_safe pair tables,
# pipeline_curate_v3's corpus) truncate lineage with
# ``localCheckpoint()`` instead of persist.  Checkpoint blocks are NOT
# in this registry and are NOT dropped by ``spark.catalog.clearCache()``
# — they are reclaimed when the checkpointed RDD is garbage-collected
# (the python wrapper goes out of scope as soon as the query's action
# finishes, so in bench/driver runs the JVM frees them via the
# ContextCleaner between queries).  Local checkpoints are also not
# executor-loss recoverable; every call site is an intra-query
# intermediate that would simply recompute its query on failure.
#
# STRONG references on purpose: the python DataFrame wrappers for
# intra-query intermediates go out of scope the moment the query
# builder returns (only the JVM plan lives on in the result), so a
# weak registry would lose the unpersist handle before anyone could
# call it.  The registry holds tiny wrapper objects, not data — and
# so a session that only ever calls clearCache() doesn't pin JVM
# Datasets forever, track_persist prunes no-longer-cached entries
# once the registry passes a small threshold.

_TRACKED_PERSISTS: list = []
_PRUNE_AT = 64  # wrappers; pruning is one is_cached probe per entry


def track_persist(df):
    """``df.persist()`` + register for :func:`release_persisted`.
    Idempotent: an already-cached frame is only registered."""
    if not df.is_cached:
        df.persist()
    if len(_TRACKED_PERSISTS) >= _PRUNE_AT:
        # entries whose blocks a clearCache() already dropped are dead
        # weight (keeping them would pin JVM Datasets indefinitely)
        alive = []
        for d in _TRACKED_PERSISTS:
            try:
                if d.is_cached:
                    alive.append(d)
            except Exception:
                pass  # session gone — drop the handle
        _TRACKED_PERSISTS[:] = alive
    _TRACKED_PERSISTS.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every still-tracked intermediate; returns the count.

    Call after the action that consumed a suite query's result (or
    rely on ``spark.catalog.clearCache()`` between queries, as
    bench.py does)."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to free
    return n


_META_CACHE: dict[str, tuple[list[str], "object"]] = {}


def _table_meta(path: str):
    """(nanos-timestamp column names, explicit Spark read schema) for one
    parquet dataset, derived from the footers DRIVER-SIDE and memoized.

    Passing the schema explicitly to ``spark.read.schema(...)`` matters
    twice over: it skips the distributed schema-inference job Spark
    otherwise runs per ``read.parquet`` call (so building a query plan
    triggers NO Spark job — the laziness contract the suite tests pin),
    and at 100 TB it is simply how production reads work (schemas come
    from a catalog, not from re-reading footers on every query).

    The schema replicates Spark's own parquet inference rules exactly:
    TIMESTAMP(NANOS) columns read as raw LongType (``nanosAsLong``,
    rewritten to µs timestamps by ``load_table``); non-UTC-adjusted
    timestamps (arrow tz=None) map to TIMESTAMP_NTZ, matching
    ``spark.sql.parquet.inferTimestampNTZ.enabled=true``; everything
    else via arrow→Spark conversion.  NS columns are unioned over ALL
    part footers (mixed-schema datasets are caught, not silently
    missed); the base schema comes from the first part.
    """
    if path in _META_CACHE:
        return _META_CACHE[path]

    import pyarrow.parquet as pq
    import pyarrow.types as pt
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    parts = [path]
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    ns_cols: list[str] = []
    base = None
    for p in parts:
        sch = pq.read_schema(p)
        if base is None:
            base = sch
        for f in sch:
            if pt.is_timestamp(f.type) and f.type.unit == "ns" and f.name not in ns_cols:
                ns_cols.append(f.name)

    fields = []
    for af, sf in zip(base, from_arrow_schema(base)):
        dt = sf.dataType
        if af.name in ns_cols:
            dt = LongType()
        elif pt.is_timestamp(af.type):
            # Naive (no-tz) parquet timestamps are read as plain TIMESTAMP,
            # not TIMESTAMP_NTZ: the session timezone is pinned to UTC below,
            # so the stored micros are value-identical to DuckDB's naive
            # reading, while NTZ would break unix_micros()/epoch arithmetic
            # downstream (unsupported input type in Spark 4).
            dt = TimestampType()
        fields.append(StructField(af.name, dt, nullable=True))
    meta = (ns_cols, StructType(fields))
    _META_CACHE[path] = meta
    return meta


def load_table(spark: SparkSession, sf_dir: str, table: str):
    """Scan one testdata table; column pruning/filter pushdown handled by
    Catalyst (the reference prunes by hand, wrf_voronoi.py:114-118).

    Parquet TIMESTAMP(NANOS) columns (e.g. ``events.ts``) are read as raw
    nanos (``nanosAsLong``) and truncated to microsecond timestamps with
    exact integer division — the same ns→µs truncation DuckDB applies, so
    oracle comparisons stay bit-identical.
    """
    from pyspark.sql import functions as F

    # Temporal bucketing (to_date in A2) must be timezone-stable no matter
    # who built the session — the driver harness uses its own SparkSession.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = sf_path(sf_dir, table)
    ns_cols, schema = _table_meta(path)
    if not ns_cols:
        return spark.read.schema(schema).parquet(path)
    # nanosAsLong is session-global and must still be set when the lazy
    # scan actually executes, so it cannot be scoped to this call.  That
    # is safe *within this engine* because every read goes through
    # load_table, which always rewrites ns columns to real timestamps —
    # no later read ever observes a raw ns-long column.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        # negative-safe ns→µs floor division: pmod keeps the remainder in
        # [0, 1000) so pre-1970 nanos round DOWN, matching DuckDB's
        # truncation; the subtraction and div stay in exact int64.
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"(`{c}` - pmod(`{c}`, 1000)) div 1000"))
        )
    return df
