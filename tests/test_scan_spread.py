"""ensure_scan_parallelism (r17): conditional minimum scan
parallelism for CPU-heavy chains over byte-small inputs."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR
from wrf_to_geodataframe_spark.session import (
    _byte_string_as_bytes,
    ensure_scan_parallelism,
    load_table,
    sf_path,
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata missing: {SF_DIR}"
)


def test_small_scan_is_spread(spark):
    """A byte-small table (far under one maxPartitionBytes split) gets
    an explicit hash repartition to defaultParallelism."""
    df = load_table(spark, SF_DIR, "documents")
    path = sf_path(SF_DIR, "documents")
    out = ensure_scan_parallelism(df, path, "doc_id")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression" in plan
    # the spread must not change the rows
    assert sorted(r.doc_id for r in out.select("doc_id").collect()) == sorted(
        r.doc_id for r in df.select("doc_id").collect()
    )


def test_large_scan_is_untouched(spark, monkeypatch):
    """When the driver-side estimate says the scan already yields at
    least defaultParallelism partitions (every archive-scale input),
    the helper is a strict no-op — no extra exchange at 100 TB."""
    import wrf_to_geodataframe_spark.session as S

    df = load_table(spark, SF_DIR, "documents")
    path = sf_path(SF_DIR, "documents")
    parallelism = spark.sparkContext.defaultParallelism
    big = parallelism * 128 * 1024 * 1024  # est >= defaultParallelism
    monkeypatch.setattr(S, "_dataset_bytes", lambda _p: big)
    out = ensure_scan_parallelism(df, path, "doc_id")
    assert out is df


def test_unknown_size_fails_open(spark, monkeypatch):
    """A path the driver cannot stat (s3://, OSError) must be treated
    as ARCHIVE-SCALE — strict no-op, never an extra full-corpus
    shuffle (ADVICE r17)."""
    df = load_table(spark, SF_DIR, "documents")
    out = ensure_scan_parallelism(
        df, "s3://bucket/never-statable/dataset.parquet", "doc_id"
    )
    assert out is df


def test_failed_stat_not_memoized():
    """A failed stat must not pin the unknown state for the process
    lifetime (ADVICE r17): nothing is cached for a missing path."""
    import wrf_to_geodataframe_spark.session as S

    missing = "/nonexistent/path/for/test.parquet"
    before = dict(S._SCAN_BYTES_CACHE)
    assert S._dataset_bytes(missing) == 0
    assert dict(S._SCAN_BYTES_CACHE) == before


def test_byte_string_parse():
    """Size-suffixed conf values parse per Spark's byteStringAsBytes
    semantics — a digit-stripping parse would read '128m' as 128 BYTES
    and inflate the partition estimate ~1e6x (ADVICE r17)."""
    d = 128 * 1024 * 1024
    assert _byte_string_as_bytes("134217728", d) == 134217728
    assert _byte_string_as_bytes("128m", d) == 128 * 1024 * 1024
    assert _byte_string_as_bytes("128MB", d) == 128 * 1024 * 1024
    assert _byte_string_as_bytes("1g", d) == 1024**3
    assert _byte_string_as_bytes("512k", d) == 512 * 1024
    assert _byte_string_as_bytes("64b", d) == 64
    assert _byte_string_as_bytes("2p", d) == 2 * 1024**5
    assert _byte_string_as_bytes("1PB", d) == 1024**5
    assert _byte_string_as_bytes("not-a-size", d) == d


def test_estimate_is_driver_side(spark):
    """The byte estimate comes from os.stat, memoized — no Spark job
    (the construction-is-lazy contract)."""
    import wrf_to_geodataframe_spark.session as S

    path = sf_path(SF_DIR, "documents")
    S._SCAN_BYTES_CACHE.clear()
    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    n = S._dataset_bytes(path)
    assert n > 0
    assert os.path.exists(path)
    after = store.jobsList(None).size()
    assert after == before


def _touch_back(path, seconds=10):
    """Date a file or directory ``seconds`` into the past, so that the
    next change inside it moves its mtime on any clock granularity."""
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns - seconds * 10**9))


def test_estimate_refreshes_on_nested_append(tmp_path):
    """A part file appended into an EXISTING ``date=.../`` partition
    (the root's mtime does not move) refreshes the cached estimate."""
    import wrf_to_geodataframe_spark.session as S

    root = tmp_path / "events.parquet"
    part = root / "date=2020-01-01"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x" * 100)
    for p in (part, root):
        _touch_back(p)
    root_mtime = os.stat(root).st_mtime_ns
    assert S._dataset_bytes(str(root)) == 100
    (part / "part-1.parquet").write_bytes(b"y" * 50)
    assert os.stat(root).st_mtime_ns == root_mtime
    assert S._dataset_bytes(str(root)) == 150


def test_scan_bytes_cache_one_entry_per_path(tmp_path):
    """Growing a dataset replaces its cache entry instead of adding one
    per stamp, so the cache stays bounded by the number of paths."""
    import wrf_to_geodataframe_spark.session as S

    root = tmp_path / "grow.parquet"
    root.mkdir()
    n_before = len(S._SCAN_BYTES_CACHE)
    for i in range(3):
        _touch_back(root)
        (root / f"part-{i}.parquet").write_bytes(b"z" * 10)
        assert S._dataset_bytes(str(root)) == 10 * (i + 1)
    assert len(S._SCAN_BYTES_CACHE) == n_before + 1
    assert S._SCAN_BYTES_CACHE[str(root)][1] == 30
