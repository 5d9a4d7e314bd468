"""Stat-keyed ``zipimporter.invalidate_caches`` (installed on package
import): ``importlib.invalidate_caches()`` — which every PySpark Python
task calls — must not re-parse an unchanged zip archive's directory, yet
a module added to a rewritten archive must still import after it, as
CPython 3.11's eager invalidation guarantees."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import wrf_to_geodataframe_spark

eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip directories lazily; "
    "nothing is installed",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    """An archive on ``sys.path`` holding ``wi_zmod_a``; everything it
    leaves in the import machinery is removed afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wi_zmod_a": "VALUE = 1\n"})
    sys.path.insert(0, path)
    try:
        yield path
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in ("wi_zmod_a", "wi_zmod_b"):
            sys.modules.pop(name, None)
        importlib.invalidate_caches()


@eager_zipimport
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    import wi_zmod_a

    assert wi_zmod_a.VALUE == 1
    importlib.invalidate_caches()  # records the archive's stat key
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_on_path not in reads
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files is zipimport._zip_directory_cache[zip_on_path]


def test_rewritten_archive_imports_new_module(zip_on_path):
    import wi_zmod_a

    assert wi_zmod_a.VALUE == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("wi_zmod_b")
    # Rewrite in place (same path and inode, new size).
    ino = os.stat(zip_on_path).st_ino
    _write_zip(
        zip_on_path,
        {"wi_zmod_a": "VALUE = 1\n", "wi_zmod_b": "VALUE = 'added'\n"},
    )
    assert os.stat(zip_on_path).st_ino == ino
    importlib.invalidate_caches()
    assert importlib.import_module("wi_zmod_b").VALUE == "added"


def test_second_package_import_installs_nothing():
    installed = zipimport.zipimporter.invalidate_caches
    wrf_to_geodataframe_spark._install_stat_keyed_zip_invalidation()
    importlib.reload(wrf_to_geodataframe_spark)
    assert zipimport.zipimporter.invalidate_caches is installed
    if sys.version_info < (3, 13):
        assert getattr(installed, "_stat_keyed", False)


@eager_zipimport
def test_engine_worker_has_stat_keyed_invalidation(spark):
    """After a library ``mapInPandas`` kernel has run in a Python worker,
    that worker's later tasks run with the stat-keyed method.  The probe
    is pickled by value and imports nothing from the library, so it
    reports what the library kernel left behind.  Python workers are
    pooled, so library job and probe alternate until the probe lands on
    a worker that has imported the library."""
    from wrf_to_geodataframe_spark.geometry.simplify import simplify_lines

    lines = spark.createDataFrame(
        [([0.0, 1.0, 2.0], [0.0, 0.1, 0.0])],
        "xs array<double>, ys array<double>",
    ).coalesce(1)

    def probe(it):
        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame({
            "has_library": ["wrf_to_geodataframe_spark" in sys.modules],
            "stat_keyed": [bool(getattr(
                zipimport.zipimporter.invalidate_caches, "_stat_keyed", False
            ))],
        })

    seen = []
    for _ in range(16):
        assert len(simplify_lines(lines, 0.5).collect()) == 1
        seen.extend(
            (r["has_library"], r["stat_keyed"])
            for r in lines.mapInPandas(
                probe, "has_library boolean, stat_keyed boolean"
            ).collect()
        )
        if any(has for has, _ in seen):
            break
    assert any(has for has, _ in seen), seen
    assert all(keyed for has, keyed in seen if has), seen
