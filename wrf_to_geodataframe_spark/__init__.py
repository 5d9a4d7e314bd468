"""wrf_to_geodataframe_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of C-H-Simpson/wrf_to_geodataframe.

The reference (``/root/reference``) converts gridded climate-model output to
geospatial dataframes with an eager numpy/pandas/geopandas pipeline.  This
package re-expresses every one of its operators (SURVEY.md §2) as lazy
PySpark DataFrame transforms so Catalyst/Tungsten/AQE pick the physical
strategy, plus the large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal columns) the reference lacks.

Design stance (SURVEY.md §7):
- composable DataFrame transforms, not a new engine layer;
- geometry = plain coordinate columns where possible (boxes, bboxes) and
  WKB ``BinaryType`` + vertex-array columns where not (Voronoi cells);
- no custom Catalyst rules; AQE + broadcast hints only;
- UDFs only where built-ins genuinely can't express the semantics
  (half-plane Voronoi, convex polygon overlay), always Arrow-batched.
"""

def _install_stat_keyed_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    Every PySpark Python task calls ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13 each
    ``zipimporter`` then re-parses its whole archive directory eagerly,
    and a reused worker holds one importer per package directory inside
    ``pyspark.zip``, the Spark jar and py4j: ~27k zip entries parsed per
    task, 100-300 ms of fixed cost per task.  The replacement keys each
    archive's last read on ``(st_mtime_ns, st_size, st_ino)`` and, while
    that key is unchanged, re-binds the importer to the shared
    ``zipimport._zip_directory_cache`` entry; a changed (or unstattable)
    archive is re-read exactly as before, so a module added to a
    rewritten archive still imports after ``invalidate_caches()``.
    CPython 3.13+ already invalidates lazily: nothing is installed there.

    Called from package import, so every engine worker that has
    unpickled one library kernel has it for all its later tasks.
    Idempotent: the installed method carries a marker attribute."""
    import sys

    if sys.version_info >= (3, 13):
        return
    import os
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stat_keyed", False):
        return
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (key is not None and files is not None
                and read_at.get(self.archive) == key):
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    invalidate_caches._stat_keyed = True
    cls.invalidate_caches = invalidate_caches


_install_stat_keyed_zip_invalidation()

from wrf_to_geodataframe_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
__version__ = "0.1.0"
