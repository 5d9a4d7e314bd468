"""Every library module is reached by a query, a tool or the benchmark.

A static walk over ``import`` statements (module level and inside
functions, relative imports resolved) from the entry points: the query
catalogue ``suite/``, ``__spark_entry__.py``, ``bench.py``, ``tools/*.py``
and ``perfbench/*.py``.  Importing ``a.b.c`` also reaches the packages
``a`` and ``a.b``; ``from a.b import c`` reaches ``a.b.c`` when that is a
module.  ``perfbench/trace.py``'s ``pkgutil`` walk is instrumentation that
wraps whatever exists, so it is not an edge.  No Spark session is started.

Only the import statements are parsed: a line scan finds them (a
parenthesised name list may span lines) and ``ast`` parses each one, which
reads the same imports as parsing every whole file at a tenth of the cost.

The function-level test parses every file whole (about 2 s): a top-level
function or class is reached when code that always runs, or the body of
a reached definition, uses its name; one that only tests call needs a
``KEEP`` entry saying why.
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "wrf_to_geodataframe_spark"
_IMPORT = re.compile(
    r"^[ \t]*((?:from[ \t]+[\w.]+[ \t]+)?import[ \t]+(?:\([^)]*\)|.*))$", re.M
)


def _library_modules() -> dict[str, str]:
    """Dotted module name -> file path for every module of the package."""
    mods: dict[str, str] = {}
    pattern = os.path.join(REPO, PACKAGE, "**", "*.py")
    for path in glob.glob(pattern, recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imports(path: str, module: str, is_package: bool) -> set[str]:
    """Dotted names imported anywhere in ``path`` (``from x import y``
    yields both ``x`` and ``x.y``)."""
    with open(path, encoding="utf-8") as f:
        source = f.read()
    package = module if is_package else module.rpartition(".")[0]
    names: set[str] = set()
    for match in _IMPORT.finditer(source):
        try:
            body = ast.parse(match.group(1)).body
        except SyntaxError:  # prose in a docstring that starts with "import"
            continue
        for node in body:
            if isinstance(node, ast.Import):
                names.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    base = package.split(".")
                    base = base[: len(base) - (node.level - 1)]
                    if node.module:
                        base.append(node.module)
                    src = ".".join(base)
                else:
                    src = node.module or ""
                names.add(src)
                names.update(f"{src}.{a.name}" for a in node.names)
    return names


def _reached(mods: dict[str, str]) -> set[str]:
    entries = [
        os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py")
    ]
    for pattern in ("tools/*.py", "perfbench/*.py"):
        entries += sorted(glob.glob(os.path.join(REPO, pattern)))
    suite = f"{PACKAGE}.suite"
    todo = [m for m in mods if m == suite or m.startswith(suite + ".")]
    for path in entries:
        todo += _imports(path, os.path.basename(path)[: -len(".py")], False)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        parts = name.split(".")
        for k in range(1, len(parts) + 1):
            mod = ".".join(parts[:k])
            if mod in mods and mod not in seen:
                seen.add(mod)
                path = mods[mod]
                todo += _imports(path, mod, path.endswith("__init__.py"))
    return seen


def test_every_library_module_is_reached():
    mods = _library_modules()
    unreached = sorted(set(mods) - _reached(mods))
    assert not unreached, (
        f"{len(unreached)} library modules are imported by no query, tool "
        "or benchmark:\n" + "\n".join(unreached)
    )



# ------------------------------------------------- function level

# Library functions and classes that no query, tool or benchmark calls
# but tests need, each with its reason:
#   (a) reference: a test compares a reached function against it;
#   (b) fixture generator: tests of reached code build inputs with it;
#   (c) CLI cross-check: it checks a reached decoder against a
#       command-line tool's output;
#   (d) paper workflow: a step of the reference's regrid script;
#   (e) cleanup API: tests release what they persisted with it.
# Private helpers these call need no entry of their own.
KEEP: dict[str, tuple[str, str]] = {
    # functions/crs.py: inverses, forward twins and numpy/pandas twins
    "lcc_to_lonlat": ("a", "inverse of the reached lonlat_to_lcc; round-trip tests"),
    "lonlat_to_lcc2sp": ("a", "reduces to the reached one-parallel LCC; Snyder's worked example"),
    "lcc2sp_to_lonlat": ("a", "inverse of lonlat_to_lcc2sp; round-trip test"),
    "lcc2sp_forward_numpy": ("a", "numpy twin of lonlat_to_lcc2sp; pyproj cross-check"),
    "tm_to_lonlat": ("a", "inverse of the reached lonlat_to_tm; round-trip tests"),
    "utm_to_lonlat": ("a", "inverse of the reached lonlat_to_utm; round-trip tests"),
    "tm_forward_numpy": ("a", "numpy twin of the reached lonlat_to_tm; Snyder/pyproj checks"),
    "stere_to_lonlat": ("a", "inverse of the reached lonlat_to_stere; round-trip test"),
    "lonlat_to_mercator": ("a", "checked against the reached Web Mercator columns"),
    "mercator_to_lonlat": ("a", "inverse of lonlat_to_mercator; round-trip test"),
    "lonlat_to_rotated": ("a", "checked against the reached GRIB2 rotated-pole kernel"),
    "true_to_rotated": ("a", "inverse of the reached rotated_to_true; rotation invariants"),
    "webmercator_to_lon": ("a", "inverse of the reached lonlat_to_webmercator_x"),
    "webmercator_to_lat": ("a", "inverse of the reached lonlat_to_webmercator_y"),
    "webmercator_pandas_udf": ("a", "pandas-UDF twin of the reached Web Mercator columns"),
    "osgb_pandas_udf": ("a", "pandas-UDF twin of the reached lonlat_to_osgb"),
    "osgb36_geodetic_to_grid_numpy": ("a", "numpy twin of lonlat_to_osgb; OS worked example"),
    "osgb_grid_to_geodetic_numpy": ("a", "inverse of the reached OSGB forward; round trip"),
    "osgb_inverse_pandas_udf": ("a", "pandas-UDF inverse of lonlat_to_osgb; round trip"),
    "laea_to_lonlat": ("a", "inverse of the reached lonlat_to_laea; round-trip tests"),
    "albers_to_lonlat": ("a", "inverse of the reached lonlat_to_albers; round-trip tests"),
    "albers_forward_numpy": ("a", "numpy twin of the reached lonlat_to_albers"),
    "albers_inverse_numpy": ("a", "numpy inverse of lonlat_to_albers; fuzz round trip"),
    "cea_to_lonlat": ("a", "inverse of the reached lonlat_to_cea; round-trip tests"),
    "cea_forward_numpy": ("a", "numpy twin of the reached lonlat_to_cea"),
    "cea_inverse_numpy": ("a", "numpy inverse of lonlat_to_cea; fuzz round trip"),
    "ellipsoid_box_area_m2_float": ("a", "math twin of the reached ellipsoid_box_area_m2"),
    "ellipsoid_polygon_area_m2_float": ("a", "math twin of the reached ellipsoid_polygon_area_m2"),
    "vincenty_direct_numpy": ("a", "ellipsoidal reference for the reached destination_point"),
    "vincenty_bearing_numpy": ("a", "inverse check of vincenty_direct_numpy's published line"),
    "ellipsoidal_destination_udf": ("a", "Vincenty UDF compared with the reached destination_point"),
    "to_crs": ("d", "delphine/regrid.py's project step (EPSG front door)"),
    "from_crs": ("d", "delphine/regrid.py's unproject step (EPSG front door)"),
    "conservative_regrid_to_crs": ("d", "delphine/regrid.py's project-then-overlay regrid"),
    # geometry and grid predicates
    "point_in_box": ("a", "checks that the reached grid_cells partition unit boxes"),
    "point_in_polygon": ("a", "numpy PIP kernel the reached PIP column is checked against"),
    "convex_clip_polygon": ("a", "Sutherland-Hodgman clip checked against the reached box overlap"),
    # driver-side single-file readers: read back what reached writers
    # wrote, and the whole-file truth for the distributed scans
    "read_netcdf_grid": ("a", "whole-file truth for read_netcdf_dir and read_virtual"),
    "read_netcdf_any": ("a", "whole-file truth for the NetCDF-4 virtual scan"),
    "read_hdf5": ("a", "whole-file truth for the HDF5 writer and read_virtual"),
    "read_grib2": ("a", "reads back the reached write_grib2"),
    "read_grib2_grid": ("a", "whole-file truth for read_grib2_dir"),
    "read_geotiff": ("a", "reads back the reached write_geotiff; libtiff interop"),
    "read_geotiff_grid": ("a", "whole-file truth for read_geotiff_dist"),
    "read_zarr_store": ("a", "whole-store truth for read_zarr_dist"),
    "read_zarr_grid": ("a", "whole-store truth for read_zarr_dist"),
    "read_consolidated_metadata": ("a", "reads back the reached write_zarr's .zmetadata"),
    "read_zarr3_store": ("a", "whole-store truth for read_zarr3_dist"),
    "read_token_shards": ("a", "reads back the reached write_training_corpus"),
    "parse_polygon_wkb": ("a", "reads back the reached polygon_wkb/write_geopackage"),
    "wkb_area": ("a", "hole-aware area of what the reached WKB readers parse"),
    "capped_shingle_index": ("a", "drives the reached _cap_index df-cap guard directly"),
    # header probes: read the same header the reached decoder reads
    "gif_info": ("a", "header probe checked beside the reached decode_gif"),
    "jpeg_info": ("a", "header probe checked beside the reached decode_jpeg"),
    "tiff_info": ("a", "header probe checked beside the reached decode_tiff"),
    "wav_info": ("a", "header probe checked beside the reached decode_wav"),
    "webp_info": ("a", "header probe checked beside the reached decode_webp"),
    # fixture generators
    "encode_bmp": ("b", "builds BMP inputs for the reached decode_bmp"),
    "encode_pnm": ("b", "builds PNM inputs for the reached decoder"),
    "encode_jpeg_lossless": ("b", "builds SOF3 inputs for the reached decode_jpeg"),
    "encode_jpeg_ext12": ("b", "builds 12-bit inputs for the reached decode_jpeg"),
    "decode_jpeg_coefficients": ("b", "coefficient dumps compared through tests/jpeg_shim.py"),
    "libavif_present": ("b", "gates the tests that encode AVIF inputs through libavif"),
    "_RWData": ("b", "ctypes buffer the AVIF tests encode their inputs into"),
    # CLI cross-checks
    "lz4_frame_decompress": ("c", "frames the lz4 CLI wrote, decoded via lz4_block_decompress"),
    "is_lz4_frame": ("c", "frame sniffing on the lz4 CLI's output"),
    "xxh32": ("c", "frame checksums of the lz4 CLI's output"),
    # cleanup
    "release_persisted": ("e", "tests release what queries persisted"),
}


def _uses(node, skip: set) -> set[str]:
    """Names used in ``node``: identifiers, attribute names and
    identifier-like string constants, except docstrings."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant):
            if (isinstance(n.value, str) and n.value.isidentifier()
                    and id(n) not in skip):
                out.add(n.value)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                            ast.ClassDef)):
            body = n.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)):
                skip.add(id(body[0].value))
    return out


def _is_all(stmt) -> bool:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, (ast.AugAssign, ast.AnnAssign))
        else []
    )
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _function_graph():
    """(defs, bodies, used): every top-level function/class of the
    library as name -> [module path]; the names each one's definition
    uses; and the names used by code that always runs — the entry
    points, the query catalogue ``suite/`` and every module's top-level
    statements (``__all__`` lists and docstrings excluded)."""
    defs: dict[str, list[str]] = {}
    bodies: dict[str, set[str]] = {}
    used: set[str] = set()
    entries = [
        os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py")
    ]
    for pattern in ("tools/*.py", "perfbench/*.py"):
        entries += glob.glob(os.path.join(REPO, pattern))
    for path in entries:
        with open(path, encoding="utf-8") as f:
            used |= _uses(ast.parse(f.read()), set())
    suite = os.path.join(REPO, PACKAGE, "suite") + os.sep
    for path in _library_modules().values():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        skip: set = set()
        body = tree.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)):
            body = body[1:]
        for stmt in body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(
                    os.path.relpath(path, REPO)
                )
                inner = _uses(stmt, skip) - {stmt.name}
                if path.startswith(suite):
                    used |= inner
                else:
                    bodies.setdefault(stmt.name, set()).update(inner)
            elif not _is_all(stmt):
                used |= _uses(stmt, skip)
    return defs, bodies, used


def _closure(defs, bodies, roots) -> set[str]:
    """Definitions reached from ``roots`` through definition bodies.
    Matching is by name: a use of ``f`` reaches every top-level ``f``."""
    reached: set[str] = set()
    todo = set(roots) & set(defs)
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= (bodies.get(name, set()) & set(defs)) - reached
    return reached


def test_every_library_function_is_reached_or_kept():
    """Each top-level library function or class is reached from a
    query, tool or benchmark, or has a KEEP entry naming why a test
    needs it; a KEEP entry for a reached or vanished name is stale."""
    defs, bodies, used = _function_graph()
    reached = _closure(defs, bodies, used)
    kept = _closure(defs, bodies, used | set(KEEP))
    unreached = sorted(
        f"{path}: {name}"
        for name in set(defs) - kept for path in defs[name]
    )
    stale = sorted(n for n in KEEP if n not in defs or n in reached)
    assert not unreached, (
        f"{len(unreached)} library functions are reached by no query, "
        "tool or benchmark and have no KEEP reason:\n" + "\n".join(unreached)
    )
    assert not stale, (
        "KEEP entries that are now reached or no longer exist:\n"
        + "\n".join(stale)
    )
    assert all(r in "abcde" and text for r, text in KEEP.values())
