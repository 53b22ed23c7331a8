"""Every top-level def and module-level constant in vtzero_spark/ has
a product caller.

A source scan, no Spark. A def (function or class) or a constant (a
name bound by a top-level assignment) is used when its name appears as
an identifier (an ast.Name or an ast.Attribute) in the product:
vtzero_spark/, __spark_entry__.py, bench*.py, perfbench/ or tools/,
outside the statement that defines it. Strings, comments, docstrings
and ``__all__`` lists are not identifiers, so a mention there is not a
use. A test is not a caller: a reference the tests compare against
lives under tests/ (scalar_reference.py).

Exempt: dunders, DuckDB twins (``*_sql`` functions and ``*_SQL``
strings), which are the oracles, and ALLOWED, each entry with its
category:

- (a) the only path for input the production path rejects
- (b) a vtzero public name the codec mirrors, cited by header:line
- (c) the client reader of an archive format the engine writes

PENDING lists the engine defs that only tests still call, each with
the test files that exercise it: the deletions still to make. An entry
must leave the list once its def is deleted or gains a product caller,
and a def the product stops calling is flagged, not added here.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "vtzero_spark"

ALLOWED = {
    "encode_layers": (
        "a", "the per-feature encoder for multi-part geometries and "
        "per-row props; the fast encoders' errors name it"),
    "is_vector_tile": ("b", "is_vector_tile, vector_tile.hpp:284-286"),
    "get_layer": (
        "b", "vector_tile::get_layer, vector_tile.hpp:184-197, and "
        "get_layer_by_name, vector_tile.hpp:214-271"),
    "typed_accessor": (
        "b", "property_value's typed accessors throw type_exception on "
        "a type mismatch, property_value.hpp:86-103,160-228"),
    "format_index": ("b", "operator<< for index_value, output.hpp:40-46"),
    "format_index_pair": (
        "b", "operator<< for index_value_pair, output.hpp:48-55"),
    "format_point": ("b", "operator<< for point, output.hpp:57-60"),
    "geom_type_name": ("b", "geom_type_name, types.hpp:62-67"),
    "property_value_type_name": (
        "b", "property_value_type_name, types.hpp:83-88"),
    "GEOM_UNKNOWN": ("b", "GeomType::UNKNOWN, types.hpp:52-57"),
    "MAX_POINTS": (
        "b", "the builder's 0 < count < 2^29 point bound, "
        "builder.hpp:377-381"),
    "get_tile": (
        "c", "one-tile client lookup in the PMTiles archive "
        "pmtiles.write_pmtiles writes"),
    "read_pmtiles_metadata": (
        "c", "metadata reader of the PMTiles archive "
        "pmtiles.write_pmtiles writes"),
    "read_mbtiles_metadata": (
        "c", "metadata reader of the MBTiles file mbtiles.write_mbtiles "
        "writes"),
    "read_checkpointed": (
        "c", "manifest reader of the checkpoint directory "
        "checkpoint.run_with_checkpoint writes (tools/pipeline_job.py)"),
}

PENDING = {
    # operators and helpers no query, bench leaf or tool calls
    "select_layer": ("test_layer_passthrough",),
    "read_bucketed": ("test_bucketed",),
    "write_bucketed": ("test_bucketed",),
    "buffer_tiles": ("test_buffer",),
    "children_cells": ("test_geom_cells",),
    "compact_all": ("test_engine_spark",),
    "vacuum": ("test_engine_spark",),
    "composite_tiles": ("test_composite",),
    "tile_diff_summary": ("test_diff",),
    "dissolve_tiles": ("test_dissolve",),
    "oriented_phash": ("test_exif",),
    "geohash_col": ("test_geohash",),
    "geohash_decode": ("test_geohash",),
    "to_features": ("test_geojson", "test_polylabel"),
    "cmds_from_parts": ("test_geojson", "test_linemerge", "test_repair"),
    "heatmap_png_tiles": ("test_heatmap",),
    "hex_distance": ("test_hexcells",),
    "hex_kring": ("test_hexcells",),
    "dedup_phash": ("test_imagehash", "test_payload"),
    "dedup_phash_multires": ("test_imagehash",),
    "point_in_ring_udf": ("test_engine_spark",),
    "label_lines": ("test_linelabel",),
    "lint_mvt_files": ("test_lint",),
    "return_codes": ("test_clip_simplify", "test_lint"),
    "project": ("test_mercator",),
    "encode_geom_tokens": ("test_output_format",),
    "format_command_stream": ("test_output_format",),
    "geom_type_label": ("test_output_format",),
    "value_type_label": ("test_output_format",),
    "curate_images_fused": ("test_payload",),
    "image_quality": ("test_payload",),
    "repair_features": ("test_repair",),
    "isochrone_tiles": ("test_route",),
    "tolerance_for_zoom": ("test_clip_simplify",),
    "pq_encode": ("test_streaming_payload",),
    "cluster_leaves": ("test_supercluster",),
    "expansion_zooms": ("test_supercluster",),
    "thin_pyramid": ("test_thin",),
    "pyramid_tiles": ("test_visvalingam",),
    "voronoi_mvt_tiles": ("test_voronoi_mvt",),
    "wkt_expr": ("test_wkb",),
}


def _product_files():
    yield from sorted(PACKAGE.rglob("*.py"))
    yield ROOT / "__spark_entry__.py"
    yield from sorted(ROOT.glob("bench*.py"))
    for d in ("perfbench", "tools"):
        yield from sorted((ROOT / d).rglob("*.py"))


def _identifiers(node: ast.AST) -> set[str]:
    return {n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a def's name, or the names
    an assignment binds (dunders excluded)."""
    if isinstance(stmt, _DEF):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            and not (n.id.startswith("__") and n.id.endswith("__"))]


def _unused_defs(files, package: Path = PACKAGE,
                 root: Path = ROOT) -> dict[str, str]:
    """Top-level defs and constants of ``package``'s files that no
    statement of ``files`` other than the one defining them names as
    an identifier: name -> path:line."""
    defs: dict[tuple[Path, str], tuple[int, tuple]] = {}
    users: dict[str, set] = {}
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        for i, stmt in enumerate(tree.body):
            own = (path, i)
            if path.is_relative_to(package):
                for name in _defined(stmt):
                    defs[(path, name)] = (stmt.lineno, own)
            for name in _identifiers(stmt):
                users.setdefault(name, set()).add(own)
    return {name: f"{path.relative_to(root)}:{line}"
            for (path, name), (line, own) in defs.items()
            if not users.get(name, set()) - {own}}


def test_every_engine_def_has_a_product_caller():
    unused = _unused_defs(list(_product_files()))
    flagged = {n: at for n, at in unused.items()
               if not n.endswith(("_sql", "_SQL")) and n not in ALLOWED
               and n not in PENDING}
    assert flagged == {}, (
        "no product caller: delete these defs (with the tests that "
        "only exercise them) or move test references under tests/")
    stale = sorted(n for n in (*ALLOWED, *PENDING) if n not in unused)
    assert stale == [], "used or deleted now: drop from ALLOWED/PENDING"


def test_lists_are_well_formed():
    """Every ALLOWED entry names its category and a reason; every
    PENDING entry names test files that use the def."""
    assert all(cat in ("a", "b", "c") and reason
               for cat, reason in ALLOWED.values())
    assert not set(ALLOWED) & set(PENDING)
    tests = Path(__file__).parent
    for name, files in PENDING.items():
        for f in files:
            path = tests / f"{f}.py"
            assert name in _identifiers(ast.parse(path.read_text())), (
                name, f)


def test_scan_sees_identifiers_not_text(tmp_path):
    """Only identifier uses count: a mention in a string, a docstring,
    a comment or __all__ leaves a def unused, and so does a call from
    inside its own body; a call or attribute access elsewhere uses
    it. A module-level constant is a def too: unused until another
    statement reads it; dunders are not scanned."""
    pkg = tmp_path / "vtzero_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        '__all__ = ["only_named", "recursive", "called", "attr"]\n'
        "UNREAD, READ = 1, 2\n"
        "LIMIT: int = UNREAD\n"
        "def only_named():\n"
        '    """called attr"""\n'
        "    # recursive()\n"
        '    return "only_named"\n'
        "def recursive(n):\n"
        "    return recursive(n - 1) if n else 0\n"
        "def called():\n"
        "    return 1\n"
        "class attr:\n"
        "    pass\n")
    (pkg / "user.py").write_text(
        "from . import m\n"
        "X = m.attr\n"
        "def f():\n"
        "    return called() + m.READ\n")
    unused = _unused_defs(sorted(pkg.glob("*.py")), pkg, tmp_path)
    assert set(unused) == {"only_named", "recursive", "f", "X", "LIMIT"}
