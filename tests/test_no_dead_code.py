"""Every top-level def in vtzero_spark/ has a product caller.

A source scan, no Spark. A def is used when its name appears as an
identifier (an ast.Name or an ast.Attribute) in the product:
vtzero_spark/, __spark_entry__.py, bench*.py, perfbench/ or tools/,
outside the def's own statement. Strings, comments, docstrings and
``__all__`` lists are not identifiers, so a mention there is not a use.
A test is not a caller: a reference the tests compare against lives
under tests/ (scalar_reference.py).

Exempt: DuckDB twins (``*_sql``), which are the oracles, and ALLOWED,
each entry with its category:

- (a) the only path for input the production path rejects
- (b) a vtzero public function the codec mirrors, cited by header:line
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
    # streaming twins of batch operators; no tool or query starts them
    "geofence_stream": ("test_geofence",),
    "sessionize_stream": ("test_regressions", "test_streaming_payload"),
    "sessionize_stream_native": ("test_streaming_payload",),
    "append_table_stream": ("test_table",),
    "dedup_stream": ("test_streaming_payload",),
    "exif_ingest_stream": ("test_streaming_payload",),
    "image_neardup_band_stream": ("test_streaming_payload",),
    "neardup_band_stream": ("test_streaming_payload",),
    "neardup_first_owners": ("test_streaming_payload",),
    "stream_encode_tiles": ("test_streaming_payload",),
    "stream_mbtiles_shards": ("test_mbtiles",),
    "tile_stream_counts": ("test_streaming_payload",),
    "transform_stream": ("test_transform_job",),
    "verify_payload_stream": ("test_streaming_payload",),
    "with_event_time": ("test_streaming_payload",),
    "flow_legs_stream": ("test_trajectory",),
    "track_stats_stream": ("test_trajectory",),
    "track_stops_stream": ("test_trajectory",),
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
    "device_positions": ("test_geofence",),
    "geofence_transitions": ("test_geofence",),
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


def _unused_defs(files, package: Path = PACKAGE,
                 root: Path = ROOT) -> dict[str, str]:
    """Top-level defs of ``package``'s files that no statement of
    ``files`` other than their own def names as an identifier:
    name -> path:line."""
    defs: dict[tuple[Path, str], int] = {}
    users: dict[str, set] = {}
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            own = (path, stmt.name) if isinstance(stmt, _DEF) else None
            if own and path.is_relative_to(package):
                defs[own] = stmt.lineno
            for name in _identifiers(stmt):
                users.setdefault(name, set()).add(own)
    return {name: f"{path.relative_to(root)}:{line}"
            for (path, name), line in defs.items()
            if not users.get(name, set()) - {(path, name)}}


def test_every_engine_def_has_a_product_caller():
    unused = _unused_defs(list(_product_files()))
    flagged = {n: at for n, at in unused.items()
               if not n.endswith("_sql") and n not in ALLOWED
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
    it."""
    pkg = tmp_path / "vtzero_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        '__all__ = ["only_named", "recursive", "called", "attr"]\n'
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
        "    return called()\n")
    unused = _unused_defs(sorted(pkg.glob("*.py")), pkg, tmp_path)
    assert set(unused) == {"only_named", "recursive", "f"}
