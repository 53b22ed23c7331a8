"""Encoder byte identity between two source trees.

Runs the tile encoders of this tree and of another checkout (say the
parent commit, exported with ``git archive``) on the same inputs, one
child process per tree, and compares the outputs by key:

- ``point_tiles`` / ``point_layers``: ``encode_point_tiles`` and
  ``encode_point_layers`` on the perfbench ``tile_build`` input (seed 7)
- ``geom_{rect,path,donut}[_props]``: ``encode_geom_tiles`` on the
  ``geomops.*_stream_features`` streams, without and with a string
  property
- ``geojson`` / ``geojson_coalesce``: ``geojson_to_tiles`` on the
  polygon GeoJSON lines of the bench's ``geojson_tiles`` query
- ``join_attrs``: ``enrich.join_attributes`` as in the ``join_attrs``
  query

Usage (from the repo root):

    git archive <rev> | tar -x -C /tmp/parent
    python tools/encoder_identity.py /tmp/parent --sf <synth sf0.1 dir>

Prints one line per case (keys on each side, equal keys, the first
differing keys) and exits 1 if any case differs.
"""

from __future__ import annotations

import argparse
import os
import pickle
import subprocess
import sys
import tempfile


def _tiles(df):
    return {(r["z"], r["x"], r["y"]): (r["num_layers"], bytes(r["tile_bytes"]))
            for r in df.collect()}


def _dump(sf_dir: str, out: str) -> None:
    """Encode every case with the tree on sys.path[0]; pickle the
    outputs to ``out``."""
    sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    import gen
    import workloads
    from vtzero_spark.engine import (
        assemble, enrich, geojson, geomops, synth, tiling)
    from vtzero_spark.engine.session import get_spark
    from vtzero_spark.engine.synth import EXTENT, ZOOM

    spark = get_spark("encoder_identity", cores=4, shuffle_partitions=8)
    res = {}
    img = spark.createDataFrame(
        gen.images(7, workloads.N_BUILD, clustered=True).to_pandas())
    feats = workloads._features(img)
    spec = workloads.PROP_SPEC
    res["point_tiles"] = _tiles(assemble.encode_point_tiles(feats, spec))
    res["point_layers"] = {
        (r["z"], r["x"], r["y"], r["layer_name"]):
        (r["num_features"], r["key_table_size"], r["value_table_size"],
         bytes(r["layer_bytes"]))
        for r in assemble.encode_point_layers(feats, spec).collect()}

    images = synth.images(spark, sf_dir)
    assigned = tiling.assign_tiles(images, zoom=ZOOM, extent=EXTENT, buffer=0)
    region = [("region", 1, "region")]
    for name in ("rect", "path", "donut"):
        f = getattr(geomops, f"{name}_stream_features")(assigned)
        res[f"geom_{name}"] = _tiles(assemble.encode_geom_tiles(f))
        f = f.withColumn("region", F.concat(
            F.lit("R"), (F.col("feature_id") % 7).cast("string")))
        res[f"geom_{name}_props"] = _tiles(
            assemble.encode_geom_tiles(f, prop_spec=region))

    lines = images.select(F.format_string(
        '{"type":"Feature","id":%d,"properties":{},'
        '"geometry":{"type":"Polygon","coordinates":'
        '[[[%d,%d],[%d,%d],[%d,%d],[%d,%d],[%d,%d]]]}}',
        "iid", "wx", "wy",
        F.col("wx") + F.col("w"), "wy",
        F.col("wx") + F.col("w"), F.col("wy") + F.col("h"),
        "wx", F.col("wy") + F.col("h"), "wx", "wy").alias("geojson"))
    res["geojson"] = _tiles(geojson.geojson_to_tiles(lines, ZOOM, EXTENT,
                                                     buffer=64))
    res["geojson_coalesce"] = _tiles(geojson.geojson_to_tiles(
        lines, ZOOM, EXTENT, buffer=64, coalesce_lines=True))

    f = entry._features(spark, sf_dir).withColumn(
        "region", F.concat(F.lit("R"), (F.col("phash") % 64).cast("string")))
    tiles = assemble.encode_point_tiles(
        f.select(*entry.POINT_COLS, "region"),
        prop_spec=entry.PROP_SPEC_REGION)
    attrs = spark.range(48).select(
        F.concat(F.lit("R"), F.col("id").cast("string")).alias("region"),
        ((F.col("id") * 7) % 64 + 1).alias("weight"),
        F.concat(F.lit("C"), (F.col("id") % 5).cast("string")).alias("cls"))
    res["join_attrs"] = _tiles(enrich.join_attributes(
        tiles, attrs, key_prop=("region", 1),
        base_spec=[("phash", 5), ("fmt", 1), ("caption", 1), ("region", 1)],
        attr_spec=[("weight", 5, "weight"), ("cls", 1, "cls")], how="inner"))
    spark.stop()
    with open(out, "wb") as fh:
        pickle.dump(res, fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("other", help="the other source tree")
    ap.add_argument("--sf", required=True,
                    help="synth data dir (sf0.1) for the geometry cases")
    ap.add_argument("--dump", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.dump:
        _dump(args.sf, args.dump)
        return 0

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.abspath(__file__)
    outs = {}
    with tempfile.TemporaryDirectory() as tmp:
        for tag, tree in (("other", os.path.abspath(args.other)),
                          ("this", here)):
            outs[tag] = os.path.join(tmp, f"{tag}.pkl")
            subprocess.run(
                [sys.executable, script, tree, "--sf", args.sf,
                 "--dump", outs[tag]],
                cwd=tree, check=True,
                env={**os.environ, "PYTHONPATH": tree})
        res = {}
        for tag, path in outs.items():
            with open(path, "rb") as fh:
                res[tag] = pickle.load(fh)
    other, this = res["other"], res["this"]
    bad = 0
    for case in other:
        a, b = other[case], this[case]
        diff = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
        bad += bool(diff)
        print(f"{case}: other={len(a)} this={len(b)} "
              f"equal={len(a) - len(diff) if len(a) == len(b) else '-'} "
              f"differ={len(diff)} {diff[:5] if diff else ''}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
