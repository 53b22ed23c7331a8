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

and the read path on two tile sets, the perfbench ``tile_read`` tileset
(seed 3; cases ``tileset_*``) and a corpus of mvt-fixture style tiles,
valid and malformed, plus seeded byte mutations of them (``fixtures_*``):

- ``*_eq`` / ``*_in`` / ``*_has`` / ``*_layer``: ``rewrite_tiles`` with
  an equality predicate, an IN-set, a has-key predicate and a layer
  selector, by ``(z,x,y)``
- ``*_decode`` / ``*_decode_props``: ``decode_tiles`` with
  ``properties=False`` and ``True``, every column of every row
  (``decode_status`` included), by ``(z,x,y,layer_ordinal,
  feature_ordinal)``

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


def _rows(df):
    """Decoded feature rows by (z, x, y, layer_ordinal, feature_ordinal);
    each row is compared as the repr of all its columns (NaN equals
    NaN)."""
    return {(r["z"], r["x"], r["y"], r["layer_ordinal"],
             r["feature_ordinal"]): repr(r.asDict(recursive=True))
            for r in df.collect()}


# ------------------------------------------------ fixture corpus (read)

def _fixture_corpus(n_mutants: int = 400) -> list[bytes]:
    """mvt-fixture style tiles (the reference's fixture cases: every
    value type, dangling key and value indexes, unknown value types,
    bad versions, missing names, bad geometry types, duplicate keys,
    invalid UTF-8, multi-byte keys) and seeded byte mutations of them,
    built with this tree's protobuf and fixture builders."""
    import random

    from test_mvt_fixtures import POINT_25_17, feat, layer, tile
    from vtzero_spark.mvt import pbf
    from vtzero_spark.mvt import tile as T
    from vtzero_spark.mvt import values as V

    def pt(fid=None, gtype=1, geom=POINT_25_17, tags=None):
        if geom is None:
            return feat(fid, gtype, geom, tags)
        return T.build_feature(fid, gtype, geom, tags)

    s = lambda v: V.encode_value(V.VT_STRING, v)  # noqa: E731
    vals = [s("ello"), V.encode_value(V.VT_BOOL, True),
            V.encode_value(V.VT_INT, 6), V.encode_value(V.VT_DOUBLE, 1.23),
            V.encode_value(V.VT_FLOAT, 3.1), V.encode_value(V.VT_SINT, -87948),
            V.encode_value(V.VT_UINT, 87948),
            V.encode_value(V.VT_UINT, 2**64 - 1), V.encode_value(V.VT_INT, -5),
            pbf.varint_field(9, 1), s(b"\xff\xfeok"),
            b"\x8a\x00\x02hi", b"", b"\x0a\x09short"]  # 2-byte key, empty, truncated
    base = [
        tile(),
        tile(layer(feats=[pt()])),
        tile(layer(feats=[pt(i, 1, tags=[0, i]) for i in range(len(vals))],
                   keys=[b"k"], values=vals)),
        tile(layer(feats=[pt(1, tags=[1, 0])], keys=[b"key1"],
                   values=[s("v")])),                           # 040
        tile(layer(feats=[pt(1, tags=[0, 1])], keys=[b"key1"],
                   values=[s("v")])),                           # 042
        tile(layer(feats=[pt(1, tags=[0, 0, 1, 1, 2, 2])],
                   keys=[b"a", b"a", b"\xff"],
                   values=[s("x"), s("y"),
                           V.encode_value(V.VT_BOOL, False)])),  # dup keys
        tile(layer(version=3, feats=[pt()])),                   # 012
        tile(layer(name=None, feats=[pt()])),                   # 014
        tile(layer(feats=[pt()]), layer(feats=[pt(2)])),        # 015
        tile(layer(feats=[pt(geom=None)])),                     # 004
        tile(layer(feats=[pt(gtype=9)])),                       # 006
        tile(layer(feats=[pt()], extent=None,
                   extra=pbf.len_field(5, b"4096"))),           # 008
        tile(layer(feats=[pt(tags=[0, 0])], keys=[pbf.varint_field(3, 1)],
                   values=[s("v")])),                           # 013
        tile(layer(name=b"L\xffx", version=1, extent=512,
                   feats=[pt(None, 2, [9, 0, 0, 18, 2, 2, 4, 4], [0, 0])],
                   keys=[b"k"], values=[s("w")])),
        tile(layer(feats=[pt(tags=[0, 0, 1])], keys=[b"k"],
                   values=[s("v")])),                           # 005
        b"\x1a\x05garb",
    ]
    rng = random.Random(20261019)
    mutants = []
    for _ in range(n_mutants):
        b = bytearray(rng.choice(base[1:-1]))
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        if rng.random() < 0.2:
            b = b[:rng.randrange(1, len(b) + 1)]
        mutants.append(bytes(b))
    return base + mutants


def _read_cases(res: dict, inputs: dict) -> None:
    """``inputs``: set name -> (tiles, (eq key, value), (in key,
    values), has key, layer) for its rewrite predicates."""
    from vtzero_spark.engine import assemble, rewrite

    for name, (tiles, eq, in_, has, layer) in inputs.items():
        res[f"{name}_eq"] = _tiles(
            rewrite.rewrite_tiles(tiles, key=eq[0], value=eq[1]))
        res[f"{name}_in"] = _tiles(
            rewrite.rewrite_tiles(tiles, key=in_[0], value=in_[1]))
        res[f"{name}_has"] = _tiles(rewrite.rewrite_tiles(tiles, key=has))
        res[f"{name}_layer"] = _tiles(
            rewrite.rewrite_tiles(tiles, layer=layer))
        res[f"{name}_decode"] = _rows(assemble.decode_tiles(tiles))
        res[f"{name}_decode_props"] = _rows(
            assemble.decode_tiles(tiles, properties=True))


def _read_inputs(spark, corpus: str) -> dict:
    import gen
    import workloads

    tileset = workloads._encode(spark.createDataFrame(
        gen.images(3, workloads.N_READ, clustered=False).to_pandas())
    ).localCheckpoint()
    with open(corpus, "rb") as fh:
        bufs = pickle.load(fh)
    fixtures = spark.createDataFrame(
        [(14, i, 0, bytearray(b)) for i, b in enumerate(bufs)],
        "z long, x long, y long, tile_bytes binary")
    caps = [f"cap {i}" for i in range(0, 2000, 7)]
    return {"tileset": (tileset, ("fmt", "png"), ("caption", caps),
                        "caption", "L1"),
            "fixtures": (fixtures, ("k", "ello"), ("k", ["ello", "v", "x"]),
                         "k", "hello")}


def _encode_cases(res: dict, spark, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    import gen
    import workloads
    from vtzero_spark.engine import (
        assemble, enrich, geojson, geomops, synth, tiling)
    from vtzero_spark.engine.synth import EXTENT, ZOOM

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
    for name, make in (("rect", geomops.rect_stream_features),
                       ("path", geomops.path_stream_features),
                       ("donut", geomops.donut_stream_features)):
        f = make(assigned)
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


def _dump(sf_dir: str, out: str, corpus: str) -> None:
    """Run every case with the tree on sys.path[0]; pickle the outputs
    to ``out``."""
    sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]
    from vtzero_spark.engine.session import get_spark

    spark = get_spark("encoder_identity", cores=4, shuffle_partitions=8)
    res = {}
    _read_cases(res, _read_inputs(spark, corpus))
    _encode_cases(res, spark, sf_dir)
    spark.stop()
    with open(out, "wb") as fh:
        pickle.dump(res, fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("other", help="the other source tree")
    ap.add_argument("--sf", required=True,
                    help="synth data dir (sf0.1) for the geometry cases")
    ap.add_argument("--dump", help=argparse.SUPPRESS)
    ap.add_argument("--corpus", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.dump:
        _dump(args.sf, args.dump, args.corpus)
        return 0

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # this tree builds the corpus that both trees read
    sys.path[:0] = [here, os.path.join(here, "tests")]
    script = os.path.abspath(__file__)
    outs = {}
    with tempfile.TemporaryDirectory() as tmp:
        corpus = os.path.join(tmp, "corpus.pkl")
        with open(corpus, "wb") as fh:
            pickle.dump(_fixture_corpus(), fh)
        for tag, tree in (("other", os.path.abspath(args.other)),
                          ("this", here)):
            outs[tag] = os.path.join(tmp, f"{tag}.pkl")
            subprocess.run(
                [sys.executable, script, tree, "--sf", args.sf,
                 "--corpus", corpus,
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
