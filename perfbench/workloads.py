"""The three workloads: inputs, the timed job, the correctness gate and
the traced layer prefixes. Each drives the engine only through public
module functions of ``vtzero_spark``.

- tile_build: clustered images -> tiling.assign_tiles(buffer=64) ->
  assemble.encode_point_tiles_arrow. The write path; hotspots make a
  few tiles several times the mean, so skew in the one shuffle and the
  grouped Arrow stage shows. No rewrite, decode, join or kNN.
- tile_read: a tileset built in set-up from uniform images ->
  rewrite.rewrite_tiles(fmt == png) -> assemble.decode_tiles(
  properties=True), one action with no shuffle. The read path, the
  mvt codec in the other direction.
- spatial_join: clustered points x ~200 diamonds -> broadcast
  joins.pip_join, then knn.knn_join(k=5) for 20 query points. All JVM
  and driver work, no Python workers and no codec: the control for
  codec and assemble changes.
"""

from __future__ import annotations

import dataclasses
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtzero_spark.engine import assemble, joins, knn, rewrite, tiling
from vtzero_spark.engine.synth import EXTENT, ZOOM
from vtzero_spark.mvt import geometry as G
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V
from vtzero_spark.mvt.pbf import zigzag32_decode

import gen

# input sizes: a warm job takes ~1.5-2 s on 4 cores, so a 10 s timed
# phase holds 5-7 jobs and one run (JVM start, set-up, warm-up, timed
# jobs, gate) stays near 40 s
N_BUILD = 150_000
N_READ = 50_000
N_JOIN = 300_000
K = 5

# the property spec of __spark_entry__._features
PROP_SPEC = [("phash", 5, "phash"), ("fmt", 1, "fmt"), ("caption", 1, "caption")]
PNG = V.encode_value(V.VT_STRING, "png")


@dataclasses.dataclass
class Ctx:
    spark: SparkSession
    seed: int
    root: str  # the run's temp dir
    data: str = ""  # the input dir the jobs read
    rows: int = 0  # input rows of one job
    expected: tuple | None = None  # job summary proven by the gate
    measured: tuple | None = None  # the gate's own job summary
    out_bytes: float = 0  # out_bytes_per_row * rows

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(f"{self.data}/{name}")


def _duckdb(ctx: Ctx) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{ctx.root}/duckdb'")
    return con


def _xor(col: pa.ChunkedArray) -> int:
    """bit_xor of an int64 column, as Spark's bit_xor computes it."""
    v = np.bitwise_xor.reduce(col.to_numpy()) if len(col) else np.int64(0)
    return int(v)


# ------------------------------------------------------------ tile_build

def _features(img: DataFrame) -> DataFrame:
    """The point columns __spark_entry__._features hands the encoder."""
    f = tiling.assign_tiles(img, zoom=ZOOM, extent=EXTENT, buffer=gen.BUFFER)
    return f.select("z", "x", "y", "layer_name",
                    F.col("iid").alias("feature_ordinal"),
                    F.col("iid").alias("feature_id"),
                    "loc_x", "loc_y", "phash", "fmt", "caption")


def _encode(img: DataFrame) -> DataFrame:
    return assemble.encode_point_tiles_arrow(_features(img), prop_spec=PROP_SPEC)


def _tile_summary(tiles: DataFrame) -> DataFrame:
    return tiles.agg(F.count("*"), F.sum(F.octet_length("tile_bytes")),
                     F.expr("bit_xor(xxhash64(z, x, y, tile_bytes))"))


class TileBuild:
    """Each workload: setup -> inputs under ctx.data; job -> (summary,
    collected DataFrames); gate -> mismatches against the reference,
    setting ctx.expected; prefixes -> chains of (layer metric, DataFrame
    up to that layer) whose consecutive differences are self times;
    counts -> exact per-layer counts; sample_tiles -> codec input."""

    name = "tile_build"
    # untimed jobs before timing: the first job in a JVM runs 5-7x slow,
    # the next 1.1-1.3x; tile_build's grouped Arrow stage keeps getting
    # faster for two jobs more
    warmup_jobs = 4

    def setup(self, ctx: Ctx) -> dict:
        img = gen.images(ctx.seed, N_BUILD, clustered=True)
        gen.write(img, f"{ctx.data}/images", files=4)
        ctx.rows = img.num_rows
        return gen.tile_shape(img.column("wx").to_numpy(), img.column("wy").to_numpy())

    def job(self, ctx: Ctx):
        df = _tile_summary(_encode(ctx.read("images")))
        return tuple(df.collect()[0]), [df]

    def gate(self, ctx: Ctx) -> list[str]:
        """Decode every built tile with the pure mvt codec (inside Spark
        tasks) and compare each tile's features with DuckDB's
        tiling.assign_tiles_sql over the same parquet."""
        tiles = _encode(ctx.read("images")).withColumn(
            "h", F.expr("xxhash64(z, x, y, tile_bytes)"))
        got = tiles.mapInArrow(_mvt_decode_batches, schema=DECODED_SCHEMA).toArrow()
        ctx.expected = (got.num_rows, int(pc.sum(got["nbytes"]).as_py() or 0),
                        _xor(got["h"]))
        ctx.out_bytes = ctx.expected[1]
        flat = _flatten_tiles(got).sort_by([(c, "ascending") for c in ("z", "x", "y", "id")])
        with _duckdb(ctx) as con:
            want = con.sql(f"""
                WITH src AS (SELECT * FROM read_parquet('{ctx.data}/images/*.parquet'))
                SELECT z, x, y, layer_name, iid AS id, loc_x, loc_y, phash, fmt, caption
                FROM ({tiling.assign_tiles_sql('src', ZOOM, EXTENT, gen.BUFFER)}) t
                ORDER BY z, x, y, iid""").arrow()
        return _compare_tiles(flat, want)

    def prefixes(self, ctx: Ctx):
        img = ctx.read("images")
        return [[("scan.s", lambda: img.select(*IMG_COLS)),
                 ("tiling.s", lambda: _features(img)),
                 ("assemble.encode_s", lambda: _encode(img))]]

    def counts(self, ctx: Ctx) -> dict:
        return {"tiling.rows_out": _features(ctx.read("images")).count(),
                "assemble.tiles_out": ctx.expected[0],
                "assemble.bytes_out": ctx.expected[1]}

    def sample_tiles(self, ctx: Ctx) -> list[bytes]:
        keys = _tile_sample(ctx)
        cond = " OR ".join(f"(x = {x} AND y = {y})" for x, y in keys)
        rows = _encode(ctx.read("images")).where(cond).select("tile_bytes").collect()
        return [bytes(r[0]) for r in rows]


IMG_COLS = ["iid", "wx", "wy", "layer_name", "phash", "fmt", "caption"]

DECODED_SCHEMA = (
    "z long, x long, y long, nbytes long, h long, layer_name array<string>, "
    "id array<long>, loc_x array<long>, loc_y array<long>, phash array<long>, "
    "fmt array<string>, caption array<string>")


def _mvt_decode_batches(batches):
    """One output row per tile: its size, hash and every feature decoded
    by the reference codec (vtzero_spark.mvt), properties resolved
    through the layer's key/value tables."""
    names = ("z", "x", "y", "nbytes", "h", "layer_name", "id",
             "loc_x", "loc_y", "phash", "fmt", "caption")
    for rb in batches:
        cols = {k: [] for k in names}
        d = rb.to_pydict()
        for z, x, y, buf, h in zip(d["z"], d["x"], d["y"], d["tile_bytes"], d["h"]):
            layers = [_decode_layer(layer) for layer in T.parse_tile(buf)]
            for k, v in (("z", z), ("x", x), ("y", y), ("nbytes", len(buf)), ("h", h)):
                cols[k].append(v)
            for k in names[5:]:
                cols[k].append([v for lay in layers for v in lay[k]])
        yield pa.RecordBatch.from_pydict(cols)


def _decode_layer(layer: T.Layer) -> dict:
    fs = layer.features
    pts = np.array([_point(f) for f in fs], dtype=np.int64).reshape(-1, 2)
    keys = np.array([k.decode() for k in layer.keys] + [None], dtype=object)
    vals = np.array([V.decode_value(v)[1] for v in layer.values] + [None], dtype=object)
    out = {"layer_name": [layer.name] * len(fs), "id": [f.id for f in fs],
           "loc_x": pts[:, 0].tolist(), "loc_y": pts[:, 1].tolist()}
    width = max((f.tags.size for f in fs), default=0)
    # pad ragged tag lists with the (None, None) sentinel entries
    tags = np.full((len(fs), width), len(layer.values), dtype=np.int64)
    tags[:, 0::2] = len(layer.keys)
    for i, f in enumerate(fs):
        tags[i, :f.tags.size] = f.tags
    for name in ("phash", "fmt", "caption"):
        col = np.full(len(fs), None, dtype=object)
        for j in range(0, width, 2):
            hit = keys[tags[:, j]] == name
            col[hit] = vals[tags[hit, j + 1]]
        out[name] = col.tolist()
    return out


def _point(f: T.Feature) -> tuple[int, int]:
    g = f.geometry
    if f.geom_type == G.GEOM_POINT and g.size == 3 and g[0] == 9:  # MoveTo(1)
        return int(zigzag32_decode(int(g[1]))), int(zigzag32_decode(int(g[2])))
    (pt,), _ = G.decode_geometry(f.geom_type, g, f.geometry_nbytes)
    return int(pt[0, 0]), int(pt[0, 1])


def _flatten_tiles(got: pa.Table) -> pa.Table:
    lens = pc.list_value_length(got["id"]).to_numpy()
    out = {k: np.repeat(got[k].to_numpy(), lens) for k in ("z", "x", "y")}
    for k in ("layer_name", "id", "loc_x", "loc_y", "phash", "fmt", "caption"):
        out[k] = pc.list_flatten(got[k])
    return pa.table(out)


def _compare_tiles(got: pa.Table, want: pa.Table) -> list[str]:
    """Per-tile feature counts, then every (layer, id, loc, property)."""
    errors = []
    cg = _tile_counts(got)
    cw = _tile_counts(want)
    bad = [k for k in cw.keys() | cg.keys() if cg.get(k) != cw.get(k)]
    if bad:
        errors.append(f"{len(bad)} tiles differ in feature count, e.g. {sorted(bad)[:3]}")
    else:
        for c in want.column_names:
            if not got[c].cast(want[c].type).equals(want[c]):
                errors.append(f"column {c} differs")
    return errors


def _tile_counts(t: pa.Table) -> dict:
    agg = t.group_by(["z", "x", "y"]).aggregate([("id", "count")])
    return {k: n for k, n in zip(zip(agg["z"].to_pylist(), agg["x"].to_pylist(),
                                     agg["y"].to_pylist()),
                                 agg["id_count"].to_pylist())}


def _tile_sample(ctx: Ctx, n: int = 16) -> list[tuple[int, int]]:
    rng = np.random.default_rng([ctx.seed, 99])
    side = 1 << ZOOM
    cells = rng.choice(side * side, size=n, replace=False)
    return [(int(c // side), int(c % side)) for c in cells]


# ------------------------------------------------------------- tile_read

class TileRead:
    name = "tile_read"
    warmup_jobs = 2

    def setup(self, ctx: Ctx) -> dict:
        img = gen.images(ctx.seed, N_READ, clustered=False)
        gen.write(img, f"{ctx.data}/images", files=4)
        _encode(ctx.read("images")).repartition(4).write.parquet(f"{ctx.data}/tiles")
        shape = gen.tile_shape(img.column("wx").to_numpy(), img.column("wy").to_numpy())
        ctx.rows = shape["features"]
        return shape

    def _decoded(self, ctx: Ctx) -> DataFrame:
        kept = rewrite.rewrite_tiles(ctx.read("tiles"), key="fmt", value="png")
        return assemble.decode_tiles(kept, properties=True)

    def job(self, ctx: Ctx):
        df = self._decoded(ctx).agg(
            F.count("*"),
            F.sum((F.col("decode_status") != "ok").cast("long")),
            F.sum((F.col("properties")["fmt"]["sval"] == "png").cast("long")),
            F.expr("bit_xor(xxhash64(z, x, y, layer_name, feature_id, geometry))"))
        return tuple(df.collect()[0]), [df]

    def gate(self, ctx: Ctx) -> list[str]:
        """Kept features equal the fmt='png' count of the buffered
        assignment (DuckDB), every decode_status is ok and every kept
        feature's decoded fmt is png."""
        with _duckdb(ctx) as con:
            png = con.sql(f"""
                WITH src AS (SELECT * FROM read_parquet('{ctx.data}/images/*.parquet'))
                SELECT count(*) FROM
                ({tiling.assign_tiles_sql('src', ZOOM, EXTENT, gen.BUFFER)}) t
                WHERE fmt = 'png'""").fetchone()[0]
        summary, _ = self.job(ctx)
        ctx.measured = summary
        ctx.expected = (png, 0, png, summary[3])
        kept = rewrite.rewrite_tiles(ctx.read("tiles"), key="fmt", value="png")
        ctx.out_bytes = kept.agg(F.sum(F.octet_length("tile_bytes"))).collect()[0][0]
        return [] if summary == ctx.expected else [f"got {summary}, want {ctx.expected}"]

    def prefixes(self, ctx: Ctx):
        tiles = ctx.read("tiles")
        return [[("scan.s", lambda: tiles),
                 ("rewrite.s", lambda: rewrite.rewrite_tiles(tiles, key="fmt", value="png")),
                 ("assemble.decode_s", lambda: self._decoded(ctx))]]

    def counts(self, ctx: Ctx) -> dict:
        return {"assemble.decode_errors": ctx.measured[1],
                "rewrite.keep_ratio": ctx.measured[0] / ctx.rows,
                "rewrite.bytes_out": ctx.out_bytes}

    def sample_tiles(self, ctx: Ctx) -> list[bytes]:
        keys = set(_tile_sample(ctx))
        tbl = pq.read_table(f"{ctx.data}/tiles")
        return [bytes(b) for x, y, b in zip(tbl["x"].to_pylist(), tbl["y"].to_pylist(),
                                            tbl["tile_bytes"].to_pylist())
                if (x, y) in keys]


# ---------------------------------------------------------- spatial_join

class SpatialJoin:
    name = "spatial_join"
    warmup_jobs = 2

    def setup(self, ctx: Ctx) -> dict:
        pts = gen.points(ctx.seed, N_JOIN)
        polys = gen.polygons(ctx.seed)
        gen.write(pts, f"{ctx.data}/points", files=4)
        gen.write(polys, f"{ctx.data}/polys", files=1)
        gen.write(gen.queries(ctx.seed), f"{ctx.data}/queries", files=1)
        ctx.rows = pts.num_rows
        return gen.pip_shape(pts, polys)

    def _pip(self, ctx: Ctx) -> DataFrame:
        return joins.pip_join(ctx.read("points"), ctx.read("polys"))

    def _knn(self, ctx: Ctx) -> DataFrame:
        return knn.knn_join(ctx.spark, ctx.read("points"), ctx.read("queries"), k=K)

    def job(self, ctx: Ctx):
        pip = self._pip(ctx).agg(F.count("*"), F.expr("bit_xor(xxhash64(image_id, pid))"))
        a = tuple(pip.collect()[0])
        nn = self._knn(ctx).agg(
            F.count("*"), F.expr("bit_xor(xxhash64(qid, image_id, dist_sq, rank))"))
        return a + tuple(nn.collect()[0]), [pip, nn]

    def gate(self, ctx: Ctx) -> list[str]:
        """PIP and kNN rows equal DuckDB's joins.pip_join_sql and
        knn.knn_sql exactly."""
        pip = self._pip(ctx).withColumn("h", F.expr("xxhash64(image_id, pid)")).toArrow()
        nn = self._knn(ctx).withColumn(
            "h", F.expr("xxhash64(qid, image_id, dist_sq, rank)")).toArrow()
        ctx.expected = (pip.num_rows, _xor(pip["h"]), nn.num_rows, _xor(nn["h"]))
        pip, nn = pip.drop_columns(["h"]), nn.drop_columns(["h"])
        # the results as returned, all columns, per result row
        ctx.out_bytes = (pip.nbytes + nn.nbytes) / (pip.num_rows + nn.num_rows) * ctx.rows
        with _duckdb(ctx) as con:
            for name in ("points", "polys", "queries"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{ctx.data}/{name}/*.parquet')")
            want_pip = con.sql(f"SELECT * FROM ({joins.pip_join_sql('points', 'polys')}) "
                               "ORDER BY image_id, pid").arrow()
            want_nn = con.sql(f"SELECT * FROM ({knn.knn_sql('points', 'queries', K)}) "
                              "ORDER BY qid, rank").arrow()
        errors = []
        got_pip = pip.select(["image_id", "pid"]).sort_by([("image_id", "ascending"),
                                                           ("pid", "ascending")])
        if not got_pip.equals(want_pip.cast(got_pip.schema)):
            errors.append(f"pip rows differ: {got_pip.num_rows} vs {want_pip.num_rows}")
        got_nn = nn.select(["qid", "image_id", "dist_sq", "rank"]).sort_by(
            [("qid", "ascending"), ("rank", "ascending")])
        if not got_nn.equals(want_nn.cast(got_nn.schema)):
            errors.append(f"knn rows differ: {got_nn.num_rows} vs {want_nn.num_rows}")
        return errors

    def prefixes(self, ctx: Ctx):
        pts = ctx.read("points")
        return [[("scan.s", lambda: pts), ("joins.pip_s", lambda: self._pip(ctx))],
                [("knn.s", lambda: self._knn(ctx))]]

    def counts(self, ctx: Ctx) -> dict:
        """Candidates: points joined to the covering cells of
        joins.polygon_cell_index, before pip_join's bbox and ring refine."""
        cand = (ctx.read("points").withColumn("cell_x", F.expr(f"wx div {EXTENT}"))
                .withColumn("cell_y", F.expr(f"wy div {EXTENT}"))
                .join(F.broadcast(joins.polygon_cell_index(ctx.read("polys"))),
                      ["cell_x", "cell_y"]).count())
        return {"joins.pip_candidates": cand, "joins.pip_matches": ctx.expected[0],
                "joins.pip_match_ratio": ctx.expected[0] / max(cand, 1)}

    def sample_tiles(self, ctx: Ctx) -> list[bytes]:
        return []


WORKLOADS = {w.name: w for w in (TileBuild(), TileRead(), SpatialJoin())}
