"""Seeded input generator for the benchmark workloads.

Everything is built in the driver with numpy/pyarrow, outside Spark,
so set-up time does not depend on any Spark job. The engine only ever
sees the parquet files written here.

World model (same as ``vtzero_spark.engine.synth``): integer world of
WORLD = 2^16 units per axis, ZOOM 4 tiles of EXTENT 4096 units.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from vtzero_spark.engine.synth import EXTENT, WORLD

HOT_GRID = (6, 4)
HOTSPOTS = HOT_GRID[0] * HOT_GRID[1]
HOT_SIGMA = 600.0
HOT_JITTER = 512  # + 2 sigma stays inside the 4096-unit tile
HOT_SHARE = 0.7
BUFFER = 64
N_POLYS = 200
BIG_R = 30000  # one huge polygon, the skew source of synth.polygons
N_QUERIES = 20

# independent seed streams per input kind, so a workload's inputs do
# not shift when another workload's sizes change
STREAM_IMAGES, STREAM_POINTS, STREAM_POLYS, STREAM_QUERIES = range(4)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def hotspot_centers(rng: np.random.Generator) -> np.ndarray:
    """One center per cell of a HOT_GRID grid, in the tile nearest the
    cell's middle, jittered by up to HOT_JITTER around that tile's
    center. Seeds move the hotspots but keep each in its own tile, so
    per-tile load, and with it the shuffle's partition layout, hardly
    changes between seeds."""
    gx, gy = HOT_GRID
    ntiles = WORLD // EXTENT
    tx = ((np.arange(gx) + 0.5) * ntiles / gx).astype(int)
    ty = ((np.arange(gy) + 0.5) * ntiles / gy).astype(int)
    tiles = np.array([(x, y) for x in tx for y in ty], dtype=float)
    jitter = rng.uniform(-HOT_JITTER, HOT_JITTER, size=(len(tiles), 2))
    return (tiles + 0.5) * EXTENT + jitter


def positions(rng: np.random.Generator, n: int, clustered: bool):
    """(wx, wy) int64 world coords: uniform, or ~70% in Gaussian
    hotspots (sigma 600 units) and the rest uniform."""
    if not clustered:
        return (rng.integers(0, WORLD, n, dtype=np.int64),
                rng.integers(0, WORLD, n, dtype=np.int64))
    centers = hotspot_centers(rng)
    hot = rng.random(n) < HOT_SHARE
    which = rng.integers(0, HOTSPOTS, n)
    xy = rng.uniform(0, WORLD, size=(n, 2))
    nh = int(hot.sum())
    xy[hot] = centers[which[hot]] + rng.normal(0.0, HOT_SIGMA, size=(nh, 2))
    xy = np.clip(np.floor(xy), 0, WORLD - 1).astype(np.int64)
    return xy[:, 0].copy(), xy[:, 1].copy()


def _prefixed(prefix: str, ids: pa.Array, width: int = 0) -> pa.Array:
    s = pc.cast(ids, pa.string())
    if width:
        s = pc.utf8_lpad(s, width, "0")
    return pc.binary_join_element_wise(pa.scalar(prefix), s, "")


def images(seed: int, n: int, clustered: bool) -> pa.Table:
    """The image+caption table: BASELINE.json input_hint columns
    (image_id, bytes, w, h, fmt, caption, phash) plus iid, wx, wy and
    layer_name. iid is unique; wx, wy follow ``positions``."""
    rng = _rng(seed, STREAM_IMAGES)
    iid = np.arange(1, n + 1, dtype=np.int64)
    wx, wy = positions(rng, n, clustered)
    iid_a = pa.array(iid)
    sizes = np.array([16, 32, 64, 256], dtype=np.int32)
    payload = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    return pa.table({
        "iid": iid_a,
        "image_id": _prefixed("img", iid_a, 12),
        "bytes": pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(16), n, [None, pa.py_buffer(payload.tobytes())]
        ).cast(pa.binary()),
        "w": pa.array(sizes[rng.integers(0, 4, n)]),
        "h": pa.array(sizes[rng.integers(0, 3, n)]),
        "fmt": pa.array(np.where(rng.random(n) < 0.25, "jpeg", "png")),
        "caption": _prefixed("cap ", iid_a),
        "phash": pa.array(rng.integers(0, 1 << 31, n, dtype=np.int64)),
        "wx": pa.array(wx),
        "wy": pa.array(wy),
        "layer_name": _prefixed("L", pa.array(rng.integers(0, 3, n))),
    })


def points(seed: int, n: int) -> pa.Table:
    """Clustered join points (image_id, wx, wy), own seed stream."""
    rng = _rng(seed, STREAM_POINTS)
    wx, wy = positions(rng, n, clustered=True)
    ids = pa.array(np.arange(1, n + 1, dtype=np.int64))
    return pa.table({"image_id": _prefixed("pt", ids, 10),
                     "wx": pa.array(wx), "wy": pa.array(wy)})


def polygons(seed: int, n: int = N_POLYS) -> pa.Table:
    """Convex diamonds (pid, cx, cy, r, ring): L1 balls with a closed
    5-point ring, CW in y-down space (positive shoelace area = outer
    ring), so ``joins.pip_join_sql``'s L1 predicate is exact. Polygon
    0 is huge (r = BIG_R), near the world's center so it lies wholly
    inside and covers the same hotspots for every seed; the rest have r
    in 300..1900."""
    rng = _rng(seed, STREAM_POLYS)
    cx = rng.integers(0, WORLD, n, dtype=np.int64)
    cy = rng.integers(0, WORLD, n, dtype=np.int64)
    r = 300 + 400 * rng.integers(0, 5, n, dtype=np.int64)
    r[0] = BIG_R
    cx[0], cy[0] = WORLD // 2 + rng.integers(-HOT_JITTER, HOT_JITTER, 2)
    xs = np.stack([cx, cx + r, cx, cx - r, cx], axis=1).ravel()
    ys = np.stack([cy - r, cy, cy + r, cy, cy - r], axis=1).ravel()
    pts = pa.StructArray.from_arrays([pa.array(xs), pa.array(ys)], ["x", "y"])
    ring = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 5 * n + 1, 5, dtype=np.int32)), pts)
    return pa.table({"pid": pa.array(np.arange(n, dtype=np.int64)),
                     "cx": pa.array(cx), "cy": pa.array(cy),
                     "r": pa.array(r), "ring": ring})


def queries(seed: int, n: int = N_QUERIES) -> pa.Table:
    rng = _rng(seed, STREAM_QUERIES)
    return pa.table({
        "qid": pa.array(np.arange(n, dtype=np.int64)),
        "qx": pa.array(rng.integers(0, WORLD, n, dtype=np.int64)),
        "qy": pa.array(rng.integers(0, WORLD, n, dtype=np.int64)),
    })


def write(tbl: pa.Table, path: str, files: int) -> None:
    """Write ``tbl`` as a parquet directory of ``files`` equal parts,
    so the scan has one split per core regardless of file size."""
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // files)
    for i in range(files):
        pq.write_table(tbl.slice(i * step, step), f"{path}/part-{i:03d}.parquet")


# ------------------------------------------------------------- shapes

def tile_shape(wx: np.ndarray, wy: np.ndarray, buffer: int = BUFFER) -> dict:
    """Exact buffered tile assignment counts (tiling.assign_tiles
    semantics): features, tiles, max and mean features per tile."""
    ntiles = WORLD // EXTENT
    keys = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            x = wx // EXTENT + dx
            y = wy // EXTENT + dy
            lx = wx - x * EXTENT
            ly = wy - y * EXTENT
            ok = ((x >= 0) & (x < ntiles) & (y >= 0) & (y < ntiles)
                  & (lx >= -buffer) & (lx < EXTENT + buffer)
                  & (ly >= -buffer) & (ly < EXTENT + buffer))
            keys.append(x[ok] * ntiles + y[ok])
    counts = np.bincount(np.concatenate(keys), minlength=ntiles * ntiles)
    counts = counts[counts > 0]
    return {"rows": int(len(wx)), "features": int(counts.sum()),
            "tiles": int(len(counts)), "max_per_tile": int(counts.max()),
            "mean_per_tile": round(float(counts.mean()), 1)}


def pip_shape(pts: pa.Table, polys: pa.Table, cell: int = EXTENT) -> dict:
    """Covering cells of the polygon index that hold at least one
    point (``joins.polygon_cell_index`` cells)."""
    wx = pts.column("wx").to_numpy()
    wy = pts.column("wy").to_numpy()
    pc_ = np.unique((wx // cell) * 4096 + wy // cell)
    covered = set()
    for cx, cy, r in zip(*(polys.column(c).to_numpy() for c in ("cx", "cy", "r"))):
        for gx in range((cx - r) // cell, (cx + r) // cell + 1):
            for gy in range((cy - r) // cell, (cy + r) // cell + 1):
                covered.add(gx * 4096 + gy)
    hit = np.intersect1d(pc_, np.fromiter(covered, np.int64))
    return {"rows": int(len(wx)), "polygons": polys.num_rows,
            "pip_cells_hit": int(len(hit))}
