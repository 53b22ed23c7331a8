"""Deterministic synthesis of the `images` input table and join targets.

`BASELINE.json input_hint` mandates an input table
(image_id, bytes, w, h, fmt, caption, phash) of image+caption pairs.
No external data is allowed, so the table is derived *deterministically*
from the driver-generated TPC-H-ish parquet via pure integer column
math (LCG mixers). Every derivation here is also expressible in ANSI
SQL, so the DuckDB oracle can reproduce the exact same table — that is
what makes the spatial queries hash-checkable end to end.

World model: integer world of 2^16 units per axis = 2^ZOOM tiles of
EXTENT=4096 tile-local units at ZOOM=4 (the MVT default extent,
layer.hpp:60). An image's footprint is a point at (wx, wy) derived
from its id; the raster side uses ZOOM_R=6 (1024-unit tiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ZOOM = 4
EXTENT = 4096
WORLD = (1 << ZOOM) * EXTENT  # 65536
ZOOM_R = 6

# LCG multipliers (public-domain constants: glibc / MS / Park-Miller)
_AX, _BX = 48271, 11
_AY, _BY = 69621, 23
_AP, _BP = 1103515245, 12345


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def images(spark: SparkSession, sf_dir: str, with_bytes: bool = False,
           repeat: int = 1) -> DataFrame:
    """The image+caption input table, derived from lineitem.

    One image per lineitem row; iid = l_orderkey*8 + l_linenumber is
    unique. All columns are integer/LCG math so the DuckDB oracle can
    derive the identical table (see images_sql()).

    ``repeat`` > 1 amplifies the table deterministically (iid' =
    iid*repeat + k, every derived column re-mixed from iid') — used by
    the scaling benchmark to make runs compute-dominated without
    external data.
    """
    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    # so dedupe the derived key first; every other column is a pure
    # function of iid, keeping the DISTINCT cheap and the oracle exact.
    df = li.select(
        (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).alias("iid")
    ).distinct()
    if repeat > 1:
        # repartition the narrow iid base BEFORE the multiplying
        # crossJoin: the shuffle moves 8-byte keys, not the wide
        # derived rows (bandwidth discipline for the scale runs)
        reps = spark.range(repeat).select(F.col("id").alias("_rep"))
        df = (
            df.repartition(spark.sparkContext.defaultParallelism * 2)
            .crossJoin(reps)
            .select((F.col("iid") * repeat + F.col("_rep")).alias("iid"))
        )
    df = _derive_image_cols(df)
    if with_bytes:
        from .payload import with_image_bytes

        df = with_image_bytes(df)
    return df


def _derive_image_cols(df: DataFrame) -> DataFrame:
    """Every image column as a pure LCG function of a one-column
    (iid) frame — shared by images() and images_v2()."""
    return df.select(
        "iid",
        F.format_string("img%012d", F.col("iid")).alias("image_id"),
        ((F.col("iid") * _AX + _BX) % WORLD).alias("wx"),
        ((F.col("iid") * _AY + _BY) % WORLD).alias("wy"),
        ((F.col("iid") * _AP + _BP) % 2147483648).alias("phash"),
        F.element_at(
            F.array(F.lit(16), F.lit(32), F.lit(64), F.lit(256)),
            (F.col("iid") % 4 + 1).cast("int"),
        ).alias("w"),
        F.element_at(
            F.array(F.lit(16), F.lit(32), F.lit(64), F.lit(256)),
            (F.col("iid") % 3 + 1).cast("int"),
        ).alias("h"),
        F.when(F.col("iid") % 4 == 0, F.lit("jpeg")).otherwise(F.lit("png")).alias("fmt"),
        F.concat(F.lit("cap "), F.col("iid").cast("string")).alias("caption"),
        F.concat(F.lit("L"), (F.col("iid") % 3).cast("string")).alias("layer_name"),
    )


def _derive_image_cols_sql(src: str) -> str:
    """DuckDB SELECT body mirroring _derive_image_cols over ``src``."""
    return f"""
  SELECT
    iid,
    printf('img%012d', iid) AS image_id,
    (iid * {_AX} + {_BX}) % {WORLD} AS wx,
    (iid * {_AY} + {_BY}) % {WORLD} AS wy,
    (iid * {_AP} + {_BP}) % 2147483648 AS phash,
    ([16,32,64,256])[CAST(iid % 4 + 1 AS INT)] AS w,
    ([16,32,64,256])[CAST(iid % 3 + 1 AS INT)] AS h,
    CASE WHEN iid % 4 = 0 THEN 'jpeg' ELSE 'png' END AS fmt,
    'cap ' || CAST(iid AS VARCHAR) AS caption,
    'L' || CAST(iid % 3 AS VARCHAR) AS layer_name
  FROM {src}"""


def images_sql(alias: str = "images") -> str:
    """DuckDB CTE reproducing images() exactly (minus bytes)."""
    return f"""
iid_base AS (
  SELECT DISTINCT (l_orderkey * 8 + l_linenumber) AS iid FROM lineitem
),
{alias} AS ({_derive_image_cols_sql("iid_base")}
)"""


# second corpus version for diff operators: every mutation class a
# pure iid predicate so the DuckDB twin is exact
_V2_DROP, _V2_MOVE, _V2_RETAG, _V2_ADD = 23, 17, 29, 31
_V2_SHIFT = 257


def images_v2(spark: SparkSession, sf_dir: str,
              with_bytes: bool = False) -> DataFrame:
    """Deterministic SECOND VERSION of the image corpus, for diff /
    incremental operators: vs images(), ~1/23 of rows are removed,
    ~1/31 are added (new iid = old*8 — disjoint from every real iid,
    which is l_orderkey*8 + l_linenumber with linenumber in 1..7),
    ~1/17 moved (+257 on wx, mod world), ~1/29 retagged (caption
    suffix). All other rows byte-identical to images(). DuckDB twin:
    images_v2_sql() (compose AFTER images_sql(); it reuses that CTE's
    iid_base)."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).alias("iid")
    ).distinct()
    kept = base.where(F.col("iid") % _V2_DROP != 0)
    added = base.where(F.col("iid") % _V2_ADD == 0).select(
        (F.col("iid") * 8).alias("iid"))
    df = _derive_image_cols(kept.unionAll(added))
    df = df.withColumn(
        "wx",
        F.when(F.col("iid") % _V2_MOVE == 0,
               (F.col("wx") + _V2_SHIFT) % WORLD).otherwise(F.col("wx")),
    ).withColumn(
        "caption",
        F.when(F.col("iid") % _V2_RETAG == 0,
               F.concat(F.col("caption"), F.lit(" v2")))
        .otherwise(F.col("caption")),
    )
    if with_bytes:
        from .payload import with_image_bytes

        df = with_image_bytes(df)
    return df


def images_v2_sql(alias: str = "images_v2") -> str:
    """DuckDB CTEs reproducing images_v2() exactly (minus bytes).
    Assumes images_sql() appears earlier in the same WITH clause (this
    reuses its iid_base CTE)."""
    return f"""
v2_ids AS (
  SELECT iid FROM iid_base WHERE iid % {_V2_DROP} <> 0
  UNION ALL
  SELECT iid * 8 AS iid FROM iid_base WHERE iid % {_V2_ADD} = 0
),
v2_base AS ({_derive_image_cols_sql("v2_ids")}
),
{alias} AS (
  SELECT
    iid, image_id,
    CASE WHEN iid % {_V2_MOVE} = 0 THEN (wx + {_V2_SHIFT}) % {WORLD}
         ELSE wx END AS wx,
    wy, phash, w, h, fmt,
    CASE WHEN iid % {_V2_RETAG} = 0 THEN caption || ' v2'
         ELSE caption END AS caption,
    layer_name
  FROM v2_base
)"""


# ------------------------------------------------------------- polygons

_PCX, _PCBX = 2654435761 % WORLD, 101  # keep products < 2^63 for DuckDB
_PCY, _PCBY = 40503, 4099


def polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic convex join targets (integer diamonds) from nation.

    polygon k = L1 ball (diamond) centered at an LCG point with radius
    2000 + (k%5)*3000; represented as a closed 5-point ring (CW in
    y-down tile space => positive shoelace area = outer ring per
    geometry.hpp:161-169). One deliberately huge polygon (k==0 gets
    radius 30000) drives join skew for the salted path.
    """
    n = load(spark, sf_dir, "nation")
    df = n.select(
        F.col("n_nationkey").cast("long").alias("pid"),
        ((F.col("n_nationkey") * _PCX + _PCBX) % WORLD).alias("cx"),
        ((F.col("n_nationkey") * _PCY + _PCBY) % WORLD).alias("cy"),
        F.when(F.col("n_nationkey") == 0, F.lit(30000))
        .otherwise(F.lit(2000) + (F.col("n_nationkey") % 5) * 3000)
        .alias("r"),
    )
    # closed ring, CW in y-down space: (cx, cy-r) -> (cx+r, cy) -> (cx, cy+r) -> (cx-r, cy)
    ring = F.array(
        F.struct((F.col("cx")).alias("x"), (F.col("cy") - F.col("r")).alias("y")),
        F.struct((F.col("cx") + F.col("r")).alias("x"), (F.col("cy")).alias("y")),
        F.struct((F.col("cx")).alias("x"), (F.col("cy") + F.col("r")).alias("y")),
        F.struct((F.col("cx") - F.col("r")).alias("x"), (F.col("cy")).alias("y")),
        F.struct((F.col("cx")).alias("x"), (F.col("cy") - F.col("r")).alias("y")),
    )
    return df.withColumn("ring", ring)


def polygons_sql(alias: str = "polys") -> str:
    """DuckDB CTE with the same centers/radii (diamond PIP is the
    L1-ball predicate, so the oracle needs no explicit ring)."""
    return f"""
{alias} AS (
  SELECT
    CAST(n_nationkey AS BIGINT) AS pid,
    (n_nationkey * {_PCX} + {_PCBX}) % {WORLD} AS cx,
    (n_nationkey * {_PCY} + {_PCBY}) % {WORLD} AS cy,
    CASE WHEN n_nationkey = 0 THEN 30000
         ELSE 2000 + (n_nationkey % 5) * 3000 END AS r
  FROM nation
)"""


# ------------------------------------------------------------- kNN queries

_QAX, _QBX = 16807, 7
_QAY, _QBY = 28411, 13


def knn_queries(spark: SparkSession, sf_dir: str, n_queries: int = 20) -> DataFrame:
    n = load(spark, sf_dir, "nation").where(F.col("n_nationkey") < n_queries)
    return n.select(
        F.col("n_nationkey").cast("long").alias("qid"),
        ((F.col("n_nationkey") * _QAX + _QBX) % WORLD).alias("qx"),
        ((F.col("n_nationkey") * _QAY + _QBY) % WORLD).alias("qy"),
    )


def knn_queries_sql(alias: str = "queries", n_queries: int = 20) -> str:
    return f"""
{alias} AS (
  SELECT
    CAST(n_nationkey AS BIGINT) AS qid,
    (n_nationkey * {_QAX} + {_QBX}) % {WORLD} AS qx,
    (n_nationkey * {_QAY} + {_QBY}) % {WORLD} AS qy
  FROM nation WHERE n_nationkey < {n_queries}
)"""

# --------------------------------------------------- radius queries

_RAX, _RBX = 65539, 17
_RAY, _RBY = 48271, 29


def radius_queries(spark: SparkSession, sf_dir: str,
                   modulus: int = 8) -> DataFrame:
    """Query points for the distance-within (ST_DWithin analog) join,
    derived from customer so the query-set size scales with SF
    (~customer/modulus rows). Same LCG discipline as knn_queries; SQL
    twin in radius_queries_sql()."""
    c = load(spark, sf_dir, "customer").where(
        F.col("c_custkey") % modulus == 0)
    return c.select(
        F.col("c_custkey").cast("long").alias("qid"),
        ((F.col("c_custkey") * _RAX + _RBX) % WORLD).alias("qx"),
        ((F.col("c_custkey") * _RAY + _RBY) % WORLD).alias("qy"),
    )


def radius_queries_sql(alias: str = "queries", modulus: int = 8) -> str:
    return f"""
{alias} AS (
  SELECT
    CAST(c_custkey AS BIGINT) AS qid,
    (c_custkey * {_RAX} + {_RBX}) % {WORLD} AS qx,
    (c_custkey * {_RAY} + {_RBY}) % {WORLD} AS qy
  FROM customer WHERE c_custkey % {modulus} = 0
)"""


# ------------------------------------------------------- pixel grid

GRID = 512
_AV, _BV = 22695477, 1  # Borland LCG (public constant)


def pixel_grid(spark: SparkSession, grid: int = GRID,
               world: int = WORLD) -> DataFrame:
    """Dense raster band: one row per pixel center with a deterministic
    integer value — the raster side of zonal statistics. A raster
    layer's resolution is fixed (independent of table SF), so the grid
    is synthesized from spark.range, not from a TPC-H table; the
    DuckDB twin (pixel_grid_sql) uses range() identically.

    Columns: (px, py, wx, wy, value) — wx/wy are the pixel CENTER in
    world units (pixel-center sample semantics), value in [0, 1000).
    """
    pix = world // grid
    return spark.range(grid * grid).select(
        F.expr(f"id % {grid}").alias("px"),
        F.expr(f"id div {grid}").alias("py"),
        F.expr(f"(id % {grid}) * {pix} + {pix // 2}").alias("wx"),
        F.expr(f"(id div {grid}) * {pix} + {pix // 2}").alias("wy"),
        F.expr(f"(id * {_AV} + {_BV}) % 1000").alias("value"),
    )


def pixel_grid_sql(alias: str = "pix", grid: int = GRID,
                   world: int = WORLD) -> str:
    pix = world // grid
    return f"""
{alias} AS (
  SELECT
    i % {grid} AS px,
    i // {grid} AS py,
    (i % {grid}) * {pix} + {pix // 2} AS wx,
    (i // {grid}) * {pix} + {pix // 2} AS wy,
    (i * {_AV} + {_BV}) % 1000 AS value
  FROM range({grid * grid}) t(i)
)"""


# --------------------------------------------------- overlay B-side

_PBX, _PBBX = 1566083941 % WORLD, 211
_PBY, _PBBY = 69069, 3023


def polygons_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second convex polygon set (diamonds from supplier) — the other
    side of the polygon-overlay intersection join. Scales with SF
    (supplier is 100 rows at sf0.01); SQL twin in polygons_b_sql()."""
    s = load(spark, sf_dir, "supplier")
    df = s.select(
        F.col("s_suppkey").cast("long").alias("pid"),
        ((F.col("s_suppkey") * _PBX + _PBBX) % WORLD).alias("cx"),
        ((F.col("s_suppkey") * _PBY + _PBBY) % WORLD).alias("cy"),
        (F.lit(1000) + (F.col("s_suppkey") % 7) * 2000).alias("r"),
    )
    ring = F.array(
        F.struct((F.col("cx")).alias("x"), (F.col("cy") - F.col("r")).alias("y")),
        F.struct((F.col("cx") + F.col("r")).alias("x"), (F.col("cy")).alias("y")),
        F.struct((F.col("cx")).alias("x"), (F.col("cy") + F.col("r")).alias("y")),
        F.struct((F.col("cx") - F.col("r")).alias("x"), (F.col("cy")).alias("y")),
        F.struct((F.col("cx")).alias("x"), (F.col("cy") - F.col("r")).alias("y")),
    )
    return df.withColumn("ring", ring)


def polygons_b_sql(alias: str = "polys_b") -> str:
    return f"""
{alias} AS (
  SELECT
    CAST(s_suppkey AS BIGINT) AS pid,
    (s_suppkey * {_PBX} + {_PBBX}) % {WORLD} AS cx,
    (s_suppkey * {_PBY} + {_PBBY}) % {WORLD} AS cy,
    1000 + (s_suppkey % 7) * 2000 AS r
  FROM supplier
)"""


# --------------------------------------------------- clustered points

# DBSCAN input: customer-keyed points with REAL cluster structure —
# _CLK LCG-placed centers, members offset uniformly in a +-_CLR
# square, every 7th customer a world-uniform noise point. All integer
# column math (products < 2^63 at every SF the driver runs), so
# cluster_points_sql() derives the identical table in DuckDB.
_CLK = 25             # cluster centers
_CLR = 300            # member offset half-width (world units)
_CLM = 512            # world margin: px/py stay strictly in-world
_CLNOISE = 7          # every 7th customer is noise
_CCAX, _CCBX = 1103515245 % WORLD, 12345   # center LCG (glibc mult)
_CCAY, _CCBY = 69069, 54321
_COAX, _COBX = 22695477, 3                 # member-offset LCG
_COAY, _COBY = 134775813 % (1 << 31), 7
_CNAX, _CNBX = 48271, 331                  # noise-point LCG
_CNAY, _CNBY = 16807, 733


def cluster_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered point set for density clustering (DBSCAN): columns
    (pid, px, py). Cluster k's center is LCG-placed inside the world
    margin; member offsets are uniform on a (2*_CLR+1)^2 square, so
    in-cluster density scales with SF while noise stays sparse."""
    c = load(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").cast("long").alias("pid"))
    span = WORLD - 2 * _CLM
    k = F.col("pid") % _CLK
    ccx = (k * _CCAX + _CCBX) % span + _CLM
    ccy = (k * _CCAY + _CCBY) % span + _CLM
    ox = (F.col("pid") * _COAX + _COBX) % (2 * _CLR + 1) - _CLR
    oy = (F.col("pid") * _COAY + _COBY) % (2 * _CLR + 1) - _CLR
    nx = (F.col("pid") * _CNAX + _CNBX) % span + _CLM
    ny = (F.col("pid") * _CNAY + _CNBY) % span + _CLM
    is_noise = F.col("pid") % _CLNOISE == 0
    return c.select(
        "pid",
        F.when(is_noise, nx).otherwise(ccx + ox).cast("long").alias("px"),
        F.when(is_noise, ny).otherwise(ccy + oy).cast("long").alias("py"),
    )


def cluster_points_sql(alias: str = "cpoints") -> str:
    """DuckDB CTE reproducing cluster_points() exactly."""
    span = WORLD - 2 * _CLM
    w = 2 * _CLR + 1
    return f"""
{alias} AS (
  SELECT
    CAST(c_custkey AS BIGINT) AS pid,
    CAST(CASE WHEN c_custkey % {_CLNOISE} = 0
         THEN (c_custkey * {_CNAX} + {_CNBX}) % {span} + {_CLM}
         ELSE ((c_custkey % {_CLK}) * {_CCAX} + {_CCBX}) % {span} + {_CLM}
              + (c_custkey * {_COAX} + {_COBX}) % {w} - {_CLR}
    END AS BIGINT) AS px,
    CAST(CASE WHEN c_custkey % {_CLNOISE} = 0
         THEN (c_custkey * {_CNAY} + {_CNBY}) % {span} + {_CLM}
         ELSE ((c_custkey % {_CLK}) * {_CCAY} + {_CCBY}) % {span} + {_CLM}
              + (c_custkey * {_COAY} + {_COBY}) % {w} - {_CLR}
    END AS BIGINT) AS py
  FROM customer
)"""
