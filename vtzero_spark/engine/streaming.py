"""The continuous tile pipeline: file-fed Structured Streaming ingest
-> assign -> encode -> lint -> .mvt sink (``stream_tile_pipeline``,
started by tools/stream_job.py).

The reference has no streaming concept (single-threaded library,
SURVEY §2.10), so this is engine-side surface. Every micro-batch runs
the batch operators unchanged under foreachBatch: tile assignment is
stateless column math, and the encode, lint and sink are the same
calls the batch pipeline makes, so a batch's tiles are byte-identical
to a batch encode of the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .synth import EXTENT, ZOOM
from . import tiling


def stream_tile_pipeline(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    prop_spec=None,
    zoom: int = ZOOM,
    extent: int = EXTENT,
    source: str = "points",
    fail_severity: int = 2,
):
    """The COMPOSED continuous tile pipeline — file-fed micro-batch
    ingest -> assign -> encode -> lint -> .mvt sink, built from the
    batch operators (tiling.assign_tiles, assemble.encode_point_tiles,
    lint.tile_lint, mvt_files.write_mvt_files). This is the job an
    ingestion-time production user runs; the reference has no streaming
    analog (vtzero is a batch library, SURVEY §2.10).

    source='points': each micro-batch of point rows (wx, wy,
    layer_name, iid, prop columns) is assigned to tiles, encoded with
    the SAME fused per-tile encode as the batch pipeline
    (assemble.encode_point_tiles — byte-identical output), linted, and
    the clean tiles land as ``{z}-{x}-{y}.mvt`` files under
    ``out_dir/tiles/batch_id={id}/`` (per-batch subdir: each batch
    encodes its own slice, so one address can legally recur across
    batches). source='tiles': the batch rows are already
    (z, x, y, tile_bytes) — lint + sink only, written FLAT under
    ``out_dir/tiles/`` (a tileset directory; addresses are assumed
    unique as in any tileset).

    Every batch also writes ``out_dir/findings/batch_id={id}/`` (all
    lint rows) and ``out_dir/manifest/batch_id={id}/`` (z, x, y, path,
    nbytes of sunk tiles). Tiles with any finding at
    severity >= fail_severity (default 2 = vtzero-check error) are
    QUARANTINED: their bytes go to ``out_dir/quarantine/batch_id={id}/``
    as parquet (never into the tileset). Exactly-once per batch: the
    streaming checkpoint replays a failed batch, and every output is
    idempotent under replay (mode=overwrite on the batch's own
    partition; .mvt rewrites are same-bytes-same-path).

    Returns the StreamingQuery (caller stops it)."""
    from . import assemble, drivertier, lint, mvt_files

    if source not in ("points", "tiles"):
        raise ValueError(f"source must be 'points' or 'tiles', got {source!r}")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if source == "points":
            feats = tiling.assign_tiles(
                batch_df, zoom=zoom, extent=extent, buffer=0)
            feats = feats.select(
                "z", "x", "y", "layer_name",
                F.col("iid").alias("feature_ordinal"),
                F.col("iid").alias("feature_id"),
                "loc_x", "loc_y",
                *[c for _, _, c in (prop_spec or [])],
            )
            tiles = assemble.encode_point_tiles(feats, prop_spec=prop_spec)
            tiles_dir = f"{out_dir}/tiles/batch_id={batch_id}"
        else:
            tiles = batch_df.select("z", "x", "y", "tile_bytes")
            tiles_dir = f"{out_dir}/tiles"
        tiles = tiles.select("z", "x", "y", "tile_bytes").persist()
        try:
            findings = lint.tile_lint(tiles).persist()
            try:
                # action 1 (serial): materializes tiles + findings —
                # the batch's entire encode + lint cost
                findings.write.mode("overwrite").parquet(
                    f"{out_dir}/findings/batch_id={batch_id}")
                bad = (findings
                       .where(F.col("severity") >= fail_severity)
                       .select("z", "x", "y").distinct())
                good = tiles.join(bad, ["z", "x", "y"], "left_anti")

                # actions 2+3 overlap (independent reads of the
                # persisted tiles/findings), trimming the per-trigger
                # serial chain the BENCH.md Amdahl fit identified
                def write_sink() -> None:
                    manifest = mvt_files.write_mvt_files(
                        good, tiles_dir)
                    manifest.write.mode("overwrite").parquet(
                        f"{out_dir}/manifest/batch_id={batch_id}")

                def write_quarantine() -> None:
                    (tiles.join(bad, ["z", "x", "y"], "left_semi")
                     .write.mode("overwrite")
                     .parquet(f"{out_dir}/quarantine/"
                              f"batch_id={batch_id}"))

                drivertier.beside(write_sink, write_quarantine)
            finally:
                findings.unpersist()
        finally:
            tiles.unpersist()

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
