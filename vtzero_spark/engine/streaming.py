"""Structured-Streaming tile ingest.

The reference has no streaming concept (single-threaded library,
SURVEY §2.10), so this is engine-side surface: the same tile
assignment (pure column math — stateless, so it lifts to streams
unchanged) feeding a watermarked, windowed per-tile aggregation.
At scale this is the continuous-ingest front of the pipeline: late
images are handled by the watermark, and the per-(window, z, x, y)
groups are the same partitioning key the batch encode uses, so the
downstream `applyInPandas` encode drops in unchanged if full MVT
assembly of in-flight tiles is needed (foreachBatch or
applyInPandasWithState for custom stateful assembly).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .synth import EXTENT, ZOOM
from . import tiling


def with_event_time(df: DataFrame, epoch: str = "2026-01-01 00:00:00") -> DataFrame:
    """Deterministic event time derived from iid (1 second per id,
    wrapping hourly) — keeps streaming tests reproducible without wall
    clocks."""
    return df.withColumn(
        "event_time",
        F.to_timestamp(F.lit(epoch)) + F.make_interval(secs=F.col("iid") % 3600),
    )


def dedup_stream(docs: DataFrame, ts_col: str = "ts",
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup — the continuous-ingest twin of
    textops.dedup_exact_hashed: documents are keyed by a fixed-width
    xxhash64 of their text and deduplicated with
    dropDuplicatesWithinWatermark, so the dedup STATE is bounded by
    the watermark horizon instead of growing with the corpus (the only
    viable shape for an unbounded 100 TB/day feed; exact global dedup
    stays a batch job over the bronze table).

    Emits the first-seen row per text hash; duplicates arriving within
    the watermark window are dropped, duplicates beyond it are the
    documented at-least-once tradeoff."""
    hashed = docs.withColumn("text_hash", F.xxhash64("text"))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def neardup_band_stream(docs: DataFrame, ts_col: str = "ts",
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming NEAR-dup candidate filter — the continuous-ingest
    twin of the MinHash-LSH batch pipeline, with BOUNDED state.

    Each document's 64-lane MinHash signature (the identical batch
    kernel, so sketches match the batch pipeline byte-for-byte) is cut
    into 16 band buckets; the stream registers FIRST OWNERSHIP of each
    (band, bucket) via dropDuplicatesWithinWatermark, so state is one
    row per distinct band bucket inside the watermark horizon — evicted
    as the watermark advances, never corpus-sized. A document that is
    the first owner of ALL 16 of its buckets has no near-dup inside the
    horizon; one that loses any bucket shares a band with an earlier
    document (exactly the batch LSH candidate condition).

    Emits surviving (doc_id, ts, band, bucket) rows; a document's rows
    travel in one trigger, so the doc-level verdict is the per-batch
    (stateless) rollup ``neardup_first_owners`` — compose under
    foreachBatch. Ownership among same-batch duplicates follows arrival
    order, and near-dups farther apart than the horizon pass — the same
    at-least-once tradeoff dedup_stream documents."""
    from .textops import _N_BANDS, _N_HASH, _minhash_batch

    def fn(batches):
        import pandas as pd
        for pdf in batches:
            out = next(iter(_minhash_batch(
                iter([pdf[["doc_id", "text"]]]))))
            # the kernel preserves row order: re-attach the timestamp
            out[ts_col] = pdf[ts_col].to_numpy()
            yield out[["doc_id", ts_col, "sig"]]

    sig = docs.select(
        "doc_id", ts_col, F.substring("text", 1, 64).alias("text")
    ).mapInPandas(
        fn, schema=f"doc_id long, {ts_col} timestamp, sig array<long>")
    rows_per_band = _N_HASH // _N_BANDS
    bands = sig.select(
        "doc_id", ts_col,
        F.explode(F.sequence(F.lit(0), F.lit(_N_BANDS - 1))).alias("band"),
        "sig",
    ).select(
        "doc_id", ts_col, "band",
        F.xxhash64(F.col("band"), F.expr(
            f"slice(sig, band * {rows_per_band} + 1, {rows_per_band})")
        ).alias("bucket"),
    )
    return (
        bands.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["band", "bucket"])
    )


def image_neardup_band_stream(image_stream: DataFrame,
                              ts_col: str = "ts",
                              watermark: str = "10 minutes") -> DataFrame:
    """Streaming IMAGE near-dup candidate filter — the image twin of
    neardup_band_stream, completing the batch/stream x text/image
    dedup matrix: decode + 256-bit perceptual blockhash (the batch
    imagehash kernel via passthrough columns, so hashes are identical
    to the batch pipeline), 16-way 16-bit band cut, first ownership
    per (band, bucket) via dropDuplicatesWithinWatermark. State is one
    row per distinct band bucket in the horizon; an image losing any
    bucket is within hamming <= 15 of an earlier image on that band
    slice (re-encodes land entire-hash-close, so they lose most or
    all 16 bands). Compose with ``neardup_first_owners(n_bands=16,
    id_col='image_id')`` per micro-batch for doc-level verdicts;
    undecodable payloads are dropped here (their status rows live in
    the batch operator)."""
    from .imagehash import image_phash

    ph = image_phash(image_stream, passthrough=(ts_col,))
    bands = ph.where(F.col("b0").isNotNull()).select(
        "image_id", ts_col,
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("band"),
        "b0", "b1", "b2", "b3",
    ).select(
        "image_id", ts_col, "band",
        F.expr("shiftrightunsigned("
               "  element_at(array(b0, b1, b2, b3),"
               "             cast(band div 4 as int) + 1),"
               "  cast((band % 4) * 16 as int)) & 65535").alias("bucket"))
    return (
        bands.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["band", "bucket"])
    )


def neardup_first_owners(band_batch: DataFrame,
                         n_bands: int | None = None,
                         id_col: str = "doc_id") -> DataFrame:
    """Per-batch rollup of neardup_band_stream output: documents that
    own ALL their band buckets (no near-dup inside the horizon).
    Stateless — run inside foreachBatch. For the image stream pass
    id_col='image_id' (and n_bands=16) — the documented composition
    with image_neardup_band_stream works without a rename."""
    from .textops import _N_BANDS

    n = n_bands if n_bands is not None else _N_BANDS
    return (
        band_batch.groupBy(id_col)
        .agg(F.count("*").alias("_owned"))
        .where(F.col("_owned") == n)
        .select(id_col)
    )


def stream_encode_tiles(
    stream_df: DataFrame,
    out_dir: str,
    prop_spec,
    checkpoint_dir: str,
    zoom: int = ZOOM,
    extent: int = EXTENT,
):
    """Continuous raster->vector MVT production: every micro-batch runs
    the SAME fused vectorized tile encode the batch pipeline uses
    (foreachBatch), writing one parquet partition of finished tile
    blobs per batch. Exactly-once per batch via the streaming
    checkpoint + idempotent overwrite of the batch's own partition —
    the streaming twin of engine/checkpoint.py's manifest protocol.

    Returns the StreamingQuery (caller stops it)."""
    from pyspark.sql import functions as SF

    from . import assemble

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        feats = tiling.assign_tiles(batch_df, zoom=zoom, extent=extent, buffer=0)
        feats = feats.select(
            "z", "x", "y", "layer_name",
            SF.col("iid").alias("feature_ordinal"),
            SF.col("iid").alias("feature_id"),
            "loc_x", "loc_y",
            *[c for _, _, c in prop_spec],
        )
        tiles = assemble.encode_point_tiles(feats, prop_spec=prop_spec)
        tiles.withColumn("batch_id", SF.lit(batch_id)).write.mode(
            "overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


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
    individually stream==batch-tested pieces (stream_encode_tiles,
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


def tile_stream_counts(
    stream_df: DataFrame,
    zoom: int = ZOOM,
    extent: int = EXTENT,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Streaming raster->vector ingest: assign tiles (stateless column
    math), then watermarked windowed per-tile stats. Late rows beyond
    the watermark are dropped by the engine; everything else is the
    exact batch semantics per window."""
    feats = tiling.assign_tiles(stream_df, zoom=zoom, extent=extent, buffer=0)
    return (
        feats.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "z", "x", "y")
        .agg(
            F.count("*").alias("n_images"),
            F.approx_count_distinct("layer_name").alias("approx_layers"),
            F.sum("loc_x").alias("sum_x"),
            F.sum("loc_y").alias("sum_y"),
        )
    )


def verify_payload_stream(image_stream: DataFrame) -> DataFrame:
    """Continuous payload verification: the input_hint PSNR/caption
    gate (payload.verify_payloads) run over a STREAM of image rows —
    the ingestion-time quality gate of an image+caption pipeline
    (reject/flag undecodable or corrupted payloads as they land).
    Stateless mapInPandas, so the batch operator attaches unchanged;
    each micro-batch emits its rows' verdicts (append mode, no
    watermark needed)."""
    from . import payload

    return payload.verify_payloads(image_stream.select(
        "image_id", "bytes", "phash", "w", "h", "fmt", "caption"))


def exif_ingest_stream(image_stream: DataFrame) -> DataFrame:
    """Continuous geotagged-image ingest: parse each landing payload's
    Exif and recover its world position FROM THE BYTES (exif.exif_index
    — container walk, TIFF IFD parse, GPS rationals), corrupt or
    GPS-less payloads emitted as status rows. Stateless mapInPandas,
    so the batch operator attaches unchanged; compose with the
    plan-side tile-assignment arithmetic (tools/geotag_job.py stage 2)
    and stream_encode_tiles for a camera-to-archive streaming path."""
    from . import exif

    return exif.exif_index(image_stream.select("image_id", "bytes"))


def table_batch_sink(table_path: str, query_name: str,
                     stats_cols: list[str] | None = None):
    """The foreachBatch function for streaming ingest INTO a snapshot
    table (engine/table.py) with exactly-once commits: each
    micro-batch appends atomically, stamped with
    ``{stream_query, stream_batch_id}`` in the snapshot props, and a
    REPLAYED batch (restart after a sink-side crash — foreachBatch is
    at-least-once) is recognized by ``last_stream_batch`` and skipped
    instead of double-appending. This is the Iceberg streaming-writer
    discipline: the sink's idempotence marker lives in the table's own
    commit metadata, so any number of restarts converge.

    Retention caveat (honest bound): the marker rides retained
    snapshots, so ``expire_snapshots(keep_last=N)`` must keep at least
    one commit of this query between checkpoint and restart — expiring
    ALL of a query's commits forgets the marker and a replay would
    re-append. Batches that arrive empty are skipped without a commit
    (nothing to make idempotent).
    """
    from .table import SnapshotTable

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        t = SnapshotTable(table_path)
        if not t.exists():
            t = SnapshotTable.create(table_path)
        last = t.last_stream_batch(query_name)
        if last is not None and batch_id <= last:
            return  # replayed batch: already committed
        if not batch_df.take(1):
            return
        t.append(batch_df, stats_cols=stats_cols,
                 props={"stream_query": query_name,
                        "stream_batch_id": int(batch_id)})

    return _sink


def append_table_stream(stream_df: DataFrame, table_path: str,
                        checkpoint_dir: str, query_name: str,
                        stats_cols: list[str] | None = None):
    """Continuous ingest into a snapshot table: wire a streaming
    DataFrame into ``table_batch_sink`` with a checkpoint. Returns the
    started StreamingQuery (availableNow trigger — drain what exists,
    then stop; re-invoke to consume new arrivals, the incremental-job
    producer as a stream). Downstream, `SnapshotTable.read_incremental`
    is the changelog consumer of what this sink commits."""
    return (stream_df.writeStream
            .foreachBatch(table_batch_sink(table_path, query_name,
                                           stats_cols))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def stream_mbtiles_shards(
    tile_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous MBTiles production: each micro-batch's tiles land as
    a self-contained shard DIRECTORY (``out_dir/batch=N/``) of valid
    .mbtiles files via the distributed shard writer — the streaming
    twin of mbtiles.write_mbtiles_shards. Replays (at-least-once
    foreachBatch) overwrite their own batch directory, so restarts
    converge exactly like stream_encode_tiles' parquet partitions.
    The whole accumulated directory tree serves directly through
    mbtiles.read_mbtiles (shard routing), or merges into one archive
    with merge_mbtiles at the publishing edge — where the UNIQUE
    address index makes a tile re-encoded in two batches fail loudly
    instead of silently serving two versions.

    Expects tiles(z, x, y, tile_bytes); returns the StreamingQuery.
    """
    import shutil

    from . import mbtiles as _mb

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bdir = os.path.join(out_dir, f"batch={batch_id}")
        shutil.rmtree(bdir, ignore_errors=True)
        _mb.write_mbtiles_shards(
            batch_df.select("z", "x", "y", "tile_bytes"), bdir).collect()

    return (
        tile_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def transform_stream(tile_stream: DataFrame,
                     filt=None, layer=None,
                     keep=None, drop=None, rename=None) -> DataFrame:
    """Continuous tileset transform: the GL-legacy feature filter
    (engine/exprfilter) and property keep/drop/rename
    (engine/propmap) are stateless per-tile rewrites, so they attach
    to a streaming DataFrame unchanged — each micro-batch emits its
    transformed tiles (append mode, no state, no watermark). The
    streaming twin of tools/transform_job.py's batch pipeline;
    filter/projection config is validated HERE at plan-build time,
    before the query ever starts."""
    from . import exprfilter, propmap

    df = tile_stream.select("z", "x", "y", "tile_bytes")
    if filt is not None or layer is not None:
        df = exprfilter.filter_tiles_expr(
            df, filt if filt is not None else ["all"], layer=layer)
    if keep or drop or rename:
        df = propmap.remap_properties(
            df, keep=keep, drop=drop, rename=rename)
    return df
