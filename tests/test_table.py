"""Versioned snapshot tables (engine/table.py): atomic commits,
snapshot isolation, time travel, incremental reads, maintenance —
the storage layer under the image+caption pipeline."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from vtzero_spark.engine import synth
from vtzero_spark.engine.table import SnapshotTable, _version_file


def _mk(spark, tmp_path, name="t"):
    return SnapshotTable.create(str(tmp_path / name))


def test_append_read_and_history(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v1 = t.append(spark.range(0, 10).select(F.col("id")))
    v2 = t.append(spark.range(10, 25).select(F.col("id")))
    assert (v1, v2) == (1, 2)
    assert t.read(spark).count() == 25
    assert t.read(spark, version=1).count() == 10  # time travel
    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["n_rows"] for h in hist] == [0, 10, 25]
    assert hist[-1]["operation"] == "append"


def test_snapshot_isolation_under_concurrent_append(spark, tmp_path):
    """A reader resolved before a commit must keep seeing its file
    list — counts may be re-run at any time and never tear."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 100))
    old = t.read(spark)
    assert old.count() == 100
    t.append(spark.range(100, 160))
    assert old.count() == 100          # pinned to the resolved snapshot
    assert t.read(spark).count() == 160


def test_commit_retry_after_losing_version_race(spark, tmp_path):
    """Optimistic concurrency: if another writer takes head+1 between
    our head read and our O_EXCL create, the loop must re-merge on the
    NEW head (keeping the other writer's files), not clobber or fail."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 5))
    # a "concurrent writer" wins version 2 with its own file list
    steal = t.snapshot(1)
    steal.update({"version": 2, "parent": 1, "operation": "append"})
    with open(_version_file(t.path, 2), "x") as f:
        json.dump(steal, f)
    v = t.append(spark.range(5, 12))
    assert v == 3
    assert t.snapshot(3)["parent"] == 2
    assert t.read(spark).count() == 12  # both writers' rows survive


def test_overwrite_time_travel_and_incremental_guard(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 10))
    t.overwrite(spark.range(100, 104))
    assert t.read(spark).count() == 4
    assert t.read(spark, version=1).count() == 10   # pre-overwrite
    with pytest.raises(ValueError, match="overwrite"):
        t.read_incremental(spark, 1)


def test_incremental_read_is_the_append_delta(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 10))
    t.append(spark.range(10, 30))
    t.append(spark.range(30, 35))
    inc = t.read_incremental(spark, 1)          # after v1, to head
    got = sorted(r["id"] for r in inc.collect())
    assert got == list(range(10, 35))
    mid = t.read_incremental(spark, 1, to_version=2)
    assert sorted(r["id"] for r in mid.collect()) == list(range(10, 30))
    assert t.read_incremental(spark, 3) is None  # empty delta


def test_expire_and_remove_orphans(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 10))
    t.overwrite(spark.range(50, 55))
    dropped = t.expire_snapshots(keep_last=1)
    assert dropped == [0, 1]
    removed = t.remove_orphans(grace_seconds=0.0)
    assert removed, "v1's data files should be orphaned"
    assert t.read(spark).count() == 5            # head intact
    with pytest.raises(ValueError):
        t.read(spark, version=1)                 # expired
    # grace window: freshly staged files survive a zero-reference sweep
    t2 = _mk(spark, tmp_path, "t2")
    t2.append(spark.range(0, 3))
    assert t2.remove_orphans(grace_seconds=3600.0) == []


def test_compact_files_bounds_metadata(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for k in range(4):
        t.append(spark.range(k * 10, k * 10 + 10).repartition(4))
    assert len(t.snapshot()["files"]) >= 16
    t.compact_files(spark, target_files=2)
    assert len(t.snapshot()["files"]) <= 2
    assert sorted(r["id"] for r in t.read(spark).collect()) \
        == list(range(40))


def test_stats_cols_recorded_per_file(spark, tmp_path):
    """append(stats_cols=...) lands per-FILE min/max in the snapshot
    metadata — the manifest column stats read(where=...) prunes on."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 100).repartitionByRange(4, "id"),
             stats_cols=["id"])
    files = t.snapshot()["files"]
    assert len(files) == 4
    spans = sorted(tuple(e["stats"]["id"]) for e in files)
    # range partitioning => disjoint, covering [0, 99]
    assert spans[0][0] == 0 and spans[-1][1] == 99
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert b < c
    assert all(e["rows"] > 0 for e in files)


def test_read_where_prunes_files_and_stays_exact(spark, tmp_path):
    """Metadata pruning must shrink the planned scan (inputFiles) while
    returning exactly the rows a full-scan filter would."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 50).repartitionByRange(2, "id"),
             stats_cols=["id"])
    t.append(spark.range(50, 100).repartitionByRange(2, "id"),
             stats_cols=["id"])
    all_files = {e["path"] for e in t.snapshot()["files"]}
    assert len(all_files) == 4

    pruned = t.read(spark, where=[("id", ">=", 80)])
    assert len(pruned.inputFiles()) < len(all_files)
    assert sorted(r["id"] for r in pruned.collect()) == list(range(80, 100))

    # point lookup touches exactly the one file whose span holds it
    point = t.read(spark, where=[("id", "==", 10)])
    assert len(point.inputFiles()) == 1
    assert [r["id"] for r in point.collect()] == [10]

    # conjunction composes; residual filter keeps it exact inside a file
    band = t.read(spark, where=[("id", ">", 20), ("id", "<=", 30)])
    assert sorted(r["id"] for r in band.collect()) == list(range(21, 31))

    # predicate no file can satisfy: zero rows, schema intact
    none = t.read(spark, where=[("id", ">", 1000)])
    assert none.count() == 0 and none.columns == ["id"]

    # files committed WITHOUT stats always survive pruning (conservative)
    t.append(spark.range(100, 110))            # no stats_cols
    got = t.read(spark, where=[("id", ">=", 105)])
    assert sorted(r["id"] for r in got.collect()) == list(range(105, 110))

    with pytest.raises(ValueError, match="unsupported"):
        t.read(spark, where=[("id", "!=", 3)]).count()


def test_clustered_compaction_restores_file_skipping(spark, tmp_path):
    """After interleaved commits widen per-file spans, a cluster_col
    compaction re-sorts so stats prune again; plain coalesce keeps the
    overlapping spans."""
    t = _mk(spark, tmp_path)
    # two interleaved commits: every file spans ~the whole key range
    t.append(spark.range(0, 100).where("id % 2 = 0").repartition(4),
             stats_cols=["id"])
    t.append(spark.range(0, 100).where("id % 2 = 1").repartition(4),
             stats_cols=["id"])
    wide = t.read(spark, where=[("id", ">=", 90)])
    # overlapping spans: (almost) every file survives pruning — a
    # round-robin partition can be missing the top few keys by chance
    assert len(wide.inputFiles()) >= 6

    t.compact_files(spark, target_files=4, cluster_col="id")
    spans = sorted(tuple(e["stats"]["id"])
                   for e in t.snapshot()["files"])
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert b < c                            # disjoint again
    narrow = t.read(spark, where=[("id", ">=", 90)])
    assert len(narrow.inputFiles()) == 1
    assert sorted(r["id"] for r in narrow.collect()) == list(range(90, 100))


def test_schema_evolution_merge_schema_read(spark, tmp_path):
    """Additive schema evolution: a later append may carry a new
    nullable column; merge_schema reads union the schemas and old rows
    surface NULL."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 5).select("id"))
    t.append(spark.range(5, 8).select(
        "id", (F.col("id") * 2).alias("extra")))
    df = t.read(spark, merge_schema=True)
    assert set(df.columns) == {"id", "extra"}
    rows = {r["id"]: r["extra"] for r in df.collect()}
    assert rows[2] is None and rows[6] == 12
    assert len(rows) == 8


def test_delete_where_rewrites_only_hit_files(spark, tmp_path):
    """Copy-on-write DELETE: rows gone, untouched files ride into the
    new snapshot by the SAME path (no rewrite), and only files that
    truly contain matches are replaced."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 100).repartitionByRange(4, "id"),
             stats_cols=["id"])
    before = {e["path"] for e in t.snapshot()["files"]}
    v = t.delete_where(spark, [("id", ">=", 90)])
    assert v == 2
    assert sorted(r["id"] for r in t.read(spark).collect()) \
        == list(range(90))
    after = t.snapshot()["files"]
    # only the top-range file was rewritten: 3 of 4 originals survive
    assert len(before & {e["path"] for e in after}) == 3
    assert t.snapshot()["operation"] == "delete"
    # rewritten files re-derive their stats (file skipping stays alive)
    assert all("stats" in e for e in after)
    # old snapshot still reads the full table (time travel)
    assert t.read(spark, version=1).count() == 100

    # no-match delete is a no-op: no new version
    assert t.delete_where(spark, [("id", ">", 5000)]) == 2
    assert t.current_version() == 2

    # delete everything in a file: file disappears, no empty rewrite
    t.delete_where(spark, [("id", "<", 25)])
    assert t.read(spark).count() == 65  # 25..89


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    """Three-valued logic: a NULL predicate must KEEP the row (DELETE
    removes only rows where the predicate is TRUE)."""
    t = _mk(spark, tmp_path)
    df = spark.range(0, 10).select(
        F.col("id"),
        F.when(F.col("id") < 5, F.col("id")).alias("v"))
    t.append(df)
    t.delete_where(spark, [("v", ">=", 2)])
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [0, 1, 5, 6, 7, 8, 9]  # NULL-v rows survive


def test_merge_upserts_by_key(spark, tmp_path):
    """MERGE: matched keys are replaced with the source rows, new keys
    append, non-matching files are untouched, one atomic commit."""
    t = _mk(spark, tmp_path)
    base = spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 10).alias("val"))
    t.append(base.repartitionByRange(4, "id"), stats_cols=["id"])
    before = {e["path"] for e in t.snapshot()["files"]}

    src = spark.createDataFrame(
        [(3, -1), (7, -2), (100, -3)], ["id", "val"])
    v = t.merge(spark, src, "id", stats_cols=["id"])
    assert v == 2 and t.snapshot()["operation"] == "merge"
    rows = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert len(rows) == 41
    assert (rows[3], rows[7], rows[100]) == (-1, -2, -3)
    assert rows[5] == 50  # unmatched rows intact
    # keys 3 and 7 live in the same range file: 3 of 4 originals survive
    assert len(before & {e["path"] for e in t.snapshot()["files"]}) == 3
    # insert-only merge (no matched keys) rewrites nothing
    before2 = {e["path"] for e in t.snapshot()["files"]}
    t.merge(spark, spark.createDataFrame([(200, -4)], ["id", "val"]),
            "id")
    assert before2 <= {e["path"] for e in t.snapshot()["files"]}
    assert t.read(spark).count() == 42


def test_rewrite_fences_incremental_and_conflicts(spark, tmp_path):
    """A delete/merge fences incremental readers, and a concurrent
    rewrite of the same files fails the commit instead of resurrecting
    deleted rows."""
    from vtzero_spark.engine.table import CommitConflict

    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 20), stats_cols=["id"])
    t.delete_where(spark, [("id", "==", 5)])
    with pytest.raises(ValueError, match="delete"):
        t.read_incremental(spark, 1)
    # stale rewrite: commit referencing files v2 already replaced
    doomed = t.snapshot(1)["files"]
    with pytest.raises(CommitConflict, match="concurrent rewrite"):
        t._commit([], "delete",  replace=False,
                  removed_paths={e["path"] for e in doomed})


def test_image_caption_table_end_to_end(spark, sf_dir, tmp_path):
    """The north-rule shape: an image+caption table ingested in
    batches; a consumer processes only each commit's delta and the
    running union equals a full scan."""
    t = _mk(spark, tmp_path, "imgs")
    img = synth.images(spark, sf_dir).select(
        "image_id", "w", "h", "caption", "phash")
    a = img.where("iid % 2 = 0")
    b = img.where("iid % 2 = 1")
    v1 = t.append(a)
    processed = t.read_incremental(spark, 0, to_version=v1).count()
    v2 = t.append(b)
    processed += t.read_incremental(spark, v1, to_version=v2).count()
    assert processed == t.read(spark).count() == img.count()
    # schema survives the round trip
    assert set(t.read(spark).columns) == {
        "image_id", "w", "h", "caption", "phash"}


# ------------------------------------------------- merge-on-read deletes


def test_mor_delete_is_metadata_only_and_exact(spark, tmp_path):
    """delete_where(mode='mor') removes rows from reads without
    touching any data file: the file list is unchanged, a positional
    delete file appears, and time travel still sees everything."""
    t = _mk(spark, tmp_path)
    df = spark.range(100).withColumn("k", F.col("id") % 10)
    v1 = t.append(df.repartition(4), stats_cols=["id"])
    files_before = [e["path"] for e in t.snapshot()["files"]]
    v2 = t.delete_where(spark, [("k", "==", 3)], mode="mor")
    snap = t.snapshot()
    assert [e["path"] for e in snap["files"]] == files_before
    assert len(snap["delete_files"]) == 1
    assert snap["delete_files"][0]["rows"] == 10
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [i for i in range(100) if i % 10 != 3]
    assert t.read(spark, version=v1).count() == 100
    assert t.history()[-1]["n_delete_files"] == 1
    assert v2 == v1 + 1


def test_mor_delete_stacks_and_never_duplicates_tuples(spark, tmp_path):
    """A second MOR delete records only NEWLY matching positions
    (delete-aware probe), and re-deleting the same predicate is a
    no-op commit-wise."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(100).withColumn("k", F.col("id") % 10)
             .repartition(4), stats_cols=["id"])
    t.delete_where(spark, [("k", "==", 3)], mode="mor")
    v3 = t.delete_where(spark, [("id", "<", 20)], mode="mor")
    # 10 (k==3) + 20 (id<20) - 2 overlap (3, 13) = 28 rows gone
    assert t.read(spark).count() == 72
    tuples = sum(d["rows"] for d in t.snapshot()["delete_files"])
    assert tuples == 28  # overlap recorded once, not twice
    assert t.delete_where(spark, [("k", "==", 3)], mode="mor") == v3


def test_mor_delete_respects_where_pruning(spark, tmp_path):
    """read(where=...) stays exact on a delete-bearing table, and the
    delete anti-join only loads delete files that APPLY to surviving
    data files."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 50).repartition(2), stats_cols=["id"])
    t.append(spark.range(50, 100).repartition(2), stats_cols=["id"])
    t.delete_where(spark, [("id", ">=", 90)], mode="mor")
    got = sorted(r["id"] for r in
                 t.read(spark, where=[("id", ">=", 40)]).collect())
    assert got == list(range(40, 90))
    # predicate confined to the first commit: no delete applies there
    assert t.read(spark, where=[("id", "<", 50)]).count() == 50


def test_mor_then_append_leaves_new_rows_alone(spark, tmp_path):
    """Positional deletes name exact files; rows appended afterwards
    with the same values are NOT deleted (v2 sequence semantics)."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 10))
    t.delete_where(spark, [("id", "==", 5)], mode="mor")
    t.append(spark.range(5, 6))  # re-insert id=5 in a new file
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9]


def test_rewrite_deletes_materializes(spark, tmp_path):
    """rewrite_deletes rewrites exactly the delete-bearing files,
    drops the delete entries, and preserves the read set; untouched
    files ride by reference."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 50).repartition(2), stats_cols=["id"])
    t.append(spark.range(50, 100).repartition(2), stats_cols=["id"])
    t.delete_where(spark, [("id", ">=", 95)], mode="mor")
    before = sorted(r["id"] for r in t.read(spark).collect())
    untouched = {e["path"] for e in t.snapshot(1)["files"]}
    v = t.rewrite_deletes(spark)
    snap = t.snapshot()
    assert not snap.get("delete_files")
    after = sorted(r["id"] for r in t.read(spark).collect())
    assert after == before == list(range(95))
    # the first commit's files were never referenced: still there
    assert untouched <= {e["path"] for e in snap["files"]}
    # idempotent when clean
    assert t.rewrite_deletes(spark) == v


def test_cow_after_mor_consumes_delete_entries(spark, tmp_path):
    """A COW delete over files that carry positional deletes applies
    them first (no resurrection) and consumes the delete entries for
    the rewritten files."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 20).repartition(1), stats_cols=["id"])
    t.delete_where(spark, [("id", "==", 7)], mode="mor")
    t.delete_where(spark, [("id", ">=", 15)])  # COW rewrite, same file
    snap = t.snapshot()
    assert not snap.get("delete_files")  # consumed by the rewrite
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [i for i in range(15) if i != 7]


def test_merge_applies_outstanding_mor_deletes(spark, tmp_path):
    """merge() over a delete-bearing file must not resurrect the
    MOR-deleted rows in its rewritten survivors."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 10).withColumn("v", F.lit("old"))
             .repartition(1), stats_cols=["id"])
    t.delete_where(spark, [("id", "==", 3)], mode="mor")
    src = spark.range(5, 7).withColumn("v", F.lit("new"))
    t.merge(spark, src, "id", stats_cols=["id"])
    rows = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert 3 not in rows
    assert rows[5] == rows[6] == "new"
    assert rows[0] == rows[9] == "old"
    assert not t.snapshot().get("delete_files")


def test_mor_conflict_when_referenced_file_rewritten(spark, tmp_path):
    """Both directions of the delete/rewrite race fail loudly:
    a MOR delete planned against files a concurrent COW rewrite
    removed, and a COW rewrite that would drop an unseen delete."""
    from vtzero_spark.engine.table import CommitConflict

    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 20).repartition(1), stats_cols=["id"])
    old_files = {e["path"] for e in t.snapshot()["files"]}
    t.delete_where(spark, [("id", ">=", 10)])  # COW: rewrites the file
    # 1) MOR delete whose tuples reference the replaced file
    with pytest.raises(CommitConflict, match="rewritten concurrently"):
        t._commit([], "delete", replace=False,
                  new_delete_files=[{"path": "data/x/fake.parquet",
                                     "bytes": 0, "rows": 1,
                                     "applies_to": sorted(old_files)}],
                  required_paths=old_files)
    # 2) COW rewrite that did not see a delete file landing meanwhile
    t.delete_where(spark, [("id", "==", 2)], mode="mor")
    live = {e["path"] for e in t.snapshot()["files"]}
    with pytest.raises(CommitConflict, match="delete files"):
        t._commit([], "delete", replace=False,
                  removed_paths=live, known_delete_paths=set())


def test_mor_delete_fences_incremental_and_survives_orphans(
        spark, tmp_path):
    """MOR delete commits fence incremental readers like COW deletes,
    and remove_orphans never collects a live delete file."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(0, 10))
    t.delete_where(spark, [("id", "==", 1)], mode="mor")
    with pytest.raises(ValueError, match="delete"):
        t.read_incremental(spark, 1)
    removed = t.remove_orphans(grace_seconds=0.0)
    assert removed == []
    assert t.read(spark).count() == 9
    # after materialization + expiry the delete file becomes an orphan
    t.rewrite_deletes(spark)
    t.expire_snapshots(keep_last=1)
    orphaned = t.remove_orphans(grace_seconds=0.0)
    assert any("parquet" in p for p in orphaned)
    assert t.read(spark).count() == 9
