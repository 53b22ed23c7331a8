"""Versioned snapshot tables — the storage layer the north rule's
"Iceberg tables of image + caption pairs" sit on.

The container has no Iceberg runtime, so this implements the PUBLIC
Apache Iceberg table-spec ideas from scratch over plain parquet +
JSON metadata (no binary-format compatibility claimed):

- **Snapshot isolation**: every commit writes an immutable version
  file ``metadata/v%08d.json`` listing the table's data files; a
  reader resolves ONE version and sees that file list forever —
  concurrent appends never tear a scan.
- **Atomic commits with optimistic concurrency**: data files land
  first (parquet, executor-parallel), then the version file is
  created with O_EXCL — exactly one writer wins a version number;
  the loser re-reads the new head, re-merges its file list and
  retries, exactly the Iceberg commit loop.
- **Time travel**: ``read(spark, version=K)`` scans any retained
  snapshot.
- **Incremental reads**: ``read_incremental(A, B)`` returns only the
  files appended in (A, B] — the changelog scan a streaming backfill
  or a resumable pipeline consumes instead of re-reading the table.
- **File-skipping column stats**: ``append(stats_cols=[...])`` records
  per-file min/max in the snapshot (Iceberg's manifest column stats);
  ``read(where=[(col, op, val), ...])`` drops files the stats prove
  empty before Spark plans the scan — metadata pruning one tier above
  parquet footer/row-group pruning. At 100 TB this is the difference
  between listing 400k files and scanning the ~dozens a tile-range or
  time-range predicate actually touches.
- **Row-level deletes and upserts (copy-on-write)**: ``delete_where``
  and ``merge(df, key_col)`` rewrite ONLY the files that actually
  contain affected rows (stats prune → exact per-file probe), carry
  every other file into the new snapshot by reference, and commit
  atomically; conflicting concurrent rewrites of the same files fail
  with CommitConflict instead of resurrecting deleted rows.
- **Merge-on-read deletes (Iceberg v2 positional delete files)**:
  ``delete_where(mode="mor")`` writes a small parquet of
  (file_path, pos) rows — positions are Spark's
  ``_metadata.row_index``, exactly the v2 spec's pos-delete tuple —
  and commits METADATA ONLY: no data file is rewritten, so deleting
  100 rows from a 256 MB file costs KBs, not a rewrite (the
  write-amplification trade COW cannot make). Readers anti-join the
  delete rows against the scan (broadcast while the recorded delete
  volume is small, shuffle join past that); delete files only ever
  apply to the exact data files they name, so later appends are
  untouched. ``rewrite_deletes`` materializes them back into clean
  data files (Iceberg's rewrite_position_delete_files +
  rewrite_data_files), restoring delete-free scans. Concurrency: a
  MOR delete commit requires every referenced data file to still be
  live at commit time, and a COW rewrite fails if an unseen delete
  file references the files it is removing — both directions of the
  delete/rewrite race surface as CommitConflict instead of silent
  row resurrection.
- **Maintenance**: ``expire_snapshots`` retains the last N version
  files; ``remove_orphans`` deletes data files no retained snapshot
  references (with a grace window against in-flight commits, same
  discipline as engine/checkpoint.py's vacuum).

Relation to engine/checkpoint.py: that module is per-JOB resume (a
manifest of completed work buckets); this is the table abstraction
multiple jobs share. The pipeline shape is checkpoint-managed jobs
writing snapshot-table commits.

Scale note (honest bound): a version file holds the FULL data-file
list, so metadata is O(files) per snapshot — the reason real Iceberg
splits manifests. At 100 TB with ~256 MB files that is ~400k entries
(~40 MB JSON): driver-sized but not free; compact with
``compact_files`` (rewrite small files, one commit) before the list
grows pathological. Data-file paths are relative, so a table
directory is relocatable.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer won the version number (retried internally; this
    surfaces only when retries are exhausted)."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _version_file(path: str, v: int) -> str:
    return os.path.join(_meta_dir(path), f"v{v:08d}.json")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


class SnapshotTable:
    """Handle to a snapshot table directory. Cheap to construct; all
    state lives on disk so any number of processes can hold handles."""

    def __init__(self, path: str):
        self.path = path

    # ------------------------------------------------------- lifecycle

    @classmethod
    def create(cls, path: str) -> "SnapshotTable":
        """Initialize an empty table (version 0, no files). Fails if a
        table already exists at ``path``."""
        os.makedirs(_meta_dir(path), exist_ok=True)
        os.makedirs(_data_dir(path), exist_ok=True)
        t = cls(path)
        snap = {"version": 0, "parent": None, "operation": "create",
                "ts": time.time(), "files": []}
        try:
            with open(_version_file(path, 0), "x") as f:
                json.dump(snap, f)
        except FileExistsError:
            raise ValueError(f"table already exists at {path}")
        return t

    def exists(self) -> bool:
        return os.path.exists(_version_file(self.path, 0))

    # ------------------------------------------------------- snapshots

    def current_version(self) -> int:
        """Head version by listing metadata/ — the directory listing is
        the source of truth (a version-hint file would just be a stale
        cache; Iceberg's catalogs exist to avoid this listing, a
        single-directory table doesn't need one)."""
        best = -1
        for name in os.listdir(_meta_dir(self.path)):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    best = max(best, int(name[1:-5]))
                except ValueError:
                    continue
        if best < 0:
            raise ValueError(f"no table at {self.path}")
        return best

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        p = _version_file(self.path, v)
        if not os.path.exists(p):
            raise ValueError(
                f"version {v} not found (expired or never committed)")
        with open(p) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """Retained snapshots, oldest first (version/operation/ts/
        n_files) — the lineage record per table."""
        out = []
        for name in sorted(os.listdir(_meta_dir(self.path))):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(_meta_dir(self.path), name)) as f:
                    s = json.load(f)
                out.append({"version": s["version"],
                            "operation": s["operation"], "ts": s["ts"],
                            "n_files": len(s["files"]),
                            "n_rows": sum(fe["rows"] for fe in s["files"]),
                            "n_delete_files":
                                len(s.get("delete_files", []))})
        return out

    # --------------------------------------------------------- commits

    def _stage(self, df: DataFrame,
               stats_cols: list[str] | None = None) -> list[dict]:
        """Write df's partitions as parquet under data/<token>/ and
        return the file entries. Executor-parallel; nothing is visible
        to readers until the version file commits.

        ``stats_cols`` names numeric/string columns whose per-FILE
        min/max land in the metadata (Iceberg's manifest column stats)
        — the hook ``read(where=...)`` uses to skip whole files
        without opening a footer."""
        token = uuid.uuid4().hex[:12]
        stage_dir = os.path.join(_data_dir(self.path), token)
        df.write.mode("errorifexists").parquet(stage_dir)
        entries = []
        for name in sorted(os.listdir(stage_dir)):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(stage_dir, name)
            entries.append({
                "path": os.path.join("data", token, name),
                "bytes": os.path.getsize(full),
                "rows": -1,  # filled below
            })
        if not entries:
            return []  # empty micro-batch: nothing staged, no footer
        # per-file row counts + column min/max in ONE distributed
        # aggregate over the staged files, keyed by file name
        spark = df.sparkSession
        import pyspark.sql.functions as F
        aggs = [F.count(F.lit(1)).alias("count")]
        for c in stats_cols or []:
            aggs += [F.min(c).alias(f"min__{c}"),
                     F.max(c).alias(f"max__{c}")]
        stats = (spark.read.parquet(stage_dir)
                 .groupBy(F.input_file_name().alias("f"))
                 .agg(*aggs).collect())
        by_name = {os.path.basename(r["f"].split("?")[0]): r
                   for r in stats}
        for e in entries:
            r = by_name.get(os.path.basename(e["path"]))
            e["rows"] = int(r["count"]) if r is not None else 0
            if r is not None and stats_cols:
                e["stats"] = {c: [r[f"min__{c}"], r[f"max__{c}"]]
                              for c in stats_cols}
        return entries

    def _commit(self, new_files: list[dict], operation: str,
                replace: bool, removed_paths: set[str] | None = None,
                new_delete_files: list[dict] | None = None,
                required_paths: set[str] | None = None,
                known_delete_paths: set[str] | None = None,
                max_retries: int = 20) -> int:
        """The optimistic-concurrency loop: merge against the current
        head, try to create head+1 with O_EXCL, re-merge on loss.

        ``removed_paths`` (copy-on-write rewrites: delete/merge) names
        data files the new files REPLACE. On a lost race the re-merge
        checks every removed path still exists in the new head — if a
        concurrent writer rewrote or dropped one of them, our staged
        files were derived from stale data and the commit must fail
        (Iceberg's serializable-conflict check), not silently resurrect
        deleted rows. A COW rewrite additionally fails if the new head
        carries a positional-delete file it did NOT see at planning
        time (``known_delete_paths``) that references a removed file:
        the rewrite would drop that concurrent delete on the floor.

        ``new_delete_files`` appends merge-on-read positional-delete
        entries; ``required_paths`` (MOR delete) names data files that
        must still be live at commit time — a concurrent rewrite of a
        referenced file means our (file, pos) tuples aim at a file the
        head no longer reads, so the delete must be re-planned."""
        for _ in range(max_retries):
            head = self.current_version()
            parent = self.snapshot(head)
            par_dels = parent.get("delete_files", [])
            if required_paths:
                have = {e["path"] for e in parent["files"]}
                gone = required_paths - have
                if gone:
                    raise CommitConflict(
                        f"data files {sorted(gone)[:3]}... were "
                        f"rewritten concurrently at {self.path}; "
                        "re-plan the positional delete against the "
                        "new head")
            if removed_paths:
                have = {e["path"] for e in parent["files"]}
                gone = removed_paths - have
                if gone:
                    raise CommitConflict(
                        f"concurrent rewrite of {sorted(gone)[:3]}... "
                        f"at {self.path}; retry the whole operation "
                        "against the new head")
                unseen = [
                    d for d in par_dels
                    if set(d.get("applies_to", [])) & removed_paths
                    and d["path"] not in (known_delete_paths or set())]
                if unseen:
                    raise CommitConflict(
                        f"delete files {[d['path'] for d in unseen][:3]} "
                        f"landed concurrently against files this rewrite "
                        f"removes at {self.path}; re-plan against the "
                        "new head")
                files = [e for e in parent["files"]
                         if e["path"] not in removed_paths] + list(new_files)
                # consume delete entries for the removed files: the
                # rewrite already applied them
                dels = []
                for d in par_dels:
                    rest = [p for p in d.get("applies_to", [])
                            if p not in removed_paths]
                    if rest:
                        dels.append({**d, "applies_to": rest})
            elif replace:
                files = list(new_files)
                dels = []  # an overwrite starts delete-free
            else:
                files = parent["files"] + list(new_files)
                dels = list(par_dels)
            dels = dels + list(new_delete_files or [])
            snap = {"version": head + 1, "parent": head,
                    "operation": operation, "ts": time.time(),
                    "files": files}
            if dels:
                snap["delete_files"] = dels
            if removed_paths:
                snap["removed"] = sorted(removed_paths)
            try:
                with open(_version_file(self.path, head + 1), "x") as f:
                    json.dump(snap, f)
                return head + 1
            except FileExistsError:
                continue  # lost the race; re-read head and retry
        raise CommitConflict(
            f"lost {max_retries} commit races at {self.path}")

    def append(self, df: DataFrame,
               stats_cols: list[str] | None = None) -> int:
        """Stage df as new data files and commit them on top of the
        current head. Returns the committed version. ``stats_cols``
        records per-file min/max for those columns in the snapshot
        metadata (see ``_stage``), enabling ``read(where=...)`` to
        prune files without opening them."""
        return self._commit(self._stage(df, stats_cols), "append",
                            replace=False)

    def overwrite(self, df: DataFrame,
                  stats_cols: list[str] | None = None) -> int:
        """Replace the table's contents with df in one atomic commit
        (previous snapshots remain readable until expired)."""
        return self._commit(self._stage(df, stats_cols), "overwrite",
                            replace=True)

    # ------------------------------------------- copy-on-write rewrites

    @staticmethod
    def _where_column(where: list[tuple]):
        """Conjunction of (col, op, value) predicates as a Column."""
        import pyspark.sql.functions as F
        _OPS = {"==": "__eq__", ">=": "__ge__", ">": "__gt__",
                "<=": "__le__", "<": "__lt__"}
        pred = F.lit(True)
        for (c, op, v) in where:
            if op not in _OPS:
                raise ValueError(f"unsupported where op {op!r} "
                                 "(use ==, <, <=, >, >=)")
            pred = pred & getattr(F.col(c), _OPS[op])(F.lit(v))
        return pred

    def _hit_files(self, spark: SparkSession, candidates: list[dict],
                   match_col) -> list[dict]:
        """Exact tier of the copy-on-write planner: of the
        stats-surviving candidate files, which actually CONTAIN a row
        where ``match_col`` is true? One aggregate keyed by
        input_file_name — so a conservatively-kept file with zero
        matches is carried over untouched instead of rewritten."""
        import pyspark.sql.functions as F
        rows = (spark.read.parquet(*self._resolve(candidates))
                .where(match_col)
                .groupBy(F.input_file_name().alias("f")).count()
                .collect())
        hit = {os.path.basename(r["f"].split("?")[0]) for r in rows}
        return [e for e in candidates
                if os.path.basename(e["path"]) in hit]

    @staticmethod
    def _carryover_stats_cols(files: list[dict]) -> list[str]:
        """stats_cols to re-derive on rewritten files: every column any
        affected file carried stats for (keeps file skipping alive
        across deletes/merges without the caller restating it)."""
        cols: set[str] = set()
        for e in files:
            cols |= set((e.get("stats") or {}).keys())
        return sorted(cols)

    def delete_where(self, spark: SparkSession,
                     where: list[tuple], mode: str = "cow") -> int:
        """Row-level DELETE. ``mode="cow"`` (Iceberg's copy-on-write
        `DELETE FROM ... WHERE`): metadata stats prune the table to
        candidate files, an exact per-file probe narrows those to
        files that truly contain matching rows, and ONLY those are
        rewritten without the rows — every other data file rides into
        the new snapshot by reference. ``mode="mor"`` (Iceberg v2
        merge-on-read): instead of rewriting anything, the matching
        rows' (file_path, row_index) tuples land as a positional
        DELETE FILE and the commit is metadata-only — readers apply
        the anti-join until ``rewrite_deletes`` materializes it. MOR
        is the right trade when deletes are small relative to file
        size (the 100 TB GDPR-delete shape); COW when a large slice
        dies at once. Returns the committed version (the current head
        unchanged if nothing matched); CommitConflict on racing
        rewrites either way."""
        import pyspark.sql.functions as F
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        snap = self.snapshot()
        files = snap["files"]
        snap_dels = snap.get("delete_files", [])
        cand = [e for e in files
                if all(self._file_may_match(e, c, op, v)
                       for (c, op, v) in where)]
        if not cand:
            return self.current_version()
        pred = self._where_column(where)
        if mode == "mor":
            # delete-aware scan of the candidates: already-deleted rows
            # must not be re-recorded (delete files stay minimal).
            # Positions are tagged on the raw scan, THEN the existing
            # deletes anti-join, THEN the predicate.
            tagged = self._tag_positions(
                spark.read.parquet(*self._resolve(cand)))
            applicable = self._applicable_deletes(cand, snap_dels)
            if applicable:
                tagged = self._anti_join_deletes(spark, tagged, applicable)
            hits = (tagged.where(pred)
                    .select(F.col("__vt_rel").alias("file_path"),
                            F.col("__vt_pos").alias("pos")))
            # one small delete file per commit (the scan stays
            # parallel; only the matched tuples cross the shuffle) —
            # a delete big enough to need many files wants COW anyway
            entries = self._stage(hits.repartition(1))
            if not entries:
                return self.current_version()
            applies = sorted({r["file_path"] for r in
                              spark.read.parquet(
                                  *self._resolve(entries))
                              .select("file_path").distinct().collect()})
            if not applies:  # zero matching rows staged
                return self.current_version()
            for e in entries:
                e["applies_to"] = applies
            return self._commit(
                [], "delete", replace=False,
                new_delete_files=entries,
                required_paths=set(applies))
        affected = self._hit_files(spark, cand, pred)
        if not affected:
            return self.current_version()
        survivors = spark.read.parquet(*self._resolve(affected))
        survivors = self._apply_deletes(spark, survivors, affected,
                                        snap_dels)
        # keep rows where pred is not TRUE (null-safe: a NULL
        # predicate must not delete the row)
        survivors = survivors.where(~F.coalesce(pred, F.lit(False)))
        new = (self._stage(survivors, self._carryover_stats_cols(affected))
               if survivors.limit(1).count() else [])
        return self._commit(
            new, "delete", replace=False,
            removed_paths={e["path"] for e in affected},
            known_delete_paths={d["path"] for d in snap_dels})

    def merge(self, spark: SparkSession, df: DataFrame, key_col: str,
              stats_cols: list[str] | None = None) -> int:
        """Upsert by key (copy-on-write `MERGE INTO ... WHEN MATCHED
        UPDATE WHEN NOT MATCHED INSERT`): rows of ``df`` replace
        same-key rows already in the table; new keys append. One
        atomic commit: files holding matched keys are rewritten
        without them, ``df`` lands as new files, everything else rides
        by reference. File planning is two-tier like delete_where —
        df's [min, max] key range prunes by stats, then an exact
        semi-probe keeps only files that truly hold a matched key.
        ``stats_cols`` applies to df's new files; rewritten files
        re-derive whatever stats they already carried."""
        import pyspark.sql.functions as F
        snap = self.snapshot()
        files = snap["files"]
        snap_dels = snap.get("delete_files", [])
        lo, hi = df.agg(F.min(key_col), F.max(key_col)).first()
        if lo is None:
            raise ValueError("merge source has no non-null keys")
        cand = [e for e in files
                if self._file_may_match(e, key_col, ">=", lo)
                and self._file_may_match(e, key_col, "<=", hi)]
        keys = df.select(key_col).distinct()
        affected = []
        if cand:
            probe = (spark.read.parquet(*self._resolve(cand))
                     .join(F.broadcast(keys), key_col, "left_semi")
                     .groupBy(F.input_file_name().alias("f")).count()
                     .collect())
            hit = {os.path.basename(r["f"].split("?")[0]) for r in probe}
            affected = [e for e in cand
                        if os.path.basename(e["path"]) in hit]
        new = self._stage(df, stats_cols)
        if affected:
            survivors = spark.read.parquet(*self._resolve(affected))
            survivors = self._apply_deletes(spark, survivors, affected,
                                            snap_dels)
            survivors = survivors.join(
                F.broadcast(keys), key_col, "left_anti")
            if survivors.limit(1).count():
                new = new + self._stage(
                    survivors, self._carryover_stats_cols(affected))
        return self._commit(
            new, "merge", replace=False,
            removed_paths={e["path"] for e in affected}
            if affected else None,
            known_delete_paths={d["path"] for d in snap_dels})

    # ----------------------------------------------------------- reads

    def _resolve(self, files: list[dict]) -> list[str]:
        return [os.path.join(self.path, e["path"]) for e in files]

    # broadcast the delete rows below this many recorded tuples; past
    # it, let the anti-join shuffle (the delete volume is known from
    # metadata, so the choice never needs a scan)
    MOR_BROADCAST_ROWS = 5_000_000

    @staticmethod
    def _rel_path_col():
        """data/<token>/<file> suffix of ``_metadata.file_path`` — the
        relative form delete files store, keeping tables relocatable."""
        import pyspark.sql.functions as F
        return F.regexp_extract(
            F.col("_metadata.file_path"), r"(data/[^/]+/[^/]+)$", 1)

    def _tag_positions(self, df: DataFrame) -> DataFrame:
        """Attach (__vt_rel, __vt_pos) — the positional-delete tuple of
        each row — to a RAW parquet scan (``_metadata`` is only
        addressable on the file-source relation, so tag before any
        join)."""
        import pyspark.sql.functions as F
        return df.withColumn("__vt_rel", self._rel_path_col()) \
                 .withColumn("__vt_pos", F.col("_metadata.row_index"))

    def _anti_join_deletes(self, spark: SparkSession, tagged: DataFrame,
                           applicable: list[dict]) -> DataFrame:
        import pyspark.sql.functions as F
        dels = spark.read.parquet(*self._resolve(applicable)) \
            .select("file_path", "pos")
        n_tuples = sum(d["rows"] for d in applicable)
        if n_tuples <= self.MOR_BROADCAST_ROWS:
            dels = F.broadcast(dels)
        return tagged.join(
            dels,
            (tagged["__vt_rel"] == dels["file_path"])
            & (tagged["__vt_pos"] == dels["pos"]),
            "left_anti")

    def _applicable_deletes(self, kept: list[dict],
                            delete_files: list[dict]) -> list[dict]:
        kept_paths = {e["path"] for e in kept}
        return [d for d in delete_files
                if set(d.get("applies_to", [])) & kept_paths]

    def _apply_deletes(self, spark: SparkSession, df: DataFrame,
                       kept: list[dict],
                       delete_files: list[dict]) -> DataFrame:
        """Anti-join the scan against the positional-delete tuples that
        apply to any of the ``kept`` data files. No-op (and no plan
        change) when none apply."""
        applicable = self._applicable_deletes(kept, delete_files)
        if not applicable:
            return df
        out = self._anti_join_deletes(spark, self._tag_positions(df),
                                      applicable)
        return out.drop("__vt_rel", "__vt_pos")

    @staticmethod
    def _file_may_match(entry: dict, col: str, op: str, value) -> bool:
        """Conservative metadata prune: True unless the file's recorded
        [min, max] for ``col`` PROVES no row can satisfy the predicate.
        Files without stats for the column always survive."""
        stats = entry.get("stats") or {}
        if col not in stats:
            return True
        mn, mx = stats[col]
        if mn is None or mx is None:  # all-null file: keep; the
            return True               # residual row filter handles it
        if op == "==":
            return mn <= value <= mx
        if op == ">=":
            return mx >= value
        if op == ">":
            return mx > value
        if op == "<=":
            return mn <= value
        if op == "<":
            return mn < value
        raise ValueError(f"unsupported where op {op!r} "
                         "(use ==, <, <=, >, >=)")

    def read(self, spark: SparkSession,
             version: int | None = None,
             where: list[tuple] | None = None,
             merge_schema: bool = False) -> DataFrame:
        """Scan one snapshot (head by default). The file list is fixed
        at call time — snapshot isolation against concurrent commits.

        ``where`` is a conjunction of ``(col, op, value)`` predicates
        (ops ``== < <= > >=``). Files whose committed min/max stats
        (written by ``append(stats_cols=...)``) prove zero matching
        rows are dropped from the scan BEFORE Spark sees them —
        Iceberg's manifest-stats pruning, one tier above parquet
        footer/row-group pruning (which still applies to the files
        that survive). The same predicates are re-applied row-level,
        so the result is exact regardless of which files had stats.

        ``merge_schema=True`` unions the schemas across data files
        (additive schema evolution: appends may carry NEW nullable
        columns; older files read them as NULL). Off by default —
        schema merging reads every surviving file's footer up front."""
        snap = self.snapshot(version)
        files = snap["files"]
        if not files:
            raise ValueError(
                f"version {snap['version']} is empty; nothing to read")
        if where:
            kept = [e for e in files
                    if all(self._file_may_match(e, c, op, v)
                           for (c, op, v) in where)]
        else:
            kept = files
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if not kept:
            # every file proved empty for the predicate: zero-row frame
            # with the table schema (footer reads only, no data pages;
            # all files under merge_schema so the union schema is right)
            empty_src = files if merge_schema else files[:1]
            df = reader.parquet(*self._resolve(empty_src)).limit(0)
        else:
            df = reader.parquet(*self._resolve(kept))
            df = self._apply_deletes(
                spark, df, kept, snap.get("delete_files", []))
        if where:
            df = df.where(self._where_column(where))
        return df

    def read_incremental(self, spark: SparkSession, from_version: int,
                         to_version: int | None = None) -> DataFrame:
        """Rows appended AFTER from_version up to to_version (head by
        default) — the changelog read. Raises if any snapshot in the
        range is an overwrite (its delta is not append-only; a consumer
        must restart from a full scan, and silently pretending
        otherwise would drop retractions)."""
        to_v = self.current_version() if to_version is None else to_version
        if to_v < from_version:
            raise ValueError(f"to_version {to_v} < from_version "
                             f"{from_version}")
        base = {e["path"] for e in self.snapshot(from_version)["files"]}
        for v in range(from_version + 1, to_v + 1):
            op = self.snapshot(v)["operation"]
            if op in ("overwrite", "delete", "merge", "rewrite_deletes"):
                raise ValueError(
                    f"version {v} is a {op}; incremental read across "
                    "it is not append-only (rewritten survivor files "
                    "would double-count) — restart from a full scan")
        new = [e for e in self.snapshot(to_v)["files"]
               if e["path"] not in base]
        if not new:
            return None  # no delta; callers treat like an empty batch
        return spark.read.parquet(*self._resolve(new))

    # ----------------------------------------------------- maintenance

    def compact_files(self, spark: SparkSession, target_files: int,
                      stats_cols: list[str] | None = None,
                      cluster_col: str | None = None) -> int:
        """Rewrite the head snapshot into ``target_files`` files and
        commit as an overwrite — the small-file compaction that keeps
        the O(files) metadata bound honest. Pass ``stats_cols`` to
        re-derive file-skipping stats on the compacted files (stats do
        not carry over: the rewrite changes file boundaries).

        ``cluster_col`` RE-SORTS during compaction (repartitionByRange)
        instead of coalescing: plain coalesce merges whatever files sit
        next to each other, so after many interleaved commits each
        output file's [min, max] span widens until stats prune nothing
        — re-clustering restores disjoint spans and keeps the
        file-skipping path sharp. That is Iceberg's sorted
        rewrite_data_files, the maintenance half of Z-order serving."""
        df = self.read(spark)
        if cluster_col is not None:
            df = df.repartitionByRange(target_files, cluster_col)
            if stats_cols is None:
                stats_cols = [cluster_col]
        else:
            df = df.coalesce(target_files)
        return self.overwrite(df, stats_cols=stats_cols)

    def rewrite_deletes(self, spark: SparkSession) -> int:
        """Materialize every outstanding positional delete: the data
        files any delete file references are rewritten with the
        deletes applied, everything else rides by reference, and the
        new snapshot carries no delete files for them (``_commit``
        consumes the entries when their referenced files are removed).
        This is Iceberg's rewrite_data_files over delete-bearing
        files — the maintenance half of merge-on-read that restores
        anti-join-free scans. Returns the committed version (head
        unchanged if there is nothing to rewrite)."""
        snap = self.snapshot()
        dels = snap.get("delete_files", [])
        if not dels:
            return self.current_version()
        ref: set[str] = set()
        for d in dels:
            ref |= set(d.get("applies_to", []))
        affected = [e for e in snap["files"] if e["path"] in ref]
        if not affected:
            return self.current_version()
        survivors = spark.read.parquet(*self._resolve(affected))
        survivors = self._apply_deletes(spark, survivors, affected, dels)
        new = (self._stage(survivors,
                           self._carryover_stats_cols(affected))
               if survivors.limit(1).count() else [])
        return self._commit(
            new, "rewrite_deletes", replace=False,
            removed_paths={e["path"] for e in affected},
            known_delete_paths={d["path"] for d in dels})

    def expire_snapshots(self, keep_last: int = 3) -> list[int]:
        """Drop version files beyond the newest ``keep_last`` (data
        files stay until remove_orphans). Version 0 may expire; the
        head never does."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = sorted(s["version"] for s in
                          (self.snapshot(h["version"])
                           for h in self.history()))
        drop = versions[:-keep_last]
        for v in drop:
            os.remove(_version_file(self.path, v))
        return drop

    def remove_orphans(self, grace_seconds: float = 3600.0) -> list[str]:
        """Delete data files no retained snapshot references and older
        than ``grace_seconds`` — the grace window protects files staged
        by a commit that has not yet won its version race."""
        live: set[str] = set()
        for h in self.history():
            s = self.snapshot(h["version"])
            for e in s["files"]:
                live.add(e["path"])
            for d in s.get("delete_files", []):
                live.add(d["path"])
        cutoff = time.time() - grace_seconds
        removed = []
        dd = _data_dir(self.path)
        for token in os.listdir(dd):
            tdir = os.path.join(dd, token)
            if not os.path.isdir(tdir):
                continue
            for name in os.listdir(tdir):
                rel = os.path.join("data", token, name)
                full = os.path.join(tdir, name)
                if rel in live or not name.endswith(".parquet"):
                    continue
                if os.path.getmtime(full) > cutoff:
                    continue
                os.remove(full)
                removed.append(rel)
            if not os.listdir(tdir):
                os.rmdir(tdir)
        return removed
