"""The Python worker daemon module: stat-keyed zipimport invalidation."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa

from vtzero_spark.engine import pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"m1": "V = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda p: (p == path and reads.append(p)) or read_directory(p))
    monkeypatch.syspath_prepend(path)
    for m in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("m1").V == 1

    importlib.invalidate_caches()
    assert path in reads
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    # rewritten in place (the size changes): one invalidation re-reads it
    _write_zip(path, {"m1": "V = 1\n", "m2": "V = 2\n"})
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("m2").V == 2

    # same size, new mtime: still re-read
    reads.clear()
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [path]


def test_missing_archive_is_always_reread(tmp_path, monkeypatch):
    path = str(tmp_path / "gone.zip")
    _write_zip(path, {"m3": "V = 3\n"})
    imp = zipimport.zipimporter(path)
    os.remove(path)
    calls = []
    monkeypatch.setattr(pydaemon, "_reread", calls.append)
    pydaemon.invalidate_caches(imp)
    pydaemon.invalidate_caches(imp)
    assert calls == [imp, imp]


def test_workers_run_the_engine_daemon(spark):
    def probe(batches):
        from vtzero_spark.engine import pydaemon as d

        for _ in batches:
            code = zipimport.zipimporter.invalidate_caches.__code__
            ok = code.co_filename == d.__file__
            yield pa.RecordBatch.from_pydict({"ok": [ok]})

    rows = spark.range(4, numPartitions=2).mapInArrow(probe, "ok boolean").collect()
    assert rows and all(r.ok for r in rows)


def test_add_py_file_mid_session_is_importable(spark, tmp_path):
    # Spark invalidates import caches per task so that files added to a
    # running session import on its live workers
    spark.range(2, numPartitions=2).mapInArrow(
        lambda it: it, "id long").collect()  # workers are up
    zname = f"vtz_added_zip_{uuid.uuid4().hex}"
    pname = f"vtz_added_py_{uuid.uuid4().hex}"
    _write_zip(tmp_path / f"{zname}.zip", {zname: "V = 42\n"})
    (tmp_path / f"{pname}.py").write_text("V = 43\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{zname}.zip"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{pname}.py"))

    def use(batches):
        for b in batches:
            v = [importlib.import_module(zname).V
                 + importlib.import_module(pname).V] * b.num_rows
            yield pa.RecordBatch.from_pydict({"v": v})

    rows = spark.range(4, numPartitions=2).mapInArrow(use, "v long").collect()
    assert [r.v for r in rows] == [85] * 4
