"""The Python worker daemon module: stat-keyed zipimport invalidation."""

from __future__ import annotations

import ast
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


_DECOY_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
import pyarrow as pa
from vtzero_spark.engine import session

def probe(batches):
    import cwd_helper
    import vtzero_spark
    for _ in batches:
        yield pa.RecordBatch.from_pydict(
            {"f": [vtzero_spark.__file__], "h": [cwd_helper.__file__]})

spark = session.get_spark("decoy_probe", cores=1, shuffle_partitions=1)
df = spark.range(2, numPartitions=1).mapInArrow(probe, "f string, h string")
rows = df.collect()
print("WORKER_FILES", sorted({r.f for r in rows}))
print("HELPER_FILES", sorted({r.h for r in rows}))
spark.stop()
"""


def test_workers_import_the_drivers_tree_not_their_cwd(tmp_path):
    """A driver started from a directory that holds another
    ``vtzero_spark`` (a decoy here; in an A/B run, the other tree) runs
    the tree it imported on its workers too: ``python -m`` would put the
    workers' working directory first on their path. A plain module that
    only that directory holds still imports on the workers."""
    import subprocess

    from vtzero_spark.engine import session

    decoy = tmp_path / "vtzero_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text("DECOY = True\n")
    (tmp_path / "cwd_helper.py").write_text("HELPER = True\n")
    out = subprocess.run(
        [sys.executable, "-c", _DECOY_PROBE, session._ROOT], cwd=tmp_path,
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("WORKER_FILES")][-1]
    files = ast.literal_eval(line.split(" ", 1)[1])
    assert files and all(
        f.startswith(os.path.join(session._ROOT, "vtzero_spark", ""))
        for f in files), files
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("HELPER_FILES")][-1]
    helpers = ast.literal_eval(line.split(" ", 1)[1])
    assert helpers == [str(tmp_path / "cwd_helper.py")], helpers
