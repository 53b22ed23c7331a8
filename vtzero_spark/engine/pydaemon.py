"""PySpark daemon entry point for the engine's Python workers.

Per-task zipimport invalidation re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since that importer's last read
(why: ``session.py``); then ``pyspark.daemon.manager()`` runs. The
working directory goes last on the workers' path (``PYTHONSAFEPATH``
keeps ``python -m`` from putting it first), so the engine tree on
``PYTHONPATH`` wins and modules that live only in the cwd still import.
"""

import os
import sys
import weakref
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at = weakref.WeakKeyDictionary()  # importer -> stat key of its last read


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or _read_at.get(self) != key:
        _reread(self)
        _read_at[self] = key


if __name__ == "__main__":
    from pyspark import daemon

    sys.path.append(os.getcwd())
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
