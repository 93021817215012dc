"""Re-read a zip archive's directory only when the archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``), so that a file
added with ``addPyFile`` becomes importable. On CPython < 3.12 that call
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's whole central directory at once. A reused worker holds about 16
of them: one per package path inside ``pyspark.zip`` (1,328 entries), two
on the Spark core jar (5,359 entries, on the workers' ``PYTHONPATH``) and
two on the py4j zip. Together they cost 0.15-0.35 s per task on a 4-core
host, paid by every task whatever its input size.

``invalidate_caches`` below stats the archive first. When its
``(st_ino, st_size, st_mtime_ns)`` equals the key recorded the last time
this process read it, and ``zipimport._zip_directory_cache`` still holds
that read, the importer takes the shared directory and nothing is parsed.
A changed, replaced or deleted archive goes through the stdlib method, so
``addPyFile`` still works and a missing archive fails as before.

CPython 3.12 made the re-read lazy (gh-103200), so the patch is installed
only below it. Importing ``core_spark`` installs it; every Python worker
that runs a ``core_spark`` kernel imports the package while it unpickles
its first task.
"""

from __future__ import annotations

import os
import sys
import zipimport

# The stdlib method, also when this module is reloaded over an installed patch.
_stdlib = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                  zipimport.zipimporter.invalidate_caches)

# archive path -> (stat key, directory dict or None) of this process's last read
_read: dict[str, tuple[tuple[int, int, int], dict | None]] = {}


def invalidate_caches(self):
    """Reload the archive's directory if the file changed since the last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stdlib(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    last = _read.get(self.archive)
    if files is not None and last is not None and last[0] == key and last[1] is files:
        self._files = files
        return
    _stdlib(self)
    _read[self.archive] = (key, zipimport._zip_directory_cache.get(self.archive))


invalidate_caches.__wrapped__ = _stdlib

if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
