"""Python worker daemon for the engine's sessions
(``spark.python.daemon.module``, set by ``session.build_session``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Before CPython 3.12,
every live ``zipimport.zipimporter`` then re-parses its archive's whole
central directory at once. A worker that imported pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds one importer per imported
package of that zip, so each task re-read the 3.5 MB, 1,328-entry
directory about 16 times: 160-285 ms of CPU per task, whatever its row
count. CPython 3.12 made that re-read lazy (gh-103200).

``install()`` makes each importer skip the re-read while its archive's
``(st_mtime_ns, st_size)`` equals what it saw when it last read the
archive; a changed, added or deleted archive is still re-read. Workers
fork from this daemon, so they inherit the patch. The daemon itself is
``pyspark.daemon.manager()``, unchanged.

On CPython 3.12+ ``install()`` does nothing: delete this module (and
the daemon settings in ``session.build_session``) once workers run
3.12 or later.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a version that
    re-reads only an archive that changed (CPython < 3.12 only)."""
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stat BEFORE the read: a write racing the read leaves a key
        # that differs from the file's next state, so it is re-read
        key = _archive_key(self.archive)
        if key is None or getattr(self, "_read_key", None) != key:
            reread(self)
            self._read_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # run as ``python -m``, this file is ``__main__``; install the
    # version defined under the module's own name
    from jsonld_js_spark.daemon import install as _install

    _install()
    from pyspark.daemon import manager

    manager()
