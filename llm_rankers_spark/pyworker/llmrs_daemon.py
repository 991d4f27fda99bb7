"""PySpark worker daemon whose workers keep zip-archive directories cached
until the archive changes (CPython 3.12's lazy zipimport invalidation,
gh-103200, backported to older Pythons).

Every PySpark task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.12 that makes
every ``zipimport.zipimporter`` re-read its archive's whole central
directory at once. The workers import pyspark from ``pyspark.zip``, through
about 20 importers of the one archive, so each task re-read about 27,000
directory entries before it read a row. Here an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs
from the one its cached directory was read at.

``get_spark`` launches this module in place of ``pyspark.daemon``
(``spark.python.daemon.module=llmrs_daemon``, with this directory on
``spark.executorEnv.PYTHONPATH``). It installs the patch and then runs the
pyspark daemon's manager, so every worker forked from the daemon has the
patch from its first task. It imports only ``os``, ``sys``, ``zipimport``
and ``pyspark.daemon``: the forked image is the one ``pyspark.daemon``
gives. On Python 3.12 and later it installs nothing.
"""

import os
import sys
import zipimport

# archive path -> stat key of the archive when its cached directory was read
_read_at = {}


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    it changed since its cached directory was read."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files  # another importer of this archive may have re-read it
        return
    _reread(self)
    _read_at[self.archive] = key  # taken before the read: a change in between reads again


def install():
    """On Python < 3.12, patch ``zipimport.zipimporter`` and note the stat
    key of every archive imported from so far; on 3.12 and later, nothing."""
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()  # before the fork: workers share the daemon's stat keys
    daemon.manager()
