"""The engine's PySpark worker daemon: ``pyspark.daemon`` minus one fixed
cost of every Python task.

Every task a Python worker runs starts in
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before Python 3.12 that makes every
``zipimporter`` on ``sys.path`` re-read its archive's central directory
(3.12 made the re-read lazy, gh-103200). A worker's path holds Spark's
``pyspark.zip`` (~1.3k entries, about a dozen importers at ~6 ms each)
and the spark-core jar (~5.4k entries, two importers at ~25-30 ms each),
so on Python 3.11 a task paid 130-230 ms before its first row — more
than the whole run of many kernel tasks. The guard below re-reads an
archive only when its ``(mtime_ns, size)`` differs from the last read,
so a rewritten archive is still picked up.

Spark starts this module as ``python -m etl_covid19_brasil_spark.pyworker
<worker module>`` when ``spark.python.daemon.module`` names it
(:func:`etl_covid19_brasil_spark.session.get_spark` sets it); workers
fork from the daemon and inherit the guard and its record of the reads.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _guarded(invalidate):
    """Wrap ``zipimporter.invalidate_caches`` so an archive's directory is
    re-read only when the archive changed since the last read. Importers
    of one archive share its directory through zipimport's cache, as the
    plain re-read leaves them."""
    seen: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            seen.pop(self.archive, None)
            return invalidate(self)
        sig = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and seen.get(self.archive) == sig:
            self._files = files
            return None
        # stat before the read: a write after it changes the next stat
        seen[self.archive] = sig
        return invalidate(self)

    return invalidate_caches


def install() -> None:
    """Guard every zipimporter of this process (no-op on Python >= 3.12)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _guarded(
            zipimport.zipimporter.invalidate_caches
        )


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # record every archive once here, so forked workers start with no
    # re-read to do
    importlib.invalidate_caches()
    daemon.manager()
