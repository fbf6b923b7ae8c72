"""tits_spark — a PySpark-native irregular time-series engine.

Rebuilds the capabilities of hroptatyr/tits (irregular-series kernels:
z-normalization, kernel-weighted ACF/XCF, Levinson-Durbin AR fitting,
polynomial roots, Lomb-Scargle periodogram, and the guess_lag streaming
pipeline) as an idiomatic Spark engine, extended with the scale-out
machinery the reference lacks: cascading rollup tiers (raw -> 1m -> 1h
-> 1d), LOCF/linear gap-fill, Gorilla compression, per-partition lineage
with checkpoint resume, skew-aware partitioning, plus large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing).

Reference parity citations use `ref:<file>:<lines>` meaning a path under
/root/reference/src (e.g. ref:sacf.c:153-181).
"""

import sys

__version__ = "0.1.0"


def _install_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark/worker_util.py`` ``setup_spark_files``). On CPython
    3.10, 3.11 and 3.12 (checked: 3.10.13, 3.11.7, 3.12.1) each
    ``zipimporter`` then re-reads its archive's whole central directory
    eagerly, and a worker holds one importer per imported package of
    ``pyspark.zip`` and of the spark-core jar on its path: 100-300 ms
    before each Python task runs. CPython 3.13 (checked: 3.13.0) only
    drops the cache entry and re-reads lazily; 3.9 and older have no such
    method. Only the eager versions are patched.

    The replacement re-reads an archive when its ``(st_mtime_ns,
    st_size)`` differs from the stamp taken when the shared
    ``_zip_directory_cache`` entry was read, or when no stamp is known
    (the first invalidation after an importer is created records it).
    Otherwise the importer adopts the current shared entry, so after an
    archive changes every importer over it sees the new contents (a
    rewrite that keeps both the size and the mtime is missed, as it is by
    the mtime-and-size check of Python's own bytecode cache). Spark
    workers import this package while unpickling the first engine UDF,
    so a reused worker pays the re-read once, not on every task.
    """
    import os
    import zipimport

    if sys.implementation.name != "cpython" or not (3, 10) <= sys.version_info[:2] < (3, 13):
        return
    eager = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    stamps = {}  # archive -> (stamp, the cache entry read at that stamp)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = cache.get(self.archive)
        seen = stamps.get(self.archive)
        if seen is not None and seen[0] == stamp and seen[1] is files:
            self._files = files
            return
        # stat before the read: an archive rewritten during the read then
        # differs from its stamp at the next invalidation
        eager(self)
        files = cache.get(self.archive)
        if stamp is None or files is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = (stamp, files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_invalidation()
