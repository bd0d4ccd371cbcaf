"""Spark Python-worker startup patch: mtime-guarded zipimport cache refresh.

Why this file exists (measured, r16): every PySpark worker invocation —
executor task workers (``pyspark.worker``), the fork daemons, and the
driver-side DataSource planner workers (``pyspark.sql.worker.*``) — runs
``setup_spark_files`` → ``importlib.invalidate_caches()`` once per task /
planner call.  On CPython 3.11, ``zipimporter.invalidate_caches`` EAGERLY
re-reads the whole zip central directory every call (zipimport.py: it
unconditionally calls ``_read_directory``); a worker's
``sys.path_importer_cache`` holds zipimporters over pyspark.zip (x2
prefixes), the 5 359-entry spark-core jar, py4j, and the shipped package
zip, so every Python task pays 160-220 ms of pure CPU re-parsing
directories that never change.  Newer CPython fixed exactly this by
making the re-read conditional on the archive actually changing; this
module backports that guard: re-read only when the archive's
(mtime_ns, size) stamp moved, which preserves the documented semantics
(a replaced/updated zip IS re-read; an unchanged one is not).

Scope: Python's ``site`` imports ``sitecustomize`` at interpreter start
when it is importable.  Spark launches every worker/daemon process with
PYTHONPATH built from ``sc.environment`` (which ``shipping.ensure_shipped``
points at this package's parent directory), so those processes — and only
those — find this file.  The patch additionally gates itself on the
``PYTHON_WORKER_FACTORY_*`` environment markers Spark sets for worker and
daemon processes, so an ordinary interpreter that happens to see this file
on PYTHONPATH is left untouched.

At 100 TB this is not a micro-optimization: the guard removes a fixed
~0.2 s of CPU from every one of the millions of Python tasks a large job
schedules (guide §4.5: amortize heavyweight per-task setup).
"""

import os


def _patch_zipimport_invalidate() -> None:
    import zipimport

    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "_xbs_guarded", False):  # idempotent (daemon + fork)
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None  # archive gone: defer to the original (clears cache)
        if stamp is not None and getattr(self, "_xbs_dir_stamp", None) == stamp:
            return  # archive unchanged since the last read: directory is current
        orig(self)
        self._xbs_dir_stamp = stamp

    invalidate_caches._xbs_guarded = True  # type: ignore[attr-defined]
    zipimport.zipimporter.invalidate_caches = invalidate_caches  # type: ignore[method-assign]


# TCP workers carry the SECRET; Unix-domain-socket workers (the
# transport session.get_spark selects) carry only SOCK_DIR
_WORKER_MARKERS = (
    "PYTHON_WORKER_FACTORY_SECRET",
    "PYTHON_WORKER_FACTORY_SOCK_PATH",
    "PYTHON_WORKER_FACTORY_SOCK_DIR",
)

if any(m in os.environ for m in _WORKER_MARKERS):
    _patch_zipimport_invalidate()
