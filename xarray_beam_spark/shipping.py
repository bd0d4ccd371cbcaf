"""Ship the xarray_beam_spark package to Spark executors.

UDF closures reference this package's module-level functions; cloudpickle
serializes those *by reference*, so executor Python workers must be able to
``import xarray_beam_spark`` regardless of the driver process's cwd. We zip
the package once and register it with ``SparkContext.addPyFile`` —
idempotent per context.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_FLAG = "_xbs_package_shipped"
_TUNE_FLAG = "_xbs_session_tuned"

# The six runtime-mutable settings the engine assumes; session.get_spark
# applies the same table at build time (single source of truth — the two
# tuning sites had already drifted once).
def runtime_sql_conf(parallelism: int) -> tuple[tuple[str, str], ...]:
    return (
        ("spark.sql.shuffle.partitions", str(max(parallelism, 8))),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        # Let AQE re-plan (partition-coalesce) the plans behind persist()ed
        # frames. Off, a cached chunk-row/signature frame materializes with
        # the static shuffle-partition count plus union fan-in — 64 mostly
        # EMPTY partitions for a handful of chunk rows at gate scale — and
        # every downstream narrow stage then pays one Python-worker round
        # trip per empty partition (measured: a 3-stage grid pipeline over
        # the cached 5-chunk grid dropped 8.9 s -> 0.4 s). Scale-adaptive
        # by construction: AQE coalesces by BYTES, so a 100 TB cached frame
        # keeps its thousands of partitions.
        ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "8192"),
    )


def tune_session(spark: SparkSession) -> None:
    """Apply the engine's runtime SQL configuration to a vanilla session.

    The engine's operators assume (a) Arrow transfer for the pandas UDF /
    toPandas surface and (b) shuffle parallelism sized to the cluster, not
    Spark's static default of 200 (AQE coalescing papers over the partition
    count for large inputs, but 200-way shuffles of small chunk-row stages
    still pay per-task Python-worker round-trips). Only runtime-mutable
    ``spark.sql.*`` settings are touched — cluster-level sizing (executor
    memory, core counts) stays whatever the deployment chose. That includes
    the Unix-domain-socket worker transport ``session.get_spark`` selects:
    it is a static conf, so a vanilla session keeps TCP unless it was built
    with ``spark.python.unix.domain.socket.enabled=true``.
    """
    sc = spark.sparkContext
    # the flag must live on the SESSION: spark.conf is per-session SQLConf,
    # so a context-level flag would leave newSession() siblings untuned
    tuned = getattr(spark, _TUNE_FLAG, False)
    if tuned:
        return
    par = sc.defaultParallelism or 8
    for key, value in runtime_sql_conf(par):
        try:
            spark.conf.set(key, value)
        except Exception:  # noqa: BLE001 — conf may be static in some deployments
            pass
    try:
        setattr(spark, _TUNE_FLAG, True)
    except Exception:  # noqa: BLE001 — Connect sessions may refuse attrs
        pass


def _build_pyfiles_zip(pkg_dir: str, zdir: str) -> str:
    """Zip the package (plus the repo-root ``sitecustomize.py`` worker
    patch, shipped top-level so a deployment that puts this zip on
    executor PYTHONPATH gets the zipimport guard in every worker/daemon
    process — see sitecustomize.py's docstring)."""
    zpath = os.path.join(zdir, "xarray_beam_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
        site_patch = os.path.join(os.path.dirname(pkg_dir), "sitecustomize.py")
        if os.path.exists(site_patch):
            zf.write(site_patch, "sitecustomize.py")
    return zpath


def ensure_shipped(spark: SparkSession) -> None:
    tune_session(spark)
    sc = spark.sparkContext
    if getattr(sc, _FLAG, False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zdir = tempfile.mkdtemp(prefix="xbs_pyfiles_")
    # the zip must outlive this function (executors fetch it lazily) but
    # not the process: without the atexit reap every bench/verify run
    # left one ~package-sized orphan dir in /tmp forever
    import atexit
    import shutil

    atexit.register(shutil.rmtree, zdir, ignore_errors=True)
    zpath = _build_pyfiles_zip(pkg_dir, zdir)
    sc.addPyFile(zpath)
    # addPyFile covers EXECUTOR workers (python includes are fetched into
    # each worker's files dir), but Spark also spawns DRIVER-side Python
    # workers — e.g. the streaming DataSource planner
    # (python_streaming_source_runner) — which build PYTHONPATH from the
    # function's envVars instead of fetching includes. sc.environment is
    # exactly that envVars source (_prepare_for_python_RDD), so point it
    # at the zip + package parent; nonexistent entries are ignored on
    # remote hosts, where the fetched include serves the import instead.
    extra = os.pathsep.join([zpath, os.path.dirname(pkg_dir)])
    prev = sc.environment.get("PYTHONPATH")
    sc.environment["PYTHONPATH"] = f"{extra}{os.pathsep}{prev}" if prev else extra
    setattr(sc, _FLAG, True)
