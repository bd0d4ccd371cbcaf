"""SparkSession factory tuned for chunked-array workloads.

Local testing runs ``local[N]``; the configuration is chosen so the same
logical plans scale to a multi-executor cluster: AQE on (runtime partition
coalescing + skew-join splitting), Arrow enabled for the pandas UDF surface,
and shuffle partition counts sized for the test scale factor while AQE
re-plans for larger inputs.

The JVM↔Python worker channel runs over Unix domain sockets
(``spark.python.unix.domain.socket.enabled``). Over loopback TCP every
Python task stalled ~40 ms before its first Arrow batch: Spark's worker
factory and runner never set TCP_NODELAY, so Nagle's algorithm holds the
Arrow schema segment until the worker ACKs the task header, and the
worker, having nothing to send, delays that ACK by Linux's 40 ms minimum.
A trivial 2-row ``mapInArrow`` task took 55 ms over TCP and 13 ms over
AF_UNIX. The socket files live in one private ``/tmp/xbs-uds-*`` directory
per driver process, removed at interpreter exit: Spark's default is
``java.io.tmpdir``, and under a deep TMPDIR or checkout path
``<dir>/.<uuid>.sock`` overflows ``sun_path``'s 107 bytes. The conf is
static, so ``shipping.tune_session`` cannot set it on a session built
elsewhere; such callers pass
``--conf spark.python.unix.domain.socket.enabled=true`` themselves.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


@functools.cache
def _socket_dir() -> str:
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="xbs-uds-", dir="/tmp")
    # rmtree, not rmdir: a killed worker daemon leaves its .sock behind
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(app_name: str = "xarray-beam-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or min(os.cpu_count() or 4, 32)
    from xarray_beam_spark.shipping import runtime_sql_conf

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Chunk payloads are 10-100MB binary cells; keep Arrow batches small
        # in chunk-row stages (the engine also repartitions by bytes).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # local[N] runs the whole engine in the driver JVM: shuffle buffers
        # for chunk payloads + N concurrent Arrow streams need real heap,
        # or GC thrash dominates wide stages.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
    )
    # shared runtime-SQL table (see shipping.runtime_sql_conf): applied at
    # build time here, and by tune_session on vanilla/driver sessions
    for key, value in runtime_sql_conf(cpus):
        builder = builder.config(key, value)
    return builder.getOrCreate()
