"""get_spark's worker transport: Unix domain sockets in a short private
directory that is removed at interpreter exit."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _conf(spark, key: str) -> str | None:
    return spark.sparkContext.getConf().get(key)


def test_session_runs_workers_over_unix_domain_sockets(spark):
    from xarray_beam_spark.shipping import ensure_shipped

    assert _conf(spark, "spark.python.unix.domain.socket.enabled") == "true"
    assert os.path.basename(_conf(spark, "spark.python.unix.domain.socket.dir")).startswith(
        "xbs-uds-"
    )
    ensure_shipped(spark)

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            guarded = getattr(zipimport.zipimporter.invalidate_caches, "_xbs_guarded", False)
            yield pa.RecordBatch.from_pydict(
                {
                    "sock_dir": ["PYTHON_WORKER_FACTORY_SOCK_DIR" in os.environ],
                    "secret": ["PYTHON_WORKER_FACTORY_SECRET" in os.environ],
                    "guarded": [guarded],
                }
            )

    rows = (
        spark.range(1)
        .mapInArrow(probe, "sock_dir boolean, secret boolean, guarded boolean")
        .collect()
    )
    # the worker knows only the socket directory, and the zipimport guard
    # (sitecustomize.py) still recognizes it as a Spark worker
    assert [tuple(r) for r in rows] == [(True, False, True)]


def test_long_tmpdir_session_works_and_leaves_no_socket_dir(tmp_path):
    long_tmp = tmp_path / ("t" * 120)
    long_tmp.mkdir()
    assert len(str(long_tmp)) > 110
    env = dict(os.environ)
    env["TMPDIR"] = str(long_tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={long_tmp}"
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from xarray_beam_spark.session import get_spark

        spark = get_spark("xbs-uds-long-tmpdir", cpus=1)
        acc = spark.sparkContext.accumulator(0)

        def count_rows(batches):
            for b in batches:
                acc.add(b.num_rows)
                yield b

        df = spark.range(2)
        assert df.mapInArrow(count_rows, df.schema).count() == 2
        assert acc.value == 2, acc.value
        print(spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir"))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env, timeout=300
    )
    assert out.returncode == 0, out.stderr[-4000:]
    sock_dir = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(sock_dir).startswith("xbs-uds-")
    assert not os.path.exists(sock_dir)
