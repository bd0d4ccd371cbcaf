"""The worker-startup zipimport guard (repo-root ``sitecustomize.py``).

Covers, in subprocesses (the patch is an interpreter-startup mechanism):
- activation: applied under the Spark worker env markers, NOT otherwise;
- semantics: an UNCHANGED archive's directory is not re-read, a REPLACED
  archive (new mtime/size) IS re-read — same observable behavior as the
  stock eager implementation, minus the redundant re-parses.
"""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the env vars Spark sets in worker and daemon processes: the SECRET over
# TCP, only SOCK_DIR over Unix domain sockets (session.get_spark's transport)
WORKER_MARKERS = (
    "PYTHON_WORKER_FACTORY_SECRET",
    "PYTHON_WORKER_FACTORY_SOCK_PATH",
    "PYTHON_WORKER_FACTORY_SOCK_DIR",
)


def _run(code: str, marker: str | None) -> str:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    for m in WORKER_MARKERS:
        env.pop(m, None)
    if marker:
        env[marker] = "x"
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True,
        text=True,
        env=env,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


@pytest.mark.parametrize("marker", WORKER_MARKERS)
def test_patch_applies_only_under_worker_marker(marker):
    code = """
    import zipimport
    print(getattr(zipimport.zipimporter.invalidate_caches, "_xbs_guarded", False))
    """
    assert _run(code, marker=marker) == "True"
    assert _run(code, marker=None) == "False"


def test_unchanged_archive_not_reread_but_replaced_archive_is(tmp_path):
    z = tmp_path / "mod.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("only_a.py", "VALUE = 1\n")
    code = f"""
    import os, time, zipimport
    assert getattr(zipimport.zipimporter.invalidate_caches, "_xbs_guarded", False)
    zi = zipimport.zipimporter({str(z)!r})
    zi.invalidate_caches()                  # first call: stamps the archive
    import zipfile
    reads = []
    orig_read = zipimport._read_directory
    zipimport._read_directory = lambda p: (reads.append(p), orig_read(p))[1]
    zi.invalidate_caches()                  # unchanged: must NOT re-read
    n_unchanged = len(reads)
    with zipfile.ZipFile({str(z)!r}, "w") as zf:
        zf.writestr("only_a.py", "VALUE = 2\\n")
        zf.writestr("only_b.py", "VALUE = 3\\n")
    os.utime({str(z)!r}, (time.time() + 5, time.time() + 5))
    zi.invalidate_caches()                  # replaced: MUST re-read
    n_replaced = len(reads)
    print(n_unchanged, n_replaced, "only_b" in str(sorted(zi._files)))
    """
    assert _run(code, marker="PYTHON_WORKER_FACTORY_SECRET") == "0 1 True"


def test_shipped_zip_contains_package_and_sitecustomize(tmp_path):
    from xarray_beam_spark.shipping import _build_pyfiles_zip

    pkg_dir = os.path.join(REPO, "xarray_beam_spark")
    zpath = _build_pyfiles_zip(pkg_dir, str(tmp_path))
    with zipfile.ZipFile(zpath) as zf:
        names = set(zf.namelist())
    assert "sitecustomize.py" in names
    assert "xarray_beam_spark/shipping.py" in names
    assert "xarray_beam_spark/sources/spark_datasource.py" in names
