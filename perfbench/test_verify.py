"""Self-test of the benchmark's output checks: each check passes on a
correct output and fails on an output with one corrupted value.

    python3 -m pytest perfbench -q -p no:cacheprovider

No Spark session is needed: stores are written with zarrlite directly.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import fixtures, verify  # noqa: E402
from xarray_beam_spark.sources import zarrlite  # noqa: E402


def _write(path, arrays, dims, chunks):
    zarrlite.create_group(path)
    metas = {}
    for name, values in arrays.items():
        metas[name] = zarrlite.create_array(
            path, name, values.shape, chunks, values.dtype, dims, compressor="zlib"
        )
        zarrlite.write_region(metas[name], {}, values)
    return metas


def test_rechunk_check_catches_one_flipped_value(tmp_path):
    rng = np.random.default_rng(0)
    dims, chunks = ("time", "lat", "lon"), (12, 4, 5)
    expected = {v: rng.normal(size=(12, 8, 10)).astype(np.float32) for v in ("t2m", "sp")}
    path = str(tmp_path / "out.zarr")
    metas = _write(path, expected, dims, chunks)
    assert verify.check_rechunk_store(path, expected, chunks) == []

    bad = expected["sp"].copy()
    bad[7, 5, 6] = np.nextafter(bad[7, 5, 6], np.float32(np.inf))  # one ulp
    zarrlite.write_region(metas["sp"], {"lat": 4, "lon": 5}, bad[:, 4:8, 5:10])
    problems = verify.check_rechunk_store(path, expected, chunks)
    assert problems == ["sp: 1 values differ, first at [7, 5, 6]"]


def test_rechunk_check_catches_wrong_chunking(tmp_path):
    expected = {"t2m": np.zeros((12, 8, 10), np.float32)}
    path = str(tmp_path / "out.zarr")
    _write(path, expected, ("time", "lat", "lon"), (6, 8, 10))
    assert verify.check_rechunk_store(path, expected, (12, 4, 5)) == [
        "t2m: chunks (6, 8, 10) != (12, 4, 5)"
    ]


@pytest.fixture(scope="module")
def events(tmp_path_factory):
    return fixtures.write_events(str(tmp_path_factory.mktemp("sf")), seed=3)


def test_query_check_catches_one_wrong_value(events):
    from xarray_beam_spark import registry

    sql = registry.oracle_sql()["xb_grid_mean_hour"]
    con = verify.events_oracle(events)
    got = con.execute(sql).df()
    assert verify.check_query_result(got, sql, con) == []

    value_col = [c for c in got.columns if got[c].dtype.kind == "f"][0]
    got.loc[5, value_col] += 1.0
    assert verify.check_query_result(got, sql, con) != []
    con.close()


def test_fixtures_follow_the_seed(events):
    import pyarrow.parquet as pq

    a, b = fixtures.era5_fields(7), fixtures.era5_fields(7)
    assert all(np.array_equal(a[k], b[k]) for k in fixtures.ERA5_VARS)
    assert not np.array_equal(a["t2m"], fixtures.era5_fields(8)["t2m"])
    table = pq.read_table(events)
    assert table.num_rows == fixtures.EVENT_ROWS
    assert table.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
