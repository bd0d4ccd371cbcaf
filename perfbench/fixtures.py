"""Seeded inputs for the benchmark workloads.

Both generators are pure functions of the seed: the same seed writes the
same bytes. Neither touches Spark, so their cost is set-up time only.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np

# ERA5-surface-like store (FIXTURES.md F1 layout): two float32 variables
# on (time, lat, lon), 6-hourly from 2020-01-01, zlib, 24-step time
# "pancakes". The grid is 2.5 x 5 degrees (73 x 72) rather than ERA5's
# 0.25: the whole store (31 MB of float32) keeps one operation near a
# second or two, so a short run still holds several, while moving bytes
# still takes most of an operation's time.
ERA5_SHAPE = {"time": 730, "lat": 73, "lon": 72}
ERA5_VARS = ("t2m", "sp")
ERA5_TIME_CHUNK = 24
ERA5_PENCILS = {"time": -1, "lat": 20, "lon": 40}

# events table shaped like the committed sf0.1 table (schema, row count,
# 30 days of a Poisson arrival process, 5 event types, 1500 users).
EVENT_ROWS = 100_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_DAYS = 30


def era5_coords() -> dict[str, np.ndarray]:
    nt, ny, nx = (ERA5_SHAPE[d] for d in ("time", "lat", "lon"))
    return {
        "time": np.datetime64("2020-01-01T00", "us")
        + np.arange(nt) * np.timedelta64(6, "h"),
        "lat": np.linspace(90.0, -90.0, ny),
        "lon": np.linspace(0.0, 360.0, nx, endpoint=False),
    }


def era5_fields(seed: int) -> dict[str, np.ndarray]:
    """Smooth seasonal/diurnal fields plus small noise, quantized the way
    packed reanalysis values are, so zlib sees realistic redundancy."""
    rng = np.random.default_rng(seed)
    c = era5_coords()
    hours = (c["time"] - c["time"][0]) / np.timedelta64(1, "h")
    doy = 2 * np.pi * hours / (365.25 * 24)
    tod = 2 * np.pi * hours / 24
    lat = np.deg2rad(c["lat"])[None, :, None]
    lon = np.deg2rad(c["lon"])[None, None, :]
    season = np.cos(doy + rng.uniform(0, 0.3))[:, None, None]
    diurnal = np.cos(tod[:, None, None] - lon)
    shape = tuple(ERA5_SHAPE[d] for d in ("time", "lat", "lon"))
    t2m = (
        288.0
        - 40.0 * np.sin(lat) ** 2
        - 12.0 * season * np.sin(lat)
        + 4.0 * diurnal * np.cos(lat)
        + 3.0 * np.sin(3 * lon + rng.uniform(0, 2 * np.pi)) * np.cos(lat)
    )
    t2m = t2m + rng.normal(0.0, 0.5, size=shape)
    sp = (
        101325.0
        - 1500.0 * np.cos(2 * lat)
        + 800.0 * np.sin(2 * lon + doy[:, None, None])
        + rng.normal(0.0, 40.0, size=shape)
    )
    return {
        "t2m": (np.round(t2m * 64) / 64).astype(np.float32),
        "sp": np.round(sp).astype(np.float32),
    }


def write_era5_store(path: str, seed: int) -> dict[str, np.ndarray]:
    """Write the ERA5-like store with direct zarrlite calls and return its
    data variables (the verifiers' reference copy)."""
    from xarray_beam_spark.sources import zarrlite

    fields = era5_fields(seed)
    dims = ("time", "lat", "lon")
    zarrlite.create_group(path, {"title": "era5-surface-like"})
    for name, values in era5_coords().items():
        meta = zarrlite.create_array(
            path, name, values.shape, values.shape, values.dtype, (name,),
            compressor="zlib",
        )
        zarrlite.write_full(meta, values)
    jobs = []
    for name in ERA5_VARS:
        values = fields[name]
        chunks = (ERA5_TIME_CHUNK,) + values.shape[1:]
        meta = zarrlite.create_array(
            path, name, values.shape, chunks, np.float32, dims, compressor="zlib"
        )
        for off in range(0, values.shape[0], ERA5_TIME_CHUNK):
            jobs.append((meta, off, values[off : off + ERA5_TIME_CHUNK]))
    zarrlite.consolidate_metadata(path)
    # zlib releases the GIL: four threads cut store generation ~3x
    with ThreadPoolExecutor(4) as ex:
        list(ex.map(lambda j: zarrlite.write_region(j[0], {"time": j[1]}, j[2]), jobs))
    return fields


def write_events(sf_dir: str, seed: int) -> str:
    """Write ``events.parquet`` with the committed table's schema and
    distributions; returns its path."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    span_us = EVENT_DAYS * 86_400_000_000
    gaps = rng.exponential(1.0, EVENT_ROWS)
    offs = np.cumsum(gaps) / gaps.sum() * (span_us - 1)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("int64").astype(
        "timedelta64[us]"
    )
    table = pa.table(
        {
            "event_id": np.arange(EVENT_ROWS, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, EVENT_ROWS, dtype=np.int64),
            "event_type": pd.Categorical.from_codes(
                rng.integers(0, len(EVENT_TYPES), EVENT_ROWS), EVENT_TYPES
            ).astype(str),
            "value": np.round(rng.exponential(50.0, EVENT_ROWS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENT_ROWS)],
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path)
    return path
