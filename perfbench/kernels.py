"""Single-threaded, in-process speed of the chunk codec and the Zarr region
kernels, on a chunk shaped like the workload's. Separates codec and store
speed from Spark scheduling.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

_MIN_S = 0.1  # repeat each kernel at least this long


def _rate(fn, nbytes: int) -> float:
    """MB/s of ``fn`` over ``nbytes`` per call: calls repeat until
    ``_MIN_S`` has passed; the best of three such batches is taken."""
    best = float("inf")
    for _ in range(3):
        calls, t0 = 0, time.perf_counter()
        while True:
            fn()
            calls += 1
            elapsed = time.perf_counter() - t0
            if elapsed >= _MIN_S:
                break
        best = min(best, elapsed / calls)
    return nbytes / best / 1e6


def measure(chunk, work: str) -> dict[str, float]:
    """``chunk`` is an NDDataset; returns per-layer kernel metrics."""
    from xarray_beam_spark import codec
    from xarray_beam_spark.sources import zarrlite

    payload = codec.encode_chunk(chunk)
    chunk_bytes = chunk.nbytes
    out = {
        # computed bytes one encode reads plus writes
        "codec.bytes_moved": chunk_bytes + len(payload),
        "codec.encode_mb_s": _rate(lambda: codec.encode_chunk(chunk), chunk_bytes),
        "codec.decode_mb_s": _rate(lambda: codec.decode_chunk(payload), chunk_bytes),
    }
    path = os.path.join(work, "kernel.zarr")
    zarrlite.create_group(path)
    metas = []
    for name, var in chunk.data_vars.items():
        values = np.ascontiguousarray(var.values)
        meta = zarrlite.create_array(
            path, name, values.shape, values.shape, values.dtype, var.dims,
            compressor="zlib",
        )
        metas.append((meta, values))
    region_bytes = sum(v.nbytes for _, v in metas)

    def write():
        return sum(zarrlite.write_region(meta, {}, values) for meta, values in metas)

    def read():
        for meta, values in metas:
            zarrlite.read_region(meta, {}, {})

    # computed bytes one region write reads (raw) plus writes (compressed)
    out["zarrlite.bytes_moved"] = region_bytes + write()
    out["zarrlite.write_region_mb_s"] = _rate(write, region_bytes)
    out["zarrlite.read_region_mb_s"] = _rate(read, region_bytes)
    shutil.rmtree(path, ignore_errors=True)
    return out
