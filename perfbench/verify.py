"""Output checks for every benchmark operation.

Each check returns a list of problems; an empty list means the output is
correct. Checks read outputs with the library's own store reader but
compute expected values independently with NumPy (or DuckDB for the
query family).
"""

from __future__ import annotations

import numpy as np


def check_rechunk_store(
    path: str, expected: dict[str, np.ndarray], chunks: tuple[int, ...]
) -> list[str]:
    """The written store equals ``expected`` exactly, in ``chunks``."""
    from xarray_beam_spark.sources import zarrlite

    arrays, _ = zarrlite.open_group(path)
    problems = []
    for name, want in expected.items():
        meta = arrays.get(name)
        if meta is None:
            problems.append(f"{name}: missing from {path}")
            continue
        if tuple(meta.logical_chunks) != chunks:
            problems.append(f"{name}: chunks {meta.logical_chunks} != {chunks}")
        got = zarrlite.read_full(meta)
        if got.dtype != want.dtype or got.shape != want.shape:
            problems.append(f"{name}: {got.dtype}{got.shape} != {want.dtype}{want.shape}")
        elif not np.array_equal(got, want):
            bad = np.argwhere(got != want)
            problems.append(f"{name}: {len(bad)} values differ, first at {bad[0].tolist()}")
    return problems


class _Collected:
    """A collected result in the shape ``oracle.compare`` consumes."""

    def __init__(self, frame):
        self._frame = frame

    def toPandas(self):
        return self._frame


def events_oracle(events_path: str):
    """DuckDB connection with the ``events`` view the xb oracles query."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
    return con


def check_query_result(got, oracle_sql: str, con) -> list[str]:
    """Compare a collected pandas result with the DuckDB oracle, using the
    library's oracle comparison (order-insensitive, exact floats)."""
    from xarray_beam_spark import oracle

    return oracle.compare(_Collected(got), con.execute(oracle_sql).df())
