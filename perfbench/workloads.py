"""The benchmark's two workloads.

Each workload makes its inputs from the seed, runs one operation at a
time (closed loop, one client), verifies every operation's output, and in
traced runs measures its layers. Spans wrap calls into the library's
public functions only; nothing inside ``xarray_beam_spark`` is traced.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import fixtures, verify
from perfbench.spans import NullTracer

NULL = NullTracer()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def store_bytes(path: str) -> tuple[int, int]:
    """(bytes on disk, logical bytes of every array) of a Zarr store."""
    from xarray_beam_spark.sources import zarrlite

    disk = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
    arrays, _ = zarrlite.open_group(path)
    return disk, sum(meta.nbytes for meta in arrays.values())


def to_celsius_hpa(ds):
    """Unit conversion applied per chunk: K -> degC and Pa -> hPa, in
    float32 so the expected values are exact."""
    from xarray_beam_spark.ndarray_ds import NDDataset, Variable

    out = {}
    for name, var in ds.data_vars.items():
        values = var.values - np.float32(273.15) if name == "t2m" else var.values / np.float32(100)
        out[name] = Variable(var.dims, values)
    return NDDataset(out, ds.coords, ds.attrs)


class Workload:
    name = ""
    source_bytes = 0
    pass_len = 1  # operations per pass; runs measure whole passes
    # the first operation starts Python workers; on a 4-core host the next
    # few still got up to 25% faster, which the median of a run's
    # operations absorbs
    warmup_ops = 3

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self._n = 0

    def _out_path(self) -> str:
        # every operation writes a fresh store, so no timed operation
        # deletes files
        self._n += 1
        return os.path.join(self.work, f"out-{self._n}")

    def make_inputs(self, seed: int) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Compute the verifiers' expected values (not set-up time)."""

    def op(self, tr=NULL):
        """Run one operation; returns what ``verify`` checks."""
        raise NotImplementedError

    def verify(self, out) -> list[str]:
        raise NotImplementedError

    def discard(self, out) -> None:
        """Drop an operation's output once it is checked, untimed: a run
        then keeps one output on disk, and most of its bytes are deleted
        before they are written back."""

    def warmup(self) -> tuple[list[str], float]:
        """``warmup_ops`` operations that let caches fill and lazy set-up
        finish. Returns the verification problems of their outputs and the
        seconds spent verifying, which are not set-up time."""
        problems: list[str] = []
        check_s = 0.0
        for _ in range(self.warmup_ops):
            out = self.op()
            t0 = time.perf_counter()
            problems += self.verify(out)
            self.discard(out)
            check_s += time.perf_counter() - t0
        return problems, check_s

    def output_metrics(self, out) -> dict[str, float]:
        """Per-layer metrics read from one operation's output."""
        return {}

    def layer_probe(self, tr) -> dict[str, float]:
        """Per-layer timings of a traced run (one sweep)."""
        return {}

    def kernel_chunk(self):
        raise NotImplementedError


class Era5Rechunk(Workload):
    """Zarr pancakes -> map_blocks unit conversion -> rechunk to pencils ->
    Zarr (the paper's own workload). Its traced runs also probe the
    aggregation layer with a month x hour mean of the same store
    (reference ``era5_climatology.py``) run to the noop sink."""

    name = "era5_rechunk"

    def make_inputs(self, seed: int) -> None:
        self.src = os.path.join(self.work, "era5.zarr")
        self.fields = fixtures.write_era5_store(self.src, seed)
        self.source_bytes = sum(v.nbytes for v in self.fields.values())
        time_ = fixtures.era5_coords()["time"]
        self.keys = {
            "month": time_.astype("datetime64[M]").astype(np.int64) % 12 + 1,
            "hour": time_.astype("datetime64[h]").astype(np.int64) % 24,
        }

    def prepare_checks(self) -> None:
        from xarray_beam_spark.ndarray_ds import NDDataset

        dims = ("time", "lat", "lon")
        converted = to_celsius_hpa(NDDataset({k: (dims, v) for k, v in self.fields.items()}))
        self.expected = {k: v.values for k, v in converted.data_vars.items()}
        sizes = fixtures.ERA5_SHAPE
        self.out_chunks = tuple(
            sizes[d] if c == -1 else c for d, c in fixtures.ERA5_PENCILS.items()
        )

    def kernel_chunk(self):
        from xarray_beam_spark.ndarray_ds import NDDataset

        t = fixtures.ERA5_TIME_CHUNK
        dims = ("time", "lat", "lon")
        coords = fixtures.era5_coords()
        coords["time"] = coords["time"][:t]
        return NDDataset({k: (dims, v[:t]) for k, v in self.fields.items()}, coords)

    def output_metrics(self, out) -> dict[str, float]:
        disk, logical = store_bytes(out)
        return {"zarr_io.disk_bytes_per_user_byte": disk / logical}

    def _pipeline(self, tr, upto: str = "write"):
        from xarray_beam_spark.sources import zarr_io

        with tr.span("zarr_io.from_zarr"):
            ds = zarr_io.from_zarr(self.spark, self.src)
        if upto == "read":
            return ds
        with tr.span("dataset.map_blocks"):
            ds = ds.map_blocks(to_celsius_hpa)
        if upto == "map":
            return ds
        with tr.span("dataset.rechunk"):
            return ds.rechunk(fixtures.ERA5_PENCILS)

    def _climatology(self, tr):
        ds = self._pipeline(tr, "read")
        with tr.span("dataset.groupby_reduce"):
            return ds.groupby_reduce("time", self.keys, op="mean")

    def op(self, tr=NULL):
        from xarray_beam_spark.sources import zarr_io

        ds = self._pipeline(tr)
        out = self._out_path()
        with tr.span("zarr_io.to_zarr"):
            zarr_io.to_zarr(ds, out, zarr_chunks=fixtures.ERA5_PENCILS, compressor="zlib")
        return out

    def verify(self, out) -> list[str]:
        return verify.check_rechunk_store(out, self.expected, self.out_chunks)

    def discard(self, out) -> None:
        if out is not None:  # None: the operation raised
            shutil.rmtree(out, ignore_errors=True)

    def _timed_noop(self, tr, name: str, build) -> tuple[float, dict]:
        """Materialize a pipeline prefix to the noop sink inside a span;
        returns its wall time and Spark metrics."""
        with tr.span(name) as span:
            _noop(build().df)
        tr.attribute([span])
        return span.seconds, span.spark

    def layer_probe(self, tr) -> dict[str, float]:
        from xarray_beam_spark import core
        from xarray_beam_spark.plans import rechunk_plan
        from xarray_beam_spark.sources import zarr_io

        t_read, _ = self._timed_noop(tr, "probe.read", lambda: self._pipeline(tr, "read"))
        t_map, m_map = self._timed_noop(tr, "probe.read_map", lambda: self._pipeline(tr, "map"))
        t_rechunk, m_rechunk = self._timed_noop(
            tr, "probe.read_map_rechunk", lambda: self._pipeline(tr, "rechunk")
        )
        n_spans = len(tr.spans)
        t_agg, m_agg = self._timed_noop(tr, "probe.read_groupby", lambda: self._climatology(tr))
        agg_construct_s = next(
            s.seconds for s in tr.spans[n_spans:] if s.name == "dataset.groupby_reduce"
        )
        mapped = self._pipeline(NULL, "map")
        itemsize = mapped.template.itemsize(mapped.split_vars)
        target = core.normalize_chunks(fixtures.ERA5_PENCILS, mapped.sizes, itemsize=itemsize)
        t0 = time.perf_counter()
        stages = rechunk_plan.plan_stages(
            mapped.sizes, mapped.chunks, target, itemsize, rechunk_plan.DEFAULT_MAX_MEM, None
        )
        t_plan = time.perf_counter() - t0
        with tr.span("zarr_io.setup_zarr") as setup_span:
            zarr_io.setup_zarr(mapped.template, self._out_path(), fixtures.ERA5_PENCILS)
        shuffled = m_rechunk["spark.shuffle_write_bytes"] - m_map["spark.shuffle_write_bytes"]
        return {
            "zarr_io.read_s": t_read,
            "dataset.map_blocks.extra_s": t_map - t_read,
            "dataset.rechunk.extra_s": t_rechunk - t_map,
            "write_prefix_s": t_rechunk,
            "rechunk_plan.plan_stages_s": t_plan,
            "rechunk_plan.stages": len(stages) - 1,
            "dataset.rechunk.shuffle_bytes_per_source_byte": shuffled / self.source_bytes,
            "zarr_io.setup_zarr_s": setup_span.seconds,
            "dataset.groupby_reduce.construct_s": agg_construct_s,
            "dataset.groupby_reduce.extra_s": t_agg - t_read,
            "dataset.groupby_reduce.shuffle_bytes_per_source_byte": (
                m_agg["spark.shuffle_write_bytes"] / self.source_bytes
            ),
        }


# The query family is 59 ``xb_`` queries; one warm pass over all of them
# takes ~18 s on a 4-core host and the first pass ~52 s, more than a run's
# budget. These 12 cover each operator kind of the family once: rechunk,
# reductions, median, histogram, groupby, resample, rolling, interp,
# regrid, map_blocks, a Zarr round trip and transpose.
XB_QUERIES = (
    "xb_grid_roundtrip",
    "xb_grid_std_day",
    "xb_grid_median_hour",
    "xb_grid_histogram_day",
    "xb_grid_climatology_month_dow",
    "xb_grid_resample_week",
    "xb_grid_rolling7_mean",
    "xb_grid_interp_day",
    "xb_grid_regrid",
    "xb_map_blocks_affine",
    "xb_zarr_roundtrip",
    "xb_grid_transpose",
)


class XbQueries(Workload):
    """One registry query per operation, materialized through the noop
    sink, cycling through ``XB_QUERIES`` in whole passes."""

    name = "xb_queries"
    pass_len = len(XB_QUERIES)

    def make_inputs(self, seed: int) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        self.events = fixtures.write_events(self.sf_dir, seed)
        self.source_bytes = os.path.getsize(self.events)

    def prepare_checks(self) -> None:
        from xarray_beam_spark import registry

        self.queries = {n: f for n, f in registry.queries().items() if n in XB_QUERIES}
        oracle_sql = registry.oracle_sql()
        self.oracle_sql = {n: oracle_sql[n] for n in XB_QUERIES}
        self.problems: dict[str, list[str]] = {}
        self._cursor = 0

    def _next(self) -> str:
        from xarray_beam_spark import grid_queries

        if self._cursor % len(XB_QUERIES) == 0:
            # like bench.py between passes: stores whose write is the work
            # under test are rebuilt, pure-input fixtures stay warm
            grid_queries.reset_ephemeral_caches()
        name = XB_QUERIES[self._cursor % len(XB_QUERIES)]
        self._cursor += 1
        return name

    def op(self, tr=NULL):
        name = self._next()
        with tr.span("registry.construct", query=name):
            df = self.queries[name](self.spark, self.sf_dir)
        with tr.span("registry.exec", query=name):
            _noop(df)
        return name

    def verify(self, out) -> list[str]:
        return self.problems[out]

    def warmup(self) -> tuple[list[str], float]:
        """One pass that collects every query's result and checks it
        against the DuckDB oracle once per run; measured operations of a
        query that failed its check count as failed."""
        con = verify.events_oracle(self.events)
        problems: list[str] = []
        check_s = 0.0
        for _ in XB_QUERIES:
            name = self._next()
            got = self.queries[name](self.spark, self.sf_dir).toPandas()
            t0 = time.perf_counter()
            self.problems[name] = [
                f"{name}: {p}"
                for p in verify.check_query_result(got, self.oracle_sql[name], con)
            ]
            check_s += time.perf_counter() - t0
            problems += self.problems[name]
        con.close()
        return problems, check_s

    def kernel_chunk(self):
        from xarray_beam_spark.ndarray_ds import NDDataset

        days = np.datetime64("2024-01-01", "us") + np.arange(7) * np.timedelta64(1, "D")
        shape = (7, 24, len(fixtures.EVENT_TYPES))
        counts = np.random.default_rng(0).poisson(28.0, shape).astype(np.float64)
        return NDDataset(
            {"cnt": (("day", "hour", "event_type"), counts)},
            {
                "day": days,
                "hour": np.arange(24, dtype=np.int64),
                "event_type": np.array(fixtures.EVENT_TYPES),
            },
        )


WORKLOADS = {w.name: w for w in (Era5Rechunk, XbQueries)}
