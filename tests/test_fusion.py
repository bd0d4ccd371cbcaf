"""Fused per-chunk stages: the narrow chunk ops (Zarr read, map_blocks,
split_chunks, split_variables) and the sinks (to_zarr's write, to_table's
explode) run as one Python node per Spark stage.

Pins the plan shape of the paper's pipeline (read → map_blocks → rechunk
→ write), the engine counters it reports, and the semantics fusion must
keep: in-place mutation inside map_blocks, error messages, and starting
from a persisted frame.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from xarray_beam_spark.dataset import Dataset
from xarray_beam_spark.ndarray_ds import NDDataset, Variable
from xarray_beam_spark.observability import KNOWN, get_counters
from xarray_beam_spark.sources import zarr_io, zarrlite

DIMS = ("time", "lat", "lon")
SHAPE = {"time": 50, "lat": 11, "lon": 12}
PANCAKE = 12  # time steps per source chunk; the last one is partial
PENCILS = {"time": -1, "lat": 5, "lon": 5}


def _fields() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(3)
    shape = tuple(SHAPE[d] for d in DIMS)
    return {
        "t2m": (250 + 50 * rng.random(shape)).astype(np.float32),
        "sp": (90000 + 10000 * rng.random(shape)).astype(np.float32),
    }


def _coords() -> dict[str, np.ndarray]:
    return {
        "time": np.arange(SHAPE["time"], dtype=np.int64),
        "lat": np.linspace(-50.0, 50.0, SHAPE["lat"]),
        "lon": np.linspace(0.0, 330.0, SHAPE["lon"]),
    }


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A pancake-chunked Zarr store of two float32 variables."""
    path = str(tmp_path_factory.mktemp("fusion") / "src.zarr")
    nd = NDDataset({k: (DIMS, v) for k, v in _fields().items()}, _coords())
    zarr_io.to_zarr(
        Dataset.from_numpy(spark, nd, chunks={"time": PANCAKE, "lat": -1, "lon": -1}), path
    )
    return path


def _unit_conversion():
    # a nested function, so executors unpickle it by value
    def to_celsius_hpa(ds: NDDataset) -> NDDataset:
        out = {}
        for name, var in ds.data_vars.items():
            values = (
                var.values - np.float32(273.15) if name == "t2m" else var.values / np.float32(100)
            )
            out[name] = Variable(var.dims, values)
        return NDDataset(out, ds.coords, ds.attrs)

    return to_celsius_hpa


_to_celsius_hpa = _unit_conversion()


def _expected() -> dict[str, np.ndarray]:
    nd = NDDataset({k: (DIMS, v) for k, v in _fields().items()}, _coords())
    return {k: v.values for k, v in _to_celsius_hpa(nd).data_vars.items()}


def _pencil_count(sizes, pencils) -> int:
    return math.prod(math.ceil(sizes[d] / c) for d, c in pencils.items() if c != -1)


def _python_nodes(spark, run) -> list[str]:
    """Physical plans of the SQL executions ``run()`` starts."""
    sql = spark._jsparkSession.sharedState().statusStore()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    n0 = sql.executionsCount()
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = sql.executionsList(n0, sql.executionsCount() - n0)
    return [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]


def _plan_tree(description: str) -> str:
    # the tree of the plan that ran: the formatted description repeats
    # each node in its per-node details, and AQE appends the initial plan
    return description.split("\n\n")[0].split("== Initial Plan ==")[0]


def _read_store(path: str) -> dict[str, np.ndarray]:
    arrays, _ = zarrlite.open_group(path)
    return {
        v: zarrlite.read_region(arrays[v], dict.fromkeys(DIMS, 0), SHAPE)
        for v in ("t2m", "sp")
    }


def test_pencil_count_of_the_benchmark_grid():
    # 730 x 73 x 72 pancakes of 24 steps to {time: -1, lat: 20, lon: 40}:
    # every pancake splits into 4 x 2 pieces, one per pencil
    sizes = {"time": 730, "lat": 73, "lon": 72}
    assert _pencil_count(sizes, {"time": -1, "lat": 20, "lon": 40}) == 8


@pytest.mark.parametrize("split_vars", [False, True])
def test_read_map_rechunk_write_is_two_python_nodes(spark, store, tmp_path, split_vars):
    """One MapInArrow (read + map_blocks + split) and one
    FlatMapGroupsInArrow (assemble + write); no MapInPandas anywhere."""
    out = str(tmp_path / "out.zarr")
    ds = zarr_io.from_zarr(spark, store, split_vars=split_vars)
    ds = ds.map_blocks(_to_celsius_hpa).rechunk(PENCILS)

    plans = _python_nodes(spark, lambda: zarr_io.to_zarr(ds, out, zarr_chunks=PENCILS))
    trees = "\n".join(_plan_tree(p) for p in plans)
    assert trees.count("MapInArrow") == 1, trees
    assert trees.count("FlatMapGroupsInArrow") == 1, trees
    assert "MapInPandas" not in trees, trees

    got = _read_store(out)
    for name, want in _expected().items():
        np.testing.assert_array_equal(got[name], want)
    arrays, _ = zarrlite.open_group(out)
    assert arrays["t2m"].chunks == (SHAPE["time"], 5, 5)


def test_pipeline_counters(spark, store, tmp_path):
    """All nine engine counters of one read → map → rechunk → write
    pipeline, each derived from the grids: every pancake splits into one
    piece per pencil, and each pencil is one consolidate group."""
    counters = get_counters(spark)
    counters.reset()
    out = str(tmp_path / "out.zarr")
    ds = zarr_io.from_zarr(spark, store).map_blocks(_to_celsius_hpa).rechunk(PENCILS)
    zarr_io.to_zarr(ds, out, zarr_chunks=PENCILS)

    pancakes = math.ceil(SHAPE["time"] / PANCAKE)
    pencils = _pencil_count(SHAPE, PENCILS)
    assert (pancakes, pencils) == (5, 9)
    data_bytes = sum(v.nbytes for v in _fields().values())
    # each pancake carries its own slice of every coordinate
    coord_bytes = sum(
        c.nbytes * (1 if d == "time" else pancakes) for d, c in _coords().items()
    )
    disk = sum(
        os.path.getsize(os.path.join(root, f))
        for v in ("t2m", "sp")
        for root, _, files in os.walk(os.path.join(out, v))
        for f in files
        if not f.startswith(".")
    )
    assert counters.snapshot() == {
        "read.chunks": pancakes,
        "read.bytes": data_bytes + coord_bytes,
        "map_blocks.inputs": pancakes,
        "map_blocks.input_bytes": data_bytes + coord_bytes,
        "map_blocks.output_bytes": data_bytes + coord_bytes,
        "split.pieces": pancakes * pencils,
        "consolidate.groups": pencils,
        "write.chunks": 2 * pencils,
        "write.bytes": disk,
    }
    assert set(counters.snapshot()) == set(KNOWN)


def test_map_blocks_may_mutate_its_input_in_place(spark, store):
    """The func gets a private writable chunk: mutating data and
    coordinates in place changes only that chunk's result, never the
    read's shared coordinates or a later chunk."""

    def mutate(ds: NDDataset) -> NDDataset:
        ds.data_vars["t2m"].values[...] *= 2
        ds.coords["lat"].values[...] += 1000.0
        return ds

    got = zarr_io.from_zarr(spark, store).map_blocks(mutate).rechunk(PENCILS).collect()
    fields, coords = _fields(), _coords()
    np.testing.assert_array_equal(got.data_vars["t2m"].values, fields["t2m"] * 2)
    np.testing.assert_array_equal(got.data_vars["sp"].values, fields["sp"])
    np.testing.assert_array_equal(got.coords["lat"].values, coords["lat"] + 1000.0)
    np.testing.assert_array_equal(got.coords["time"].values, coords["time"])


def test_error_in_fused_stage_keeps_its_message(spark, store, tmp_path):
    def boom(ds: NDDataset) -> NDDataset:
        if ds.data_vars["t2m"].values.any():  # the driver's dummy is all zeros
            raise ValueError("chunk rejected by user func 7f3a")
        return ds

    ds = zarr_io.from_zarr(spark, store).map_blocks(boom).rechunk(PENCILS)
    with pytest.raises(Exception, match="chunk rejected by user func 7f3a"):
        zarr_io.to_zarr(ds, str(tmp_path / "out.zarr"), zarr_chunks=PENCILS)


def test_map_blocks_starts_from_a_persisted_frame(spark, store):
    counters = get_counters(spark)
    src = zarr_io.from_zarr(spark, store)
    src.df.persist()
    try:
        n = src.df.count()
        counters.reset()
        mapped = src.map_blocks(_to_celsius_hpa)
        plan = mapped.df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert mapped.df.count() == n
        snap = counters.snapshot()
        assert snap.get("read.chunks", 0) == 0  # the cached rows, no re-read
        assert snap["map_blocks.inputs"] == n
    finally:
        src.df.unpersist()


def test_df_is_memoized(spark, store):
    ds = zarr_io.from_zarr(spark, store).map_blocks(_to_celsius_hpa)
    assert ds.df is ds.df


def test_to_table_folds_into_the_group_node(spark, store):
    # map_blocks first: rechunk on a pristine scan re-reads the store instead
    ds = zarr_io.from_zarr(spark, store).map_blocks(_to_celsius_hpa).rechunk(PENCILS)
    table = ds.map_blocks(_to_celsius_hpa).to_table()
    plan = table._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and plan.count("FlatMapGroupsInArrow") == 1, plan
    assert table.count() == math.prod(SHAPE.values())


@pytest.mark.parametrize("rechunk", [False, True])
def test_write_stats_add_no_job_above_the_write(spark, store, tmp_path, rechunk):
    """to_zarr sums its per-task stats rows on the driver: the write runs as
    one SQL execution, with no aggregate or exchange above its Python node."""
    ds = zarr_io.from_zarr(spark, store).map_blocks(_to_celsius_hpa)
    node, kw = "MapInArrow", {}
    if rechunk:
        ds, node, kw = ds.rechunk(PENCILS), "FlatMapGroupsInArrow", {"zarr_chunks": PENCILS}
    out = str(tmp_path / "out.zarr")
    stats = {}
    plans = _python_nodes(spark, lambda: stats.update(zarr_io.to_zarr(ds, out, **kw)))
    assert len(plans) == 1, plans
    tree = _plan_tree(plans[0])
    above = tree[: tree.index(node)]
    assert "Aggregate" not in above and "Exchange" not in above, tree
    pencils = _pencil_count(SHAPE, PENCILS) if rechunk else math.ceil(SHAPE["time"] / PANCAKE)
    assert stats["chunks_written"] == 2 * pencils
