"""Distributed Zarr read/write for the chunked-array engine.

Spark-first re-expression of the reference's Zarr pipeline stages
(``xarray_beam/_src/zarr.py``: ``DatasetToChunks`` for reads,
``setup_zarr``/``validate_zarr_chunk``/``write_chunk_to_zarr``/
``ChunksToZarr`` for writes):

- **read**: driver opens only metadata (one JSON per array) and builds the
  Template; chunk enumeration is ``spark.range(chunk_count)`` so no key
  list ever materializes on the driver (scales past the reference's 200k
  sharding threshold by construction); executors re-open the store by path
  and read their region — predicate pushdown on offsets happens naturally
  because ``spark.range`` is lazily filtered by Catalyst.
- **write**: driver writes the store skeleton + coordinate arrays eagerly
  (no barrier needed — Spark actions are synchronous, reference needed a
  side-input barrier ``zarr.py:810-821``); executors region-write their
  chunks after the alignment validation that makes retried/speculative
  task writes idempotent (full-chunk-aligned only, ``zarr.py:516-587``).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Iterator, Mapping, Sequence

import numpy as np

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_beam_spark import core
from xarray_beam_spark.dataset import Chain, Chunk, Dataset, Template
from xarray_beam_spark.ndarray_ds import NDDataset, Variable
from xarray_beam_spark.sources import stores, zarrlite


def _is_index_coord(meta: zarrlite.ZArray) -> bool:
    dims = meta.logical_dims
    return len(dims) == 1 and dims[0] == meta.name


# -- CF conventions (scale_factor / add_offset / _FillValue) ----------------
#
# The reference opens stores through xarray, which applies CF decoding by
# default (``mask_and_scale``): packed integer arrays with scale/offset
# attributes decode to floats, fill values decode to NaN. Climate stores
# use this pervasively (ERA5-style int16 packing), so parity requires the
# same convention here. Encoding (packing on write) is exposed through
# ``to_zarr(encoding={var: {"dtype", "scale_factor", "add_offset",
# "fill_value"}})`` — the reference's ``ChunksToZarr(encoding=...)``
# dtype-encoding surface.


def _cf_spec(meta: zarrlite.ZArray):
    """(scale, add_offset, fill, decoded_dtype_str) when the array carries
    CF packing attributes, else None. Integer-packed arrays decode to
    float64 (exact for any int32-or-smaller packing, deterministic across
    engines); float-stored arrays (e.g. only a ``_FillValue`` mask) keep
    their own float width, matching xarray."""
    a = meta.attrs
    if "scale_factor" not in a and "add_offset" not in a and "_FillValue" not in a:
        return None
    stored = meta.logical_dtype
    if stored.kind not in "iuf":
        # CF packing is numeric-only: a datetime64/string array carrying
        # a _FillValue attr (common in netCDF-converted stores) must NOT
        # detour through astype(float64) — that corrupts datetimes and
        # crashes on strings
        return None
    decoded = stored.str if stored.kind == "f" else "<f8"
    return (
        float(a.get("scale_factor", 1.0)),
        float(a.get("add_offset", 0.0)),
        a.get("_FillValue"),
        decoded,
    )


def cf_decoded_dtype(meta: zarrlite.ZArray) -> str:
    spec = _cf_spec(meta)
    return spec[3] if spec is not None else meta.logical_dtype.str


def read_region_decoded(
    meta: zarrlite.ZArray, offsets: Mapping[str, int], shape: Mapping[str, int]
) -> np.ndarray:
    """``zarrlite.read_region`` + CF decode (raw*scale + offset, fill →
    NaN) — the read every variable path goes through."""
    raw = zarrlite.read_region(meta, offsets, shape)
    spec = _cf_spec(meta)
    if spec is None:
        return raw
    scale, add, fill, decoded = spec
    out = raw.astype(np.dtype(decoded))
    if scale != 1.0 or add != 0.0:
        out = out * scale + add
    if fill is not None:
        out[raw == fill] = np.nan
    return out


def cf_encode(meta: zarrlite.ZArray, values: np.ndarray) -> np.ndarray:
    """Inverse of the CF decode for writes: (x - offset)/scale — ROUNDED
    only when the stored dtype is integer (a float-stored array with just
    a ``_FillValue`` mask must not be quantized) — NaN → _FillValue
    (required when NaNs are present). Non-NaN values that would land ON
    the fill code are rejected: they would silently read back as NaN."""
    spec = _cf_spec(meta)
    if spec is None:
        return values
    scale, add, fill, _ = spec
    vals = np.asarray(values, dtype=np.float64)
    nan_mask = np.isnan(vals)
    if nan_mask.any() and fill is None:
        raise ValueError(
            f"{meta.name}: NaN values but no _FillValue in the CF encoding"
        )
    packed = (np.where(nan_mask, 0.0, vals) - add) / scale
    dt = meta.logical_dtype
    if dt.kind in "iu":
        packed = np.rint(packed)
        info = np.iinfo(dt)
        bad = (packed < info.min) | (packed > info.max)
        if (bad & ~nan_mask).any():
            raise ValueError(
                f"{meta.name}: values overflow the packed dtype {dt} under "
                f"scale_factor={scale}, add_offset={add}"
            )
    out = packed.astype(dt)
    if fill is not None:
        collide = (out == np.asarray(fill, dtype=dt)) & ~nan_mask
        if collide.any():
            v = vals[collide].flat[0]
            raise ValueError(
                f"{meta.name}: value {v!r} packs exactly to the _FillValue "
                f"({fill}) and would silently read back as NaN; choose a "
                "fill code outside the data range"
            )
        out[nan_mask] = fill
    return out


def _shard_extent(requested: int, chunk: int, size: int) -> int:
    """Shard extent along one dim: ``-1`` means the whole dim in one
    shard; oversize requests clamp to the whole dim — both rounded UP to
    a chunk multiple so the v3 shards-divisible-by-chunks rule holds even
    when chunks don't divide the dim size (the final shard is partial,
    like a final partial chunk)."""
    full = -(-size // chunk) * chunk
    if requested == -1:
        return full
    return min(int(requested), full)


def open_zarr_template(path: str) -> tuple[Template, dict[str, int]]:
    """Open a Zarr group as (Template, zarr chunk dict) — metadata +
    coordinate arrays only, no data chunks (reference ``open_zarr`` +
    ``_infer_chunks``, ``zarr.py:48-96``)."""
    template, chunks, _ = open_zarr_meta(path)
    return template, chunks


def open_zarr_meta(
    path: str,
    *,
    allow_inconsistent_chunks: bool = False,
) -> tuple[Template, dict[str, int], dict[str, zarrlite.ZArray]]:
    """Like :func:`open_zarr_template` but also returns the parsed
    per-array metadata, so jobs can SHIP it to executors (broadcast /
    closure) instead of every task re-opening the group — one metadata
    fetch per JOB, not per task. On an object store that is the
    difference the reference's ``stage_locally`` (``zarr.py:374-386``)
    exists to make; here the metadata is KB-sized and immutable by the
    setup-once convention, so shipping the parsed form is strictly
    better than staging files."""
    arrays, group_attrs = zarrlite.open_group(path)
    sizes: dict[str, int] = {}
    var_meta: dict[str, tuple[tuple[str, ...], str]] = {}
    coords: dict[str, Variable] = {}
    chunks: dict[str, int] = {}
    seen_chunks: dict[str, set[int]] = {}
    for name, meta in arrays.items():
        for d, s in zip(meta.logical_dims, meta.logical_shape):
            if sizes.setdefault(d, s) != s:
                raise ValueError(f"conflicting size for dim {d!r} in {path}")
        if _is_index_coord(meta):
            # coords decode CF too (a foreign store may pack e.g. lat as
            # int16+scale; raw integers would corrupt window selection,
            # pushdown comparisons and the SQL dim columns)
            coords[name] = Variable(
                meta.logical_dims, read_region_decoded(meta, {}, {})
            )
        else:
            # CF-packed arrays surface with their DECODED dtype (xarray's
            # mask_and_scale behavior, the reference's read semantics)
            var_meta[name] = (meta.logical_dims, cf_decoded_dtype(meta))
            for d, c in zip(meta.logical_dims, meta.logical_chunks):
                seen_chunks.setdefault(d, set()).add(c)
                prev = chunks.setdefault(d, c)
                if prev != c:
                    # differing per-var encodings: the gcd grid still
                    # reads correctly (regions assemble across store
                    # chunks) but can silently explode the task count
                    # (gcd(2, 3) = 1) — so it is opt-in only
                    chunks[d] = math.gcd(prev, c)
    if not allow_inconsistent_chunks:
        for d, vals in seen_chunks.items():
            if len(vals) > 1 and min(vals) != chunks[d]:
                # When every declared size is a multiple of the smallest
                # (e.g. {5, 10}), the finest grid is EXACT — all chunk
                # boundaries align — and stays the default. Otherwise the
                # gcd (e.g. {2, 3} -> 1) is a guess that can explode the
                # task count: refuse like the reference's open_zarr
                # (zarr.py _infer_chunks); an explicit in-flight chunking
                # (from_zarr chunks=...) opts back in.
                raise ValueError(
                    "inconsistent chunk sizes on Zarr dataset for "
                    f"dimension {d!r}: {set(sorted(vals))}"
                )
    tmpl = Template(sizes=sizes, var_meta=var_meta, coords=coords, attrs=group_attrs)
    return tmpl, {d: chunks.get(d, s) for d, s in sizes.items()}, arrays


def from_zarr(
    spark: SparkSession,
    path: str,
    chunks: Mapping[str, int] | None = None,
    split_vars: bool = False,
    window: Mapping[str, tuple[int, int]] | None = None,
    var_subset: Sequence[str] | None = None,
) -> Dataset:
    """Lazily read a Zarr group as a distributed Dataset.

    ``chunks`` defaults to the store's own chunk grid; any in-flight chunk
    size works (executors assemble regions across zarr chunks).
    ``window``/``var_subset`` restrict the scan to an element window /
    variable subset — the target of the scan-rewrite fast path (reference
    ``_whole_dataset_method``, ``dataset.py:379-394``): ``isel``/``head``/
    ``tail``/``__getitem__``/``rechunk`` on a pristine scan re-plan the
    read instead of filtering materialized chunks, so only the needed
    bytes are ever read.
    Reference: ``Dataset.from_zarr`` (``dataset.py:662-703``).
    """
    # an explicit in-flight chunking opts into reading stores whose
    # variables disagree on their chunk grids (the store default would
    # be a guess — see open_zarr_meta)
    template, store_chunks, arrays_meta = open_zarr_meta(
        path, allow_inconsistent_chunks=chunks is not None
    )
    if var_subset is not None:
        template = template.select_vars(var_subset)
    full_sizes = dict(template.sizes)
    # drop window dims the var_subset projection removed (xarray
    # semantics: isel on a dim absent from the selected variables is a
    # no-op) — the isel-then-getitem scan rewrite hits this legitimately
    win = {
        d: (int(a), int(b))
        for d, (a, b) in (window or {}).items()
        if d in full_sizes
    }
    for d, (a, b) in win.items():
        if not (0 <= a < b <= full_sizes[d]):
            raise ValueError(f"window {win[d]} out of range for dim {d!r} of size {full_sizes[d]}")
    sizes = {d: win.get(d, (0, s))[1] - win.get(d, (0, s))[0] for d, s in full_sizes.items()}
    base_off = {d: win.get(d, (0, 0))[0] for d in full_sizes}
    if win:
        template = Template(
            sizes=sizes,
            var_meta=template.var_meta,
            coords={
                k: Variable(
                    c.dims,
                    c.values[
                        tuple(
                            slice(base_off[d], base_off[d] + sizes[d]) for d in c.dims
                        )
                    ],
                )
                for k, c in template.coords.items()
            },
            attrs=template.attrs,
        )
    cchunks = core.normalize_chunks(
        dict(chunks) if chunks else store_chunks, sizes,
        itemsize=template.itemsize(split_vars),
    )
    n_grid = core.chunk_count(cchunks, sizes)
    var_groups: list[str | None] = sorted(template.var_meta) if split_vars else [None]
    dims_sorted = sorted(sizes)
    # Ship small values via broadcast: coordinate axes AND the parsed
    # array metadata — tasks must not re-open the group (one metadata
    # fetch per JOB; per-task opens would mean per-task GETs on object
    # stores, the reference's stage_locally problem, zarr.py:374-386).
    coords_bc = spark.sparkContext.broadcast(template.coords)
    arrays_bc = spark.sparkContext.broadcast(arrays_meta)
    var_names = sorted(template.var_meta)

    from xarray_beam_spark.observability import get_counters

    _c = get_counters(spark)
    acc_chunks, acc_bytes = _c.acc("read.chunks"), _c.acc("read.bytes")

    def read(batch) -> Iterator[Chunk]:
        # the chain's source: one chunk per spark.range id
        from xarray_beam_spark.sources import iothread

        arrays = arrays_bc.value
        coords_all = coords_bc.value
        io_w = iothread.io_width(path)
        for i in batch.column("id").to_numpy():
            grid_i, var_i = divmod(int(i), len(var_groups))
            offsets = core.key_for_index(grid_i, sizes, cchunks)
            shape = {
                d: min(cchunks[d], sizes[d] - offsets[d]) for d in dims_sorted
            }
            vg = var_groups[var_i]
            names = [vg] if vg is not None else var_names

            def read_var(v):
                meta = arrays[v]
                ldims = meta.logical_dims
                return v, Variable(
                    ldims,
                    read_region_decoded(
                        meta,
                        {d: base_off[d] + offsets[d] for d in ldims},
                        {d: shape[d] for d in ldims},
                    ),
                )

            # per-variable IO threading on latency-bound stores
            # (reference core.py:528-530); read_region threads
            # per-chunk below this when variables are few
            dv = dict(iothread.thread_map(read_var, names, io_w))
            used = {d for var in dv.values() for d in var.dims}
            ch_coords = {
                k: Variable(
                    c.dims,
                    c.values[
                        tuple(
                            slice(offsets[d], offsets[d] + shape[d]) for d in c.dims
                        )
                    ],
                )
                for k, c in coords_all.items()
                if set(c.dims) <= used
            }
            ds = NDDataset(dv, ch_coords)
            acc_chunks.add(1)
            acc_bytes.add(ds.nbytes)
            yield {d: offsets[d] for d in dims_sorted}, vg, ds

    total = n_grid * len(var_groups)
    rng = spark.range(0, total, 1, max(1, min(total, spark.sparkContext.defaultParallelism)))
    out = Dataset(spark, Chain(rng, read), template, cchunks, split_vars)
    # Register the scan spec so Dataset.isel/head/tail/__getitem__/rechunk
    # can rewrite the read instead of post-filtering (reference fast path).
    out._scan = ZarrScan(path=path, window=win, var_subset=tuple(var_names))
    return out


def zip_from_zarr(
    spark: SparkSession,
    paths: Sequence[str],
    func,
    chunks: Mapping[str, int] | None = None,
    template: Template | None = None,
) -> Dataset:
    """N-way co-read: read N same-grid Zarr stores in ONE scan and combine
    each chunk position with ``func(ds_0, ..., ds_{n-1}) -> NDDataset``.

    The reference's ``DatasetToChunks([ds1, ds2, ...])`` reads multiple
    datasets per key in a single pipeline stage (``core.py:419-460,
    538-541``) so multi-dataset arithmetic needs no join; ``Dataset.
    zip_map`` (two independent scans + offset equi-join) pays one shuffle
    for the same result. Here each ``spark.range`` task opens every store
    and reads the SAME element region from each — zero exchange in the
    plan, and the scan parallelism/pushdown of ``from_zarr`` is preserved.

    ``func`` must keep the chunk grid (elementwise/variable-wise math);
    the output template is inferred from a dummy application when not
    given (the reference's template-inference pattern).
    """
    if len(paths) < 2:
        raise ValueError("zip_from_zarr needs >= 2 stores")
    from xarray_beam_spark.sources import iothread, stores as _stores

    # an explicit chunks= opts into mixed-chunk-grid stores, the same
    # escape hatch from_zarr documents; metadata opens are threaded on
    # latency-bound stores so N co-read stores pay ~one round-trip, not N
    latency = any(
        getattr(_stores.resolve(p)[0], "latency_bound", False) for p in paths
    )
    metas = iothread.thread_map(
        lambda p: open_zarr_meta(p, allow_inconsistent_chunks=chunks is not None),
        list(paths),
        width=min(16, len(paths)) if latency else 1,
    )
    tmpls: list[Template] = [m[0] for m in metas]
    arrays_per: list[dict] = [m[2] for m in metas]
    store_chunks0: dict[str, int] | None = metas[0][1]
    sizes = dict(tmpls[0].sizes)
    for p, t in zip(paths[1:], tmpls[1:]):
        if dict(t.sizes) != sizes:
            raise ValueError(
                f"co-read requires identical grids: {p} has {t.sizes}, "
                f"{paths[0]} has {sizes}"
            )
    cchunks = core.normalize_chunks(
        dict(chunks) if chunks else store_chunks0, sizes,
        itemsize=sum(t.itemsize(False) for t in tmpls),
    )
    from xarray_beam_spark.dataset import _dummy_chunk, _infer_result_meta

    if template is None:
        dummies = [_dummy_chunk(t, cchunks) for t in tmpls]
        out_dummy = func(*dummies)
        template, _ = _infer_result_meta(tmpls[0], cchunks, dummies[0], out_dummy)
    dims_sorted = sorted(sizes)
    n_grid = core.chunk_count(cchunks, sizes)
    coords_bc = spark.sparkContext.broadcast([t.coords for t in tmpls])
    arrays_bc = spark.sparkContext.broadcast(arrays_per)
    var_names_per = [sorted(t.var_meta) for t in tmpls]

    def read(batch) -> Iterator[Chunk]:
        groups = arrays_bc.value  # metadata opened once, driver-side
        coords_all = coords_bc.value
        for i in batch.column("id").to_numpy():
            offsets = core.key_for_index(int(i), sizes, cchunks)
            shape = {d: min(cchunks[d], sizes[d] - offsets[d]) for d in dims_sorted}
            dss = []
            for arrays, names, coords_t in zip(groups, var_names_per, coords_all):
                dv = {}
                for v in names:
                    meta = arrays[v]
                    ldims = meta.logical_dims
                    dv[v] = Variable(
                        ldims,
                        read_region_decoded(
                            meta,
                            {d: offsets[d] for d in ldims},
                            {d: shape[d] for d in ldims},
                        ),
                    )
                used = {d for var in dv.values() for d in var.dims}
                ch_coords = {
                    k: Variable(
                        c.dims,
                        c.values[
                            tuple(slice(offsets[d], offsets[d] + shape[d]) for d in c.dims)
                        ],
                    )
                    for k, c in coords_t.items()
                    if set(c.dims) <= used
                }
                dss.append(NDDataset(dv, ch_coords))
            yield {d: offsets[d] for d in dims_sorted}, None, func(*dss)

    rng = spark.range(0, n_grid, 1, max(1, min(n_grid, spark.sparkContext.defaultParallelism)))
    return Dataset(spark, Chain(rng, read), template, cchunks, False)


def replace_template_dims(
    template: Template,
    sizes: Mapping[str, int] | None = None,
    coords: Mapping[str, np.ndarray] | None = None,
) -> Template:
    """Rewrite dimension sizes/coordinates of a template (reference
    ``replace_template_dims``, ``zarr.py:149-226``): the driver can set up
    a Zarr store for the FULL output extent (e.g. the whole forecast
    period) while individual jobs region-write only their slice via
    ``to_zarr(..., needs_setup=False)``."""
    new_sizes = dict(template.sizes)
    new_coords = dict(template.coords)
    for d, s in (sizes or {}).items():
        new_sizes[d] = int(s)
        if d in new_coords and len(new_coords[d].values) != s:
            del new_coords[d]  # stale coord; caller may supply a new one
    for d, vals in (coords or {}).items():
        arr = np.asarray(vals)
        new_sizes[d] = len(arr)
        new_coords[d] = Variable((d,), arr)
    for k, c in list(new_coords.items()):
        # check EVERY dim of every coord (incl. multi-dim coords) against the
        # new sizes; a stale coord on any axis makes the template inconsistent
        if any(
            new_sizes.get(d) != int(np.asarray(c.values).shape[ax])
            for ax, d in enumerate(c.dims)
        ):
            del new_coords[k]
    return Template(
        sizes=new_sizes, var_meta=template.var_meta, coords=new_coords, attrs=template.attrs
    )


@dataclass(frozen=True)
class ZarrScan:
    """Scan spec registered on pristine ``from_zarr`` Datasets. ``reread``
    composes windows/projections into a new scan — the engine's projection
    and predicate pushdown into the Zarr store."""

    path: str
    window: dict  # absolute element windows {dim: (start, stop)}
    var_subset: tuple

    def reread(
        self,
        spark: SparkSession,
        chunks: Mapping[str, int],
        split_vars: bool,
        rel_window: Mapping[str, tuple[int, int]] | None = None,
        var_subset: Sequence[str] | None = None,
    ) -> Dataset:
        base = dict(self.window)
        if rel_window:
            for d, (a, b) in rel_window.items():
                s0 = base.get(d, (0, 0))[0]
                base[d] = (s0 + a, s0 + b)
        vs = list(var_subset) if var_subset is not None else list(self.var_subset)
        return from_zarr(
            spark, self.path, chunks=chunks, split_vars=split_vars,
            window=base, var_subset=vs,
        )


def setup_zarr(
    template: Template,
    path: str,
    zarr_chunks: Mapping[str, int],
    compressor: str | dict | None = "zlib",
    zarr_format: int = 2,
    zarr_shards: Mapping[str, int] | None = None,
    encoding: Mapping[str, Mapping] | None = None,
    stage_locally: bool | None = None,
) -> None:
    """Driver-side store skeleton: group + array metadata + coordinate
    arrays written eagerly (reference ``setup_zarr``, ``zarr.py:389-513``;
    unchunked coords written with the template, ``zarr.py:609-612``).

    ``zarr_shards`` (v3 only): per-dim shard extents in elements, each a
    multiple of the zarr chunk (reference shard surface,
    ``dataset.py:705-866``).

    ``encoding``: per-variable overrides, the reference's
    ``ChunksToZarr(encoding=...)`` surface (``zarr.py:636-821``, where it
    is delegated to xarray): ``{var: {"compressor": spec,
    "fill_value": v}}``. ``compressor`` accepts everything
    ``zarrlite.create_array`` does (``None``/``"zlib"``/``"blosc"``/a
    numcodecs-style dict); unknown encoding keys fail loudly.

    ``stage_locally`` (reference ``zarr.py:374-386,462-513``): build the
    skeleton in a local temp store, then push every blob to ``path`` with
    up to 128 concurrent puts. Setup writes 2+2n tiny metadata objects
    plus one blob per coordinate — on a latency-bound object store those
    serial round-trips dominate, on local disk staging is pure overhead.
    Default (None) = auto: stage exactly when ``path``'s backend is
    latency-bound."""
    if stage_locally is None:
        store, _ = stores.resolve(path)
        stage_locally = bool(getattr(store, "latency_bound", False))
    if stage_locally:
        import tempfile

        with tempfile.TemporaryDirectory(prefix="xbs-zarr-stage-") as tmp:
            _setup_zarr_direct(
                template, tmp, zarr_chunks, compressor, zarr_format,
                zarr_shards, encoding,
            )
            stores.copy_tree(tmp, path, width=128)
        return
    _setup_zarr_direct(
        template, path, zarr_chunks, compressor, zarr_format, zarr_shards,
        encoding,
    )


def _setup_zarr_direct(
    template: Template,
    path: str,
    zarr_chunks: Mapping[str, int],
    compressor: str | dict | None,
    zarr_format: int,
    zarr_shards: Mapping[str, int] | None,
    encoding: Mapping[str, Mapping] | None,
) -> None:
    encoding = {k: dict(v) for k, v in (encoding or {}).items()}
    unknown_vars = sorted(set(encoding) - set(template.var_meta))
    if unknown_vars:
        raise ValueError(f"encoding for unknown variables {unknown_vars}")
    for v, enc in encoding.items():
        bad = sorted(
            set(enc)
            - {"compressor", "fill_value", "dtype", "scale_factor", "add_offset", "filters"}
        )
        if bad:
            raise ValueError(
                f"unsupported encoding keys {bad} for {v!r} (supported: "
                "compressor, fill_value, dtype, scale_factor, add_offset, filters)"
            )
    zarrlite.create_group(path, template.attrs, zarr_format=zarr_format)
    for name, coord in template.coords.items():
        meta = zarrlite.create_array(
            path,
            name,
            shape=coord.values.shape,
            chunks=coord.values.shape,  # coords: single chunk
            dtype=coord.values.dtype,
            dims=coord.dims,
            compressor=compressor,
            zarr_format=zarr_format,
        )
        zarrlite.write_full(meta, coord.values)
    for name, (dims, dtype) in template.var_meta.items():
        shape = [template.sizes[d] for d in dims]
        chunks = [min(zarr_chunks.get(d, template.sizes[d]), template.sizes[d]) for d in dims]
        shards = None
        if zarr_shards is not None:
            # clamp oversize shard requests to the whole dim ROUNDED UP to
            # a chunk multiple (never plain dim size: that can break the
            # shards-divisible-by-chunks rule); -1 = whole dim in one
            # shard, the reference's zarr_shards={'d': -1} convention
            shards = [
                _shard_extent(zarr_shards.get(d, c), c, template.sizes[d])
                for d, c in zip(dims, chunks)
            ]
        enc = encoding.get(name, {})
        if "scale_factor" in enc or "add_offset" in enc or "dtype" in enc:
            # CF packing: store a narrow integer array + the decode
            # attributes xarray (and our read path) apply. The .zarray
            # fill_value matches _FillValue so never-written chunks also
            # decode to NaN.
            packed = np.dtype(enc.get("dtype", "<i2"))
            if packed.kind not in "iu":
                raise ValueError(
                    f"{name!r}: CF-packed dtype must be integer, got {packed}"
                )
            # default fill: the extreme value DATA is least likely to hit
            # (unsigned min is 0 — a guaranteed collision — so use max)
            info = np.iinfo(packed)
            fillv = enc.get(
                "fill_value", int(info.max if packed.kind == "u" else info.min)
            )
            zarrlite.create_array(
                path,
                name,
                shape=shape,
                chunks=chunks,
                dtype=packed,
                dims=dims,
                compressor=enc.get("compressor", compressor),
                fill_value=int(fillv),
                attrs={
                    "scale_factor": float(enc.get("scale_factor", 1.0)),
                    "add_offset": float(enc.get("add_offset", 0.0)),
                    "_FillValue": int(fillv),
                },
                zarr_format=zarr_format,
                shards=shards,
                filters=enc.get("filters"),
            )
            continue
        zarrlite.create_array(
            path,
            name,
            shape=shape,
            chunks=chunks,
            dtype=np.dtype(dtype),
            dims=dims,
            compressor=enc.get("compressor", compressor),
            fill_value=enc.get("fill_value", "__default__"),
            zarr_format=zarr_format,
            shards=shards,
            filters=enc.get("filters"),
        )
    # One .zmetadata GET instead of 2+2n metadata round-trips per open —
    # setup is the only writer of metadata, so region writes never
    # invalidate it (v2 .zmetadata; v3 uses the inline convention in the
    # root zarr.json).
    zarrlite.consolidate_metadata(path)


_WRITE_STATS = T.StructType(
    [
        T.StructField("chunks_written", T.LongType()),
        T.StructField("bytes_written", T.LongType()),
    ]
)


def append_to_zarr(ds: Dataset, path: str, append_dim: str) -> dict[str, int]:
    """Grow an existing Zarr store along ``append_dim`` and region-write
    ``ds`` into the new extent — xarray's ``to_zarr(append_dim=...)``
    time-series ingestion pattern, built on the reference's incremental
    region-write machinery (``zarr.py:149-226`` + ``needs_setup``,
    ``zarr.py:700-716``).

    Driver-side: every data variable's stored shape is rewritten
    (:func:`zarrlite.resize_array` — metadata-only, existing chunk objects
    untouched), the ``append_dim`` coordinate array is extended with the
    incoming labels, and consolidated metadata is refreshed.  Then one
    distributed write lands the new chunks at ``origin = old extent``.

    Constraints (all checked loudly):
      * every data variable must exist in the store, carry ``append_dim``,
        and match dtypes; non-append dims must match the store extent;
      * the old extent must be a multiple of the store's write unit along
        ``append_dim`` (zarr chunk, or shard when sharded) — the writer's
        whole-chunk-ownership contract cannot safely fill a trailing
        partial chunk that an earlier write produced;
      * the store and the incoming dataset must agree on whether
        ``append_dim`` is labelled (both have the coordinate, or neither).
    """
    tmpl = ds.template
    if not tmpl.var_meta:
        raise ValueError("append_to_zarr: dataset has no data variables")
    if append_dim not in tmpl.sizes:
        raise ValueError(f"append_to_zarr: dataset has no dimension {append_dim!r}")
    arrays, _ = zarrlite.open_group(path)

    old: int | None = None
    for v, (dims, dtype) in tmpl.var_meta.items():
        if v not in arrays:
            raise ValueError(f"store {path} has no array {v!r} (append_dim)")
        meta = arrays[v]
        if append_dim not in meta.logical_dims:
            raise ValueError(
                f"{v!r}: store array has no dimension {append_dim!r} — every "
                "appended variable must carry the append dimension (project "
                f"static variables away first, e.g. ds[[...]] without {v!r})"
            )
        if cf_decoded_dtype(meta) != dtype:
            raise ValueError(f"{v!r}: dtype {dtype} != store {cf_decoded_dtype(meta)}")
        ax = meta.logical_dims.index(append_dim)
        ext = meta.logical_shape[ax]
        if old is None:
            old = ext
        elif old != ext:
            raise ValueError(
                f"store arrays disagree on {append_dim!r} extent: {old} vs {ext} ({v!r})"
            )
        unit = meta.write_unit[ax]
        if ext % unit != 0:
            raise ValueError(
                f"{v!r}: store extent {ext} along {append_dim!r} is not a "
                f"multiple of the write unit {unit}; the append origin would "
                "land inside a chunk (whole-chunk ownership contract)"
            )
        for d, s in zip(meta.logical_dims, meta.logical_shape):
            if d != append_dim and tmpl.sizes.get(d) != s:
                raise ValueError(
                    f"{v!r}: size {tmpl.sizes.get(d)} along {d!r} != store {s}"
                )
    assert old is not None

    # Remaining store arrays are coordinates (name == its own dim, or a
    # declared template coord). Anything else is a data variable the
    # incoming dataset is missing — appending would leave it unresized and
    # the store internally inconsistent, so fail loudly (xarray's rule).
    coord_names = []
    for n in arrays:
        if n in tmpl.var_meta:
            continue
        cmeta = arrays[n]
        if n in tmpl.coords or cmeta.logical_dims == (n,):
            coord_names.append(n)
        elif append_dim in cmeta.logical_dims:
            raise ValueError(
                f"store has data variable {n!r} carrying {append_dim!r} that "
                "the appended dataset lacks; appends must cover every "
                "variable along the append dimension or the store becomes "
                "internally inconsistent"
            )
        # else: a static variable (no append dim) — left untouched, like
        # xarray's append semantics for dimension-disjoint variables
    for n in coord_names:
        cmeta = arrays[n]
        if append_dim in cmeta.logical_dims and cmeta.logical_dims != (append_dim,):
            raise ValueError(
                f"coordinate {n!r} spans {append_dim!r} with dims "
                f"{cmeta.logical_dims}; appending under multi-dim coordinates "
                "is not supported"
            )
    store_has_coord = append_dim in coord_names
    ds_coord = tmpl.coords.get(append_dim)
    ds_has_coord = ds_coord is not None and ds_coord.dims == (append_dim,)
    if store_has_coord != ds_has_coord:
        raise ValueError(
            f"store and dataset disagree on a {append_dim!r} coordinate "
            f"(store: {store_has_coord}, dataset: {ds_has_coord})"
        )

    # 1. metadata-only resize of every data array
    for v in tmpl.var_meta:
        meta = arrays[v]
        ax = meta.dims.index(append_dim)  # wrapped arrays keep logical axes first
        new_shape = list(meta.shape)
        new_shape[ax] = old + tmpl.sizes[append_dim]
        zarrlite.resize_array(meta, new_shape)

    # 2. extend the append-dim coordinate (single-chunk array: re-create +
    # rewrite in full; metadata-sized by construction)
    if store_has_coord:
        cmeta = arrays[append_dim]
        # concatenate in the DECODED domain and re-encode: a foreign
        # store's CF-packed coordinate would otherwise mix raw stored
        # codes (old half) with decoded values cast to the packed dtype
        # (new half) — silently wrong labels for every reader
        old_vals = read_region_decoded(
            cmeta, {append_dim: 0}, {append_dim: old}
        )
        new_vals = np.concatenate([old_vals, np.asarray(ds_coord.values)])
        # preserve the coordinate's attrs (units/calendar/CF packing) —
        # create_array adds _ARRAY_DIMENSIONS itself
        keep_attrs = {
            k: v for k, v in cmeta.attrs.items() if k != zarrlite._DIMS_ATTR
        }
        stored = cf_encode(cmeta, new_vals)
        if _cf_spec(cmeta) is None:
            # non-CF coord: keep the store's dtype stable (concatenate
            # may have promoted, e.g. ds int32 labels onto an int64 axis)
            stored = stored.astype(cmeta.logical_dtype)
        cmeta2 = zarrlite.create_array(
            path,
            append_dim,
            shape=stored.shape,
            chunks=stored.shape,
            dtype=stored.dtype,
            dims=(append_dim,),
            attrs=keep_attrs or None,
            fill_value=cmeta.fill_value,
            compressor=cmeta.compressor,
            zarr_format=cmeta.zarr_format,
        )
        zarrlite.write_full(cmeta2, stored)

    # 3. one .zmetadata GET per open stays true after the resize; the
    # array set is known here, so this works on listing-free object
    # stores too (consolidate_metadata would otherwise need a listing)
    zarrlite.consolidate_metadata(path, names=sorted(arrays))

    # 4. distributed region write of the new extent
    return to_zarr(ds, path, needs_setup=False, origin={append_dim: old})


def to_zarr(
    ds: Dataset,
    path: str,
    zarr_chunks: Mapping[str, int] | None = None,
    compressor: str | dict | None = "zlib",
    zarr_format: int = 2,
    zarr_chunks_per_shard: Mapping[str, int] | None = None,
    needs_setup: bool = True,
    origin: Mapping[str, int] | None = None,
    encoding: Mapping[str, Mapping] | None = None,
    stage_locally: bool | None = None,
    append_dim: str | None = None,
) -> dict[str, int]:
    """Write the dataset to a Zarr group; returns write stats.

    ``stage_locally`` is forwarded to :func:`setup_zarr` (reference
    ``ChunksToZarr``'s kwarg, ``zarr.py:374-386``): None = auto-stage the
    metadata skeleton when the destination store is latency-bound.

    ``zarr_chunks`` defaults to the in-flight chunk grid. In-flight chunks
    must align to the write unit — the zarr chunk, or the shard when
    ``zarr_chunks_per_shard`` is given (v3 only; reference
    ``validate_zarr_chunk`` ``zarr.py:516-587`` + shard math
    ``dataset.py:705-752``) — call ``rechunk`` first otherwise. One Spark
    action; no driver barrier needed since setup happens synchronously
    before it.

    Incremental writes (reference's large-output pattern,
    ``zarr.py:149-226`` + ``needs_setup``, ``zarr.py:700-716``): set the
    store up ONCE for the full extent via :func:`setup_zarr` on a
    template rewritten with :func:`replace_template_dims`, then each job
    calls ``to_zarr(..., needs_setup=False, origin={dim: start})`` to
    region-write its slice; ``origin`` must align to the store's write
    unit.

    ``encoding``: per-variable ``{"compressor": ..., "fill_value": ...}``
    overrides (reference ``ChunksToZarr(encoding=...)``); see
    :func:`setup_zarr`.

    ``append_dim``: grow an EXISTING store along one dimension and write
    this dataset into the new extent (xarray's ``to_zarr(append_dim=)``);
    see :func:`append_to_zarr`. Mutually exclusive with every
    setup/origin option.
    """
    if append_dim is not None:
        if not needs_setup or origin or zarr_chunks or zarr_chunks_per_shard or encoding:
            raise ValueError(
                "append_dim is mutually exclusive with needs_setup=False, "
                "origin, zarr_chunks, zarr_chunks_per_shard and encoding "
                "(the existing store already fixes the layout)"
            )
        return append_to_zarr(ds, path, append_dim)
    # var-split rows are written as they are: each one's variable is its
    # own array, so no consolidate_variables shuffle is needed
    sizes = dict(ds.sizes)
    if origin:
        unknown = sorted(set(origin) - set(sizes))
        if unknown:
            # a typo'd or stale origin key would silently write the slice
            # at offset 0 over existing data
            raise ValueError(
                f"origin names dims {unknown} not in the dataset "
                f"(dims: {sorted(sizes)})"
            )
    base = {d: int((origin or {}).get(d, 0)) for d in sizes}
    if needs_setup:
        if origin:
            raise ValueError("origin only makes sense with needs_setup=False")
        zchunks = core.normalize_chunks(dict(zarr_chunks) if zarr_chunks else ds.chunks, sizes)
        zshards: dict[str, int] | None = None
        if zarr_chunks_per_shard is not None:
            if zarr_format != 3:
                raise ValueError("shards require zarr_format=3")
            zshards = {
                d: _shard_extent(
                    zchunks[d] * int(zarr_chunks_per_shard.get(d, 1)),
                    zchunks[d],
                    sizes[d],
                )
                for d in sizes
            }
        unit = zshards or zchunks
        setup_zarr(
            ds.template, path, zchunks, compressor, zarr_format, zshards,
            encoding=encoding, stage_locally=stage_locally,
        )
        arrays, _ = zarrlite.open_group(path)
    else:
        arrays, _ = zarrlite.open_group(path)
        unit = {}
        for v, (dims, dtype) in ds.template.var_meta.items():
            if v not in arrays:
                raise ValueError(f"store {path} has no array {v!r} (needs_setup=False)")
            meta = arrays[v]
            if cf_decoded_dtype(meta) != dtype:
                raise ValueError(
                    f"{v!r}: dtype {dtype} != store {cf_decoded_dtype(meta)}"
                )
            if tuple(dims) != tuple(meta.logical_dims):
                # a square grid would pass every size/alignment check and
                # land every chunk transposed — silent corruption
                raise ValueError(
                    f"{v!r}: dataset dims {tuple(dims)} != store dims "
                    f"{tuple(meta.logical_dims)}; transpose the dataset to "
                    "the store's dim order before writing"
                )
            wu = meta.write_unit[: len(meta.logical_dims)]
            for d, u, s in zip(meta.logical_dims, wu, meta.logical_shape):
                unit.setdefault(d, u)
                end = base.get(d, 0) + sizes.get(d, s)
                if end > s:
                    raise ValueError(f"{v!r}: write along {d!r} ends at {end} > store size {s}")
        for d, off in base.items():
            if d in unit and off % unit[d] != 0:
                raise ValueError(
                    f"origin {off} along {d!r} not aligned to store write unit {unit[d]}"
                )
    for d in sizes:
        if d in unit and ds.chunks[d] % unit[d] != 0 and ds.chunks[d] != sizes[d]:
            raise ValueError(
                f"in-flight chunk {ds.chunks[d]} along {d!r} is not a multiple of "
                f"the zarr write unit {unit[d]}; rechunk first (reference zarr.py:557-583)"
            )
    dims_sorted = sorted(sizes)
    from xarray_beam_spark.observability import get_counters

    _c = get_counters(ds.spark)
    acc_wchunks, acc_wbytes = _c.acc("write.chunks"), _c.acc("write.bytes")
    # destination metadata parsed ONCE driver-side (it was just written /
    # validated above) and broadcast — write tasks must not re-fetch it
    arrays_bc = ds.spark.sparkContext.broadcast(arrays)

    def write(chunks: Iterator[Chunk]):
        # the chain's tail: write each chunk, then one stats row
        import pyarrow as pa

        from xarray_beam_spark.sources import iothread

        arrays = arrays_bc.value
        io_w = iothread.io_width(path)
        n_chunks = 0
        n_bytes = 0
        for offs, _, chunk in chunks:

            def write_var(item):
                v, var = item
                meta = arrays[v]
                off = {d: base.get(d, 0) + offs[d] for d in meta.logical_dims}
                return zarrlite.write_region(meta, off, cf_encode(meta, var.values))

            # per-variable IO threading (reference zarr.py:629)
            n_bytes += sum(iothread.thread_map(write_var, chunk.data_vars.items(), io_w))
            n_chunks += len(chunk.data_vars)
        acc_wchunks.add(n_chunks)
        acc_wbytes.add(n_bytes)
        yield pa.RecordBatch.from_arrays(
            [pa.array([n_chunks], pa.int64()), pa.array([n_bytes], pa.int64())],
            names=["chunks_written", "bytes_written"],
        )

    stats = ds._emit(write, _WRITE_STATS).agg(
        F.sum("chunks_written").alias("chunks_written"),
        F.sum("bytes_written").alias("bytes_written"),
    ).collect()[0]
    return {"chunks_written": stats[0] or 0, "bytes_written": stats[1] or 0}


# Convenience methods on Dataset (no circular import: this module imports
# dataset, not vice versa; importing xarray_beam_spark wires these up).
Dataset.to_zarr = to_zarr  # type: ignore[attr-defined]
Dataset.from_zarr = staticmethod(from_zarr)  # type: ignore[attr-defined]
