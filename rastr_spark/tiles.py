"""Tile data model: the distributed ``Raster``.

The reference's ``Raster`` (one dense in-memory 2-D array + meta,
reference: src/rastr/raster.py:77-90) becomes a **DataFrame of fixed-size tiles**:

    raster_id: string, tile_row: int, tile_col: int, cell_id: long,
    values: array<double>   (row-major, shape th×tw, NaN = nodata)

Edge tiles are exact-sized (th = min(T, H - tile_row·T), tw likewise) — no pad
cells, so NaN always means nodata, never padding. ``cell_id`` is the Morton code of
(tile_row, tile_col) (grid.py) and doubles as the spatial partitioning/pruning key.

``RasterFrame`` wraps (DataFrame, RasterMeta, raster_id) and exposes the reference's
operator surface as lazy DataFrame transformations; nothing materializes until an
action. Meta lives on the driver (one tiny object), so alignment preconditions
(reference: src/rastr/raster.py:191-202) are checked eagerly at plan-build time,
exactly like the reference raises before computing.

Python crosses the boundary in Arrow batches end to end, never once per tile:
:meth:`RasterFrame.map_tiles` (one ``mapInArrow`` pass, each tile's slices of
the batch's flat buffers in, :func:`tile_batch` out) for elementwise kernels,
PIP masks and the generators, and :func:`group_map` (one ``mapInArrow`` pass
over a stream sorted by key, groups cut per batch) for the kernels that need
several rows per tile: the stencils, resample and contour segments. A float64
buffer carries no validity bitmap, so NaN stays the nodata sentinel inside
``values`` and SQL NULL never appears there.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .grid import morton_encode
from .meta import Affine, Bounds, RasterMeta

TILE_FIELDS = [
    T.StructField("raster_id", T.StringType(), False),
    T.StructField("tile_row", T.IntegerType(), False),
    T.StructField("tile_col", T.IntegerType(), False),
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("values", T.ArrayType(T.DoubleType(), True), False),
]
TILE_SCHEMA = T.StructType(TILE_FIELDS)


def list_parts(col) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, offsets) of an Arrow numeric list column, so row i is
    ``flat[offs[i]:offs[i + 1]]``. Zero-copy (read-only) for one chunk without
    NULL elements; a NULL float element reads as NaN."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return col.values.to_numpy(zero_copy_only=False), col.offsets.to_numpy()


def float_lists(parts) -> pa.ListArray:
    """Arrow ``list<double>`` from a sequence of numpy arrays (each raveled).
    NaN stays NaN: a float64 numpy buffer carries no validity bitmap."""
    sizes = np.fromiter((p.size for p in parts), np.int64, len(parts))
    offs = np.zeros(len(parts) + 1, np.int32)
    np.cumsum(sizes, out=offs[1:])
    flat = np.concatenate([np.ravel(p) for p in parts]) if parts else np.empty(0)
    return pa.ListArray.from_arrays(pa.array(offs), pa.array(flat.astype(np.float64, copy=False)))


def tile_batch(raster_id: str, tile_rows, tile_cols, cores) -> pa.RecordBatch:
    """TILE_SCHEMA rows as one Arrow batch, for kernels run through
    ``mapInArrow``/``applyInArrow``: ``cores[i]`` is tile i's (th, tw) array."""
    trs = np.asarray(tile_rows, np.int32)
    tcs = np.asarray(tile_cols, np.int32)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([raster_id] * len(trs), pa.string()),
            pa.array(trs),
            pa.array(tcs),
            pa.array(morton_encode(trs, tcs)),
            float_lists(cores),
        ],
        names=[f.name for f in TILE_FIELDS],
    )


def tile_spans(meta: RasterMeta) -> Iterator[tuple[int, int, int, int, int, int]]:
    """Yield (tile_row, tile_col, r0, c0, th, tw) covering the grid."""
    Tsz = meta.tile_size
    for tr in range(meta.n_tile_rows):
        r0 = tr * Tsz
        th = min(Tsz, meta.height - r0)
        for tc in range(meta.n_tile_cols):
            c0 = tc * Tsz
            tw = min(Tsz, meta.width - c0)
            yield tr, tc, r0, c0, th, tw


def tile_dims_cols(meta: RasterMeta) -> tuple[Column, Column]:
    """(th, tw) as JVM column expressions — edge tiles are smaller than T."""
    Tsz = meta.tile_size
    th = F.least(F.lit(Tsz), F.lit(meta.height) - F.col("tile_row") * Tsz)
    tw = F.least(F.lit(Tsz), F.lit(meta.width) - F.col("tile_col") * Tsz)
    return th.cast("int"), tw.cast("int")


def _tile_keys(spark: SparkSession, meta: RasterMeta) -> DataFrame:
    """(tile_row, tile_col) of every tile of the grid, generated JVM-side."""
    ntc = meta.n_tile_cols
    return spark.range(meta.n_tile_rows * ntc).select(
        (F.col("id") / ntc).cast("int").alias("tile_row"),
        (F.col("id") % ntc).cast("int").alias("tile_col"),
    )


def _map_tile_batches(batches, fn, cols, meta: RasterMeta, raster_id: str):
    """:meth:`RasterFrame.map_tiles`' batch body: ``fn(r0, c0, th, tw, *slices)``
    per tile, emitted through :func:`tile_batch`. Module-level, so unpickling
    the kernel that calls it imports the package and installs
    :mod:`rastr_spark.zipcache` on the worker."""
    Tsz, H, W = meta.tile_size, meta.height, meta.width
    for b in batches:
        trs = b.column("tile_row").to_numpy()
        tcs = b.column("tile_col").to_numpy()
        parts = [list_parts(b.column(c)) for c in cols]
        cores = []
        for i, (tr, tc) in enumerate(zip(trs.tolist(), tcs.tolist())):
            r0, c0 = tr * Tsz, tc * Tsz
            slices = [flat[offs[i] : offs[i + 1]] for flat, offs in parts]
            cores.append(fn(r0, c0, min(Tsz, H - r0), min(Tsz, W - c0), *slices))
        yield tile_batch(raster_id, trs, tcs, cores)


def tile_groups(raster_id: str, groups, fn: Callable) -> pa.RecordBatch:
    """One :func:`tile_batch` of ``fn(key, rows)`` per :func:`group_map` group
    keyed by a tile's (row, col)."""
    return tile_batch(
        raster_id, [k[0] for k, _ in groups], [k[1] for k, _ in groups], [fn(k, g) for k, g in groups]
    )


def group_map(df: DataFrame, keys: list[str], fn: Callable, schema) -> DataFrame:
    """The engine's grouped map without one Python call per group:
    ``fn(groups)`` gets the list of ``(key, rows)`` groups that end inside one
    Arrow batch — ``key`` a tuple of Python scalars, ``rows`` a
    ``pa.RecordBatch`` of all the group's rows — and returns one
    ``pa.RecordBatch`` of ``schema`` for all of them.

    One ``mapInArrow`` pass over ``df.repartition(*keys)
    .sortWithinPartitions(*keys)``: a hash exchange puts each group in one
    partition (whole, never split: no ``rebalance``), the sort makes it one
    contiguous run of rows, and :func:`_group_map_batches` cuts the runs
    in numpy, carrying an unfinished group across the Arrow batch boundary.
    The rows stay Arrow rows, so no group is ever packed into one giant row."""

    def kernel(batches):
        return _group_map_batches(batches, keys, fn)

    return df.repartition(*keys).sortWithinPartitions(*keys).mapInArrow(kernel, schema)


def _group_map_batches(batches, keys, fn):
    """:func:`group_map`'s batch body, module-level like
    :func:`_map_tile_batches` (unpickling the kernel installs
    :mod:`rastr_spark.zipcache`). The open group's slices wait in a list and
    are combined once, when the group ends."""
    open_key, parts = None, []
    for b in batches:
        n = b.num_rows
        if not n:
            continue
        cols = [b.column(k).to_numpy(zero_copy_only=False) for k in keys]
        starts = np.flatnonzero(np.any([c[1:] != c[:-1] for c in cols], axis=0)) + 1
        runs = [0, *starts.tolist(), n]
        done = []
        for lo, hi in zip(runs[:-1], runs[1:]):
            key = tuple(b.column(k)[lo].as_py() for k in keys)
            if parts and key != open_key:
                done.append((open_key, _whole(parts)))
                parts = []
            open_key = key
            parts.append(b.slice(lo, hi - lo))
        if done:
            yield fn(done)
    if parts:
        yield fn([(open_key, _whole(parts))])


def _whole(parts: list) -> pa.RecordBatch:
    """One batch of a group's slices (no copy for a group inside one batch)."""
    return parts[0] if len(parts) == 1 else pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


@dataclass
class RasterFrame:
    """Distributed raster = tile DataFrame + driver-side meta."""

    df: DataFrame
    meta: RasterMeta
    raster_id: str = "r0"

    # ------------------------------------------------------------------
    # constructors
    # ------------------------------------------------------------------
    @staticmethod
    def from_numpy(
        spark: SparkSession,
        arr: np.ndarray,
        meta: RasterMeta | None = None,
        *,
        raster_id: str = "r0",
        cell_size: float = 1.0,
        crs: str = "EPSG:2193",
        transform: Affine | None = None,
        tile_size: int | None = None,
    ) -> "RasterFrame":
        """Driver-side ingest for tests/goldens (the reference's in-memory path)."""
        arr = np.asarray(arr)
        if arr.ndim != 2:
            raise ValueError("array must be 2-D (reference: src/rastr/raster.py:83-90)")
        dtype = arr.dtype.name if arr.dtype.kind == "f" else "float64"
        if meta is None:
            meta = RasterMeta(
                cell_size=cell_size,
                crs=crs,
                transform=transform or Affine.scale(cell_size, cell_size),
                height=arr.shape[0],
                width=arr.shape[1],
                tile_size=tile_size or 256,
                dtype=dtype,
            )
        if meta.shape != arr.shape:
            meta = meta.with_(height=arr.shape[0], width=arr.shape[1])
        a64 = arr.astype(np.float64)
        rows = []
        for tr, tc, r0, c0, th, tw in tile_spans(meta):
            rows.append(
                (
                    raster_id,
                    tr,
                    tc,
                    int(morton_encode(np.array([tr]), np.array([tc]))[0]),
                    a64[r0 : r0 + th, c0 : c0 + tw].ravel().tolist(),
                )
            )
        df = spark.createDataFrame(rows, TILE_SCHEMA)
        return RasterFrame(df, meta, raster_id)

    @staticmethod
    def full(
        spark: SparkSession,
        meta: RasterMeta,
        fill_value: float = np.nan,
        *,
        raster_id: str = "r0",
    ) -> "RasterFrame":
        """Constant raster (reference ``full_raster`` src/rastr/create.py:140-149).

        Distributed generator: ``spark.range(n_tiles)`` → array_repeat — no driver
        materialization, scales to arbitrarily many tiles.
        """
        th, tw = tile_dims_cols(meta)
        df = _tile_keys(spark, meta).select(
            F.lit(raster_id).alias("raster_id"),
            "tile_row",
            "tile_col",
            _morton_col(F.col("tile_row"), F.col("tile_col")).alias("cell_id"),
            F.array_repeat(F.lit(float(fill_value)).cast("double"), th * tw).alias("values"),
        )
        return RasterFrame(df, meta, raster_id)

    def full_like(self, fill_value: float) -> "RasterFrame":
        """reference ``Raster.full_like`` src/rastr/raster.py:854-867."""
        return self.with_values(F.array_repeat(F.lit(float(fill_value)).cast("double"), F.size("values")))

    @staticmethod
    def example(spark: SparkSession, *, tile_size: int = 64) -> "RasterFrame":
        """Deterministic 256×256 'peaks' raster (reference: src/rastr/raster.py:840-852):
        ``exp(-x²-y²)·sin(3√(x²+y²))`` over x,y ∈ [-3, 3], float32, cell 2.0, EPSG:2193."""
        n = 256
        x = np.linspace(-3, 3, n)
        xx, yy = np.meshgrid(x, x)
        arr = (np.exp(-xx**2 - yy**2) * np.sin(3 * np.sqrt(xx**2 + yy**2))).astype(np.float32)
        meta = RasterMeta.example().with_(tile_size=tile_size, dtype="float32")
        return RasterFrame.from_numpy(spark, arr, meta, raster_id="example")

    @staticmethod
    def from_cells(
        cells: DataFrame,
        meta: RasterMeta,
        *,
        raster_id: str = "r0",
        row_col: str = "row",
        col_col: str = "col",
        value_col: str = "value",
        dense: bool = True,
    ) -> "RasterFrame":
        """Assemble tiles from a (row, col, value) cell DataFrame.

        One shuffle: groupBy tile key → ``collect_list`` of each tile's (row-major
        position, value) cells, then one :meth:`map_tiles` pass scatters them
        into the tile's array, NaN where absent. ``dense=True`` unions in empty tiles
        so the raster covers the full grid (all-NaN tiles present); ``dense=False``
        keeps only touched tiles (sparse representation, SURVEY.md §1.2).
        """
        Tsz = meta.tile_size
        row, col = F.col(row_col).cast("int"), F.col(col_col).cast("int")
        keyed = cells.select(
            (row / Tsz).cast("int").alias("tile_row"),
            (col / Tsz).cast("int").alias("tile_col"),
            row.alias("row"),
            col.alias("col"),
            F.col(value_col).cast("double").alias("value"),
        )
        _, tw = tile_dims_cols(meta)
        pos = (F.col("row") - F.col("tile_row") * Tsz) * tw + F.col("col") - F.col("tile_col") * Tsz
        grouped = (
            keyed.groupBy("tile_row", "tile_col")
            .agg(F.collect_list(F.struct(pos.alias("pos"), "value")).alias("cells"))
            .select("tile_row", "tile_col", F.col("cells.pos").alias("pos"), F.col("cells.value").alias("value"))
        )
        rf = RasterFrame(grouped, meta, raster_id).map_tiles(_scatter, "pos", "value")
        if not dense:
            return rf
        base = RasterFrame.full(cells.sparkSession, meta, np.nan, raster_id=raster_id)
        merged = (
            base.df.alias("b")
            .join(rf.df.alias("t"), ["tile_row", "tile_col"], "left")
            .select(
                F.col("b.raster_id").alias("raster_id"),
                "tile_row",
                "tile_col",
                F.col("b.cell_id").alias("cell_id"),
                F.coalesce(F.col("t.values"), F.col("b.values")).alias("values"),
            )
        )
        return RasterFrame(merged, meta, raster_id)

    # ------------------------------------------------------------------
    # deconstruction
    # ------------------------------------------------------------------
    def cells(self, *, drop_nan: bool = False) -> DataFrame:
        """Explode tiles to (row, col, value) — the raster→vector direction
        (reference ``as_geodataframe`` src/rastr/raster.py:796-817 without
        polygon structs; see vectorize.py for the full fishnet form).
        Pure JVM: posexplode + integer arithmetic, stays in whole-stage codegen."""
        Tsz = self.meta.tile_size
        _, tw = tile_dims_cols(self.meta)
        df = self.df.select(
            "tile_row",
            "tile_col",
            tw.alias("tw"),
            F.posexplode("values").alias("pos", "value"),
        ).select(
            (F.col("tile_row") * Tsz + (F.col("pos") / F.col("tw")).cast("int")).alias("row"),
            (F.col("tile_col") * Tsz + F.col("pos") % F.col("tw")).alias("col"),
            F.col("value"),
        )
        if drop_nan:
            df = df.filter(~F.isnan("value"))
        return df

    def to_numpy(self) -> np.ndarray:
        """Collect + assemble (tests/goldens only — never in pipelines)."""
        out = np.full(self.meta.shape, np.nan)
        Tsz = self.meta.tile_size
        for r in self.df.collect():
            r0, c0 = r["tile_row"] * Tsz, r["tile_col"] * Tsz
            th = min(Tsz, self.meta.height - r0)
            tw = min(Tsz, self.meta.width - c0)
            out[r0 : r0 + th, c0 : c0 + tw] = np.asarray(r["values"]).reshape(th, tw)
        return out.astype(self.meta.dtype)

    # ------------------------------------------------------------------
    # plumbing shared by operators
    # ------------------------------------------------------------------
    def with_values(self, new_values: Column) -> "RasterFrame":
        return RasterFrame(
            self.df.select("raster_id", "tile_row", "tile_col", "cell_id", new_values.alias("values")),
            self.meta,
            self.raster_id,
        )

    def map_values(self, fn: Callable[[Column], Column]) -> "RasterFrame":
        """Elementwise op as a JVM higher-order transform (whole-stage codegen)."""
        return self.with_values(F.transform("values", fn))

    def map_tiles(self, fn: Callable[..., np.ndarray], *list_cols: str) -> "RasterFrame":
        """The engine's one per-tile Python boundary: ``fn(r0, c0, th, tw,
        *slices)`` returns tile (r0, c0)'s th×tw float values, where ``slices``
        are the tile's flat, read-only slices of the named list columns.

        One ``mapInArrow`` pass: the kernel reads each Arrow batch's flat
        buffers (:func:`list_parts`) and emits its tiles through
        :func:`tile_batch`, so NaN stays NaN and ``cell_id`` is the tile key's
        Morton code. With no list column it runs over the tile keys alone."""
        meta, raster_id = self.meta, self.raster_id

        def kernel(batches):
            return _map_tile_batches(batches, fn, list_cols, meta, raster_id)

        df = self.df.select("tile_row", "tile_col", *list_cols).mapInArrow(kernel, TILE_SCHEMA)
        return RasterFrame(df, meta, raster_id)

    @staticmethod
    def generate_tiles(
        spark: SparkSession, meta: RasterMeta, fn: Callable[..., np.ndarray], *, raster_id: str
    ) -> "RasterFrame":
        """Raster of ``fn(r0, c0, th, tw)`` per tile: :meth:`map_tiles` over the
        grid's tile keys, so no input array crosses into Python."""
        return RasterFrame(_tile_keys(spark, meta), meta, raster_id).map_tiles(fn)

    def map_kernel(self, np_fn: Callable[[np.ndarray], np.ndarray]) -> "RasterFrame":
        """Elementwise op as a numpy kernel over each tile's flat values
        (:meth:`map_tiles`). dtype discipline: compute in the raster's dtype so
        float16/32 goldens match bit-for-bit (reference preserves dtype through
        all ops, tests/conftest.py:29-62)."""
        dtype = np.dtype(self.meta.dtype)
        return self.map_tiles(lambda r0, c0, th, tw, v: np_fn(v.astype(dtype)), "values")

    def check_aligned(self, other: "RasterFrame") -> None:
        """Binary-op precondition (reference: src/rastr/raster.py:191-202):
        identical meta + shape or ValueError — never implicit resampling."""
        if self.meta.crs != other.meta.crs:
            raise ValueError("CRS mismatch between rasters")
        if not self.meta.same_grid(other.meta):
            raise ValueError("raster metas/shapes are not aligned")

    def is_like(self, other: "RasterFrame") -> bool:
        return self.meta.same_grid(other.meta)

    def bounds(self) -> Bounds:
        return self.meta.bounds()

    # -- small accessor parity (reference src/rastr/raster.py:370-382, 561-576,
    # 1067-1090, 832-839) --------------------------------------------------
    @property
    def shape(self) -> tuple[int, int]:
        return self.meta.shape

    @property
    def crs(self) -> str:
        return self.meta.crs

    @property
    def cell_size(self) -> float:
        return self.meta.cell_size

    def cell_x_coords(self) -> np.ndarray:
        """Centre x per column (reference meta.get_cell_x_coords) — O(W) driver array."""
        t = self.meta.transform
        return t.a * (np.arange(self.meta.width) + 0.5) + t.c

    def cell_y_coords(self) -> np.ndarray:
        t = self.meta.transform
        return t.e * (np.arange(self.meta.height) + 0.5) + t.f

    def get_xy(self) -> tuple[np.ndarray, np.ndarray]:
        """Centre-coordinate meshgrid (reference raster.py:1077-1090). Driver-side —
        O(cells); for distributed use, as_geodataframe() carries x/y columns."""
        gx, gy = np.meshgrid(self.cell_x_coords(), self.cell_y_coords())
        return gx, gy

    def bbox(self):
        """Bounding box as a Geometry polygon (reference raster.py:561-576)."""
        from .geometry import Geometry

        b = self.meta.bounds()
        return Geometry.box(b.xmin, b.ymin, b.xmax, b.ymax)

    def copy(self) -> "RasterFrame":
        return RasterFrame(self.df, self.meta, self.raster_id)

    def __repr__(self) -> str:  # noqa: D105
        return (
            f"RasterFrame(raster_id={self.raster_id!r}, shape={self.meta.shape}, "
            f"cell_size={self.meta.cell_size}, crs={self.meta.crs!r}, "
            f"tile_size={self.meta.tile_size})"
        )

    def set_crs(self, crs: str, *, allow_override: bool = False) -> "RasterFrame":
        """Metadata-only CRS change, no reprojection (reference: src/rastr/raster.py:327-367)."""
        if self.meta.crs and not allow_override and self.meta.crs != crs:
            raise ValueError("raster already has a CRS; pass allow_override=True")
        return RasterFrame(self.df, self.meta.with_(crs=crs), self.raster_id)


def _scatter(r0: int, c0: int, th: int, tw: int, pos: np.ndarray, value: np.ndarray) -> np.ndarray:
    """``from_cells``' tile kernel: a tile's (position, value) cells into its
    row-major array, NaN where absent."""
    buf = np.full(th * tw, np.nan)
    buf[pos] = value
    return buf


def _morton_col(tile_row: Column, tile_col: Column) -> Column:
    """Morton interleave as a JVM expression — 26 bits per axis, matching
    grid.morton_encode EXACTLY (grid.MAX_RES): the bbox→cell_id range predicates
    (grid.morton_range_set, used for file-level partition pruning) are computed
    with the numpy encoder, so the stored codes must agree at every index. A
    narrower JVM width would silently alias tile indices ≥ 2^width into low
    codes outside the computed ranges and DROP tiles from pruned reads.
    Kept JVM-side so `full`/generators never leave codegen."""
    code = F.lit(0).cast("long")
    for i in range(26):
        bit = F.lit(1 << i).cast("long")
        code = (
            code
            + F.shiftleft((tile_col.cast("long").bitwiseAND(bit)), i)
            + F.shiftleft((tile_row.cast("long").bitwiseAND(bit)), i + 1)
        )
    return code
