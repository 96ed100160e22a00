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
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
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


def denull(values: Column) -> Column:
    """NULL→NaN inside a values array.

    Spark's Arrow serializer converts NaN to SQL NULL when a pandas UDF returns
    float arrays (pandas from_pandas semantics). The engine's contract is the
    reference's: NaN is the nodata sentinel INSIDE arrays, SQL NULL never appears
    (SURVEY.md §1.2) — so every pandas-UDF output boundary re-normalizes with
    this transform. It is a higher-order function, evaluated interpretively per
    cell, so kernels that can emit Arrow directly (:func:`tile_batch` from
    ``mapInArrow``/``applyInArrow``) keep NaN as NaN and skip it.
    """
    return F.transform(values, lambda v: F.coalesce(v, F.lit(float("nan"))))


def list_parts(col) -> tuple[np.ndarray, np.ndarray]:
    """(flat float64 values, offsets) of an Arrow ``list<double>`` column, so
    row i is ``flat[offs[i]:offs[i + 1]]``. Zero-copy for one chunk without
    NULL elements; a NULL element reads as NaN."""
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


def _map_tiles(s: pd.Series, np_fn: Callable[[np.ndarray], np.ndarray], dtype) -> pd.Series:
    """``RasterFrame.map_kernel``'s kernel body: ``np_fn`` on each tile's values
    in ``dtype``. Module-level, so unpickling the kernel that calls it imports
    the package and installs :mod:`rastr_spark.zipcache` on the worker."""
    return s.map(lambda v: np_fn(np.asarray(v, dtype=dtype)).astype(np.float64))


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
        ntr, ntc = meta.n_tile_rows, meta.n_tile_cols
        Tsz = meta.tile_size
        df = (
            spark.range(ntr * ntc)
            .select(
                F.lit(raster_id).alias("raster_id"),
                (F.col("id") / ntc).cast("int").alias("tile_row"),
                (F.col("id") % ntc).cast("int").alias("tile_col"),
            )
        )
        th, tw = tile_dims_cols(meta.with_(tile_size=Tsz))
        df = df.select(
            "raster_id",
            "tile_row",
            "tile_col",
            _morton_col(F.col("tile_row"), F.col("tile_col")).alias("cell_id"),
            F.array_repeat(F.lit(float(fill_value)).cast("double"), th * tw).alias("values"),
        )
        return RasterFrame(df, meta, raster_id)

    def full_like(self, fill_value: float) -> "RasterFrame":
        """reference ``Raster.full_like`` src/rastr/raster.py:854-867."""
        df = self.df.select(
            "raster_id",
            "tile_row",
            "tile_col",
            "cell_id",
            F.transform("values", lambda _: F.lit(float(fill_value)).cast("double")).alias("values"),
        )
        return RasterFrame(df, self.meta, self.raster_id)

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

        One shuffle: groupBy tile key → applyInPandas packs each tile's cells into
        its row-major array, NaN where absent. ``dense=True`` unions in empty tiles
        so the raster covers the full grid (all-NaN tiles present); ``dense=False``
        keeps only touched tiles (sparse representation, SURVEY.md §1.2).
        """
        Tsz = meta.tile_size
        H, W = meta.height, meta.width
        keyed = cells.select(
            (F.col(row_col).cast("int") / Tsz).cast("int").alias("tile_row"),
            (F.col(col_col).cast("int") / Tsz).cast("int").alias("tile_col"),
            F.col(row_col).cast("int").alias("row"),
            F.col(col_col).cast("int").alias("col"),
            F.col(value_col).cast("double").alias("value"),
        )

        def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            tr, tc = int(key[0]), int(key[1])
            r0, c0 = tr * Tsz, tc * Tsz
            th, tw = min(Tsz, H - r0), min(Tsz, W - c0)
            buf = np.full(th * tw, np.nan)
            idx = (pdf["row"].to_numpy() - r0) * tw + (pdf["col"].to_numpy() - c0)
            buf[idx] = pdf["value"].to_numpy()
            return pd.DataFrame(
                {
                    "raster_id": [raster_id],
                    "tile_row": [tr],
                    "tile_col": [tc],
                    "cell_id": [int(morton_encode(np.array([tr]), np.array([tc]))[0])],
                    "values": [buf],
                }
            )

        tiles = keyed.groupBy("tile_row", "tile_col").applyInPandas(assemble, TILE_SCHEMA)
        tiles = tiles.withColumn("values", denull(F.col("values")))
        rf = RasterFrame(tiles, meta, raster_id)
        if dense:
            base = RasterFrame.full(tiles.sparkSession, meta, np.nan, raster_id=raster_id)
            merged = (
                base.df.alias("b")
                .join(tiles.alias("t"), ["tile_row", "tile_col"], "left")
                .select(
                    F.col("b.raster_id").alias("raster_id"),
                    "tile_row",
                    "tile_col",
                    F.col("b.cell_id").alias("cell_id"),
                    F.coalesce(F.col("t.values"), F.col("b.values")).alias("values"),
                )
            )
            rf = RasterFrame(merged, meta, raster_id)
        return rf

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

    def map_kernel(self, np_fn: Callable[[np.ndarray], np.ndarray]) -> "RasterFrame":
        """Elementwise op as a vectorized Arrow/pandas UDF (numpy semantics).

        The kernel sees one 1-D float array per tile. dtype discipline: compute in
        the raster's dtype so float16/32 goldens match bit-for-bit (reference
        preserves dtype through all ops, tests/conftest.py:29-62)."""
        dtype = np.dtype(self.meta.dtype)

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def _k(s: pd.Series) -> pd.Series:
            return _map_tiles(s, np_fn, dtype)

        return self.with_values(denull(_k(F.col("values"))))

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
