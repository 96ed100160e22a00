"""Vector → raster: rasterize_gdf, rasterize_z_gdf (reference src/rastr/create.py:152-310).

Burn rules replicate ``rasterio.features.rasterize`` (GDAL all_touched=False):
- polygons: cell burned iff its CENTRE is inside (even-odd, filled by scanline
  per grid row as GDAL fills it: geometry.centre_mask)
- points: the containing cell
- linestrings: every cell the segment passes through (supercover DDA traversal)

Spark shape: the geometry table is small relative to the grid → geometries are
closure-broadcast; each tile burns its own window in one vectorized kernel pass
(bbox-pruned per geometry). Overlap validation is NOT the reference's O(n²)
shapely loop (create.py:400-427, SURVEY.md §4.1 "must NOT be ported as-is") — it
is a distributed **burn-collision check**: geometries are burned to (cell, geom_id)
pairs and a groupBy(cell) detects interior co-occupancy, i.e. a bucketed spatial
self-join at raster resolution.
"""

from __future__ import annotations

from typing import Collection, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..geometry import Geometry, centre_mask
from ..grid import point_grid_shape
from ..meta import Affine, RasterMeta, affine_sign_for_crs
from ..tiles import RasterFrame, denull
from .interpolate import InterpolationError, interpn_kernel


class MissingColumnsError(ValueError):
    pass


class NonNumericColumnsError(ValueError):
    pass


class OverlappingGeometriesError(ValueError):
    pass


def _burn_geometry(
    geom: Geometry, meta: RasterMeta, r0: int, c0: int, th: int, tw: int
) -> np.ndarray:
    """Boolean burn mask of one geometry over a tile window (GDAL rules)."""
    if geom.kind in ("polygon", "multipolygon"):
        return centre_mask(geom, meta, [r0], [c0], th, tw)[0]
    t = meta.transform
    mask = np.zeros((th, tw), dtype=bool)
    if geom.kind in ("point", "multipoint"):
        rr, cc = meta.world_to_index(geom.xy[:, 0], geom.xy[:, 1])
        for r, c in zip(rr, cc):
            if r0 <= r < r0 + th and c0 <= c < c0 + tw:
                mask[r - r0, c - c0] = True
    elif geom.kind in ("linestring", "multilinestring"):
        inv = t.invert()
        for line in geom.rings():
            fx = inv.a * line[:, 0] + inv.b * line[:, 1] + inv.c
            fy = inv.d * line[:, 0] + inv.e * line[:, 1] + inv.f
            for i in range(len(line) - 1):
                for r, c in _supercover(fy[i], fx[i], fy[i + 1], fx[i + 1]):
                    if r0 <= r < r0 + th and c0 <= c < c0 + tw:
                        mask[r - r0, c - c0] = True
    else:
        raise NotImplementedError(f"Unsupported geometry type: {geom.kind}")
    return mask


def _supercover(r0f: float, c0f: float, r1f: float, c1f: float):
    """All integer cells a segment passes through (DDA grid traversal)."""
    cells = []
    r, c = int(np.floor(r0f)), int(np.floor(c0f))
    r_end, c_end = int(np.floor(r1f)), int(np.floor(c1f))
    dr = r1f - r0f
    dc = c1f - c0f
    step_r = 1 if dr > 0 else -1
    step_c = 1 if dc > 0 else -1
    t_max_r = np.inf if dr == 0 else ((r + (step_r > 0)) - r0f) / dr
    t_max_c = np.inf if dc == 0 else ((c + (step_c > 0)) - c0f) / dc
    t_delta_r = np.inf if dr == 0 else abs(1.0 / dr)
    t_delta_c = np.inf if dc == 0 else abs(1.0 / dc)
    cells.append((r, c))
    guard = 0
    while (r != r_end or c != c_end) and guard < 1_000_000:
        guard += 1
        if t_max_r < t_max_c:
            r += step_r
            t_max_r += t_delta_r
        else:
            c += step_c
            t_max_c += t_delta_c
        cells.append((r, c))
    return cells


def rasterize_geometries(
    spark: SparkSession,
    geoms: Sequence[Geometry],
    values: Sequence[float],
    meta: RasterMeta,
    *,
    raster_id: str = "rz",
    agg: str = "last",
) -> RasterFrame:
    """Burn (geometry, value) pairs into a raster under ``meta``.

    agg='last': later geometries overwrite (rasterio default painter's order);
    agg='mean'/'min'/'max': NaN-ignoring aggregation across overlapping burns
    (rasterize_z path). One kernel pass per tile; geometries bbox-pruned per tile.
    """
    rows = [(g.to_row(), float(v), g.bbox()) for g, v in zip(geoms, values)]
    Tsz = meta.tile_size
    H, W = meta.height, meta.width
    t = meta.transform
    base = RasterFrame.full(spark, meta, np.nan, raster_id=raster_id)

    @F.pandas_udf("array<double>")
    def _burn(values_col: pd.Series, trs: pd.Series, tcs: pd.Series) -> pd.Series:
        gs = [(Geometry.from_row(gr), v, bb) for gr, v, bb in rows]
        out = []
        for v0, tr, tc in zip(values_col, trs, tcs):
            r0, c0 = int(tr) * Tsz, int(tc) * Tsz
            th, tw = min(Tsz, H - r0), min(Tsz, W - c0)
            # tile world bbox for pruning
            xs, ys = [], []
            for cc, rr in ((c0, r0), (c0 + tw, r0), (c0, r0 + th), (c0 + tw, r0 + th)):
                xs.append(t.a * cc + t.b * rr + t.c)
                ys.append(t.d * cc + t.e * rr + t.f)
            txmin, txmax, tymin, tymax = min(xs), max(xs), min(ys), max(ys)
            if agg == "last":
                acc = np.full((th, tw), np.nan)
                for geom, val, (bxmin, bymin, bxmax, bymax) in gs:
                    if bxmin > txmax or bxmax < txmin or bymin > tymax or bymax < tymin:
                        continue
                    m = _burn_geometry(geom, meta, r0, c0, th, tw)
                    acc[m] = val
            else:
                cnt = np.zeros((th, tw))
                s = np.zeros((th, tw))
                mn = np.full((th, tw), np.inf)
                mx = np.full((th, tw), -np.inf)
                for geom, val, (bxmin, bymin, bxmax, bymax) in gs:
                    if bxmin > txmax or bxmax < txmin or bymin > tymax or bymax < tymin:
                        continue
                    m = _burn_geometry(geom, meta, r0, c0, th, tw)
                    cnt[m] += 1
                    s[m] += val
                    mn[m] = np.minimum(mn[m], val)
                    mx[m] = np.maximum(mx[m], val)
                with np.errstate(invalid="ignore", divide="ignore"):
                    if agg == "mean":
                        acc = np.where(cnt > 0, s / cnt, np.nan)
                    elif agg == "min":
                        acc = np.where(cnt > 0, mn, np.nan)
                    elif agg == "max":
                        acc = np.where(cnt > 0, mx, np.nan)
                    else:
                        raise ValueError(f"unknown agg {agg}")
            out.append(acc.ravel())
        return pd.Series(out)

    df = base.df.select(
        "raster_id",
        "tile_row",
        "tile_col",
        "cell_id",
        denull(_burn(F.col("values"), F.col("tile_row"), F.col("tile_col"))).alias("values"),
    )
    return RasterFrame(df, meta, raster_id)


def validate_no_overlapping_geometries(
    spark: SparkSession, geoms: Sequence[Geometry], meta: RasterMeta
) -> None:
    """Distributed burn-collision overlap check (replaces reference's O(n²) loop,
    create.py:400-427): polygons whose INTERIOR burns share a cell → overlap.
    Touching-only geometries never co-burn (centre-coverage is interior-only)."""
    polys = [(i, g) for i, g in enumerate(geoms) if g.kind in ("polygon", "multipolygon")]
    if len(polys) < 2:
        return
    rows = [(i, g.to_row(), g.bbox()) for i, g in polys]
    Tsz = meta.tile_size
    H, W = meta.height, meta.width

    t = meta.transform

    def emit(pdf_iter):
        gs = [(i, Geometry.from_row(gr), bb) for i, gr, bb in rows]
        for pdf in pdf_iter:
            recs = []
            for tr, tc in zip(pdf["tile_row"], pdf["tile_col"]):
                r0, c0 = int(tr) * Tsz, int(tc) * Tsz
                th, tw = min(Tsz, H - r0), min(Tsz, W - c0)
                # tile world bbox: skip geometries that cannot touch this tile
                # (same pruning as the burn kernel above — without it every tile
                # burns every geometry: O(n_tiles × n_geoms × T²))
                xs, ys = [], []
                for cc, rr in ((c0, r0), (c0 + tw, r0), (c0, r0 + th), (c0 + tw, r0 + th)):
                    xs.append(t.a * cc + t.b * rr + t.c)
                    ys.append(t.d * cc + t.e * rr + t.f)
                txmin, txmax, tymin, tymax = min(xs), max(xs), min(ys), max(ys)
                for i, geom, (bxmin, bymin, bxmax, bymax) in gs:
                    if bxmin > txmax or bxmax < txmin or bymin > tymax or bymax < tymin:
                        continue
                    m = _burn_geometry(geom, meta, r0, c0, th, tw)
                    rr, cc = np.nonzero(m)
                    for a, b in zip(rr, cc):
                        recs.append((int(r0 + a), int(c0 + b), i))
            yield pd.DataFrame(recs, columns=["row", "col", "gid"])

    base = RasterFrame.full(spark, meta, np.nan)
    burned = base.df.select("tile_row", "tile_col").mapInPandas(
        emit, "row int, col int, gid int"
    )
    clash = (
        burned.groupBy("row", "col")
        .agg(F.countDistinct("gid").alias("n"), F.min("gid").alias("i"), F.max("gid").alias("j"))
        .filter(F.col("n") >= 2)
        .limit(1)
        .collect()
    )
    if clash:
        raise OverlappingGeometriesError(
            f"Overlapping geometries detected at indices {clash[0]['i']} and {clash[0]['j']}. "
            "Overlapping geometries can lead to data loss during rasterization."
        )


def rasterize_gdf(
    spark: SparkSession,
    gdf: pd.DataFrame,
    *,
    raster_meta: RasterMeta,
    target_cols: Collection[str],
    geometry_col: str = "geometry",
) -> list[RasterFrame]:
    """reference src/rastr/create.py:152-225. ``gdf`` is a pandas DataFrame with a
    Geometry-object column (the GeoDataFrame equivalent without geopandas)."""
    missing = [c for c in target_cols if c not in gdf.columns]
    if missing:
        raise MissingColumnsError(f"Target columns not found in GeoDataFrame: {missing}")
    non_numeric = [c for c in target_cols if not pd.api.types.is_numeric_dtype(gdf[c])]
    if non_numeric:
        raise NonNumericColumnsError(f"Target columns must contain numeric data: {non_numeric}")
    geoms = list(gdf[geometry_col])
    bxs = np.array([g.bbox() for g in geoms])
    min_x, min_y = bxs[:, 0].min(), bxs[:, 1].min()
    max_x, max_y = bxs[:, 2].max(), bxs[:, 3].max()
    cs = raster_meta.cell_size
    expanded = (min_x - cs, min_y - cs, max_x + cs, max_y + cs)
    shape = point_grid_shape(expanded, cs)
    xs, ys = affine_sign_for_crs(raster_meta.crs)
    transform = Affine.translation(expanded[0], expanded[3]) * Affine.scale(xs * cs, ys * cs)
    meta = raster_meta.with_(transform=transform, height=shape[0], width=shape[1])
    validate_no_overlapping_geometries(spark, geoms, meta)
    out = []
    for col in target_cols:
        out.append(
            rasterize_geometries(
                spark, geoms, [float(v) for v in gdf[col]], meta, raster_id=f"rz_{col}", agg="last"
            )
        )
    return out


def rasterize_z_gdf(
    spark: SparkSession,
    geoms: Sequence[Geometry],
    zs: Sequence[np.ndarray],
    *,
    cell_size: float,
    crs: str,
    agg: str = "mean",
    tile_size: int = 256,
) -> RasterFrame:
    """3-D geometries → per-geometry boundary-interpolated z surfaces → per-cell
    NaN-ignoring mean/min/max (reference src/rastr/create.py:228-310).

    ``zs[i]`` carries the z value per vertex of ``geoms[i]`` (the flat-coords
    geometry struct is 2-D; z travels alongside).
    """
    if agg not in ("mean", "min", "max"):
        raise ValueError(f"unknown agg {agg}")
    if len(geoms) == 0:
        raise ValueError("Cannot rasterize an empty GeoDataFrame.")
    for i, z in enumerate(zs):
        if z is None or len(z) == 0:
            raise ValueError(
                f"Geometry at index {i} is not 3D. Z-coordinates are required since "
                "they give the cell values during rasterization."
            )
    bxs = np.array([g.bbox() for g in geoms])
    meta = RasterMeta.infer(
        np.array([bxs[:, 0].min(), bxs[:, 2].max()]),
        np.array([bxs[:, 1].min(), bxs[:, 3].max()]),
        crs=crs,
        cell_size=cell_size,
    ).with_(tile_size=tile_size)
    tri_tables = []
    for g, z in zip(geoms, zs):
        coords = g.xy
        tri_tables.append((coords.tolist(), np.asarray(z, dtype=np.float64).tolist()))
    Tsz = meta.tile_size
    H, W = meta.height, meta.width
    t = meta.transform
    base = RasterFrame.full(spark, meta, np.nan, raster_id="rz_z")

    @F.pandas_udf("array<double>")
    def _interp(values_col: pd.Series, trs: pd.Series, tcs: pd.Series) -> pd.Series:
        out = []
        for v0, tr, tc in zip(values_col, trs, tcs):
            r0, c0 = int(tr) * Tsz, int(tc) * Tsz
            th, tw = min(Tsz, H - r0), min(Tsz, W - c0)
            rows = np.arange(r0, r0 + th, dtype=np.float64)
            cols = np.arange(c0, c0 + tw, dtype=np.float64)
            cg, rg = np.meshgrid(cols, rows)
            px = t.a * (cg.ravel() + 0.5) + t.b * (rg.ravel() + 0.5) + t.c
            py = t.d * (cg.ravel() + 0.5) + t.e * (rg.ravel() + 0.5) + t.f
            cnt = np.zeros(px.shape)
            s = np.zeros(px.shape)
            mn = np.full(px.shape, np.inf)
            mx = np.full(px.shape, -np.inf)
            for coords, zvals in tri_tables:
                pts = np.asarray(coords)
                try:
                    zi = interpn_kernel(pts, np.asarray(zvals), xi=np.column_stack((px, py)))
                except InterpolationError:
                    zi = np.full(px.shape, np.nan)
                ok = ~np.isnan(zi)
                cnt[ok] += 1
                s[ok] += zi[ok]
                mn[ok] = np.minimum(mn[ok], zi[ok])
                mx[ok] = np.maximum(mx[ok], zi[ok])
            with np.errstate(invalid="ignore", divide="ignore"):
                if agg == "mean":
                    acc = np.where(cnt > 0, s / cnt, np.nan)
                elif agg == "min":
                    acc = np.where(cnt > 0, mn, np.nan)
                else:
                    acc = np.where(cnt > 0, mx, np.nan)
            out.append(acc)
        return pd.Series(out)

    df = base.df.select(
        "raster_id",
        "tile_row",
        "tile_col",
        "cell_id",
        denull(_interp(F.col("values"), F.col("tile_row"), F.col("tile_col"))).alias("values"),
    )
    return RasterFrame(df, meta, "rz_z")
