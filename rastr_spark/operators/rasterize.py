"""Vector → raster: rasterize_gdf, rasterize_z_gdf (reference src/rastr/create.py:152-310).

Burn rules replicate ``rasterio.features.rasterize`` (GDAL all_touched=False):
- polygons: cell burned iff its CENTRE is inside (even-odd, filled by scanline
  per grid row as GDAL fills it: geometry.centre_mask)
- points: the containing cell
- linestrings: every cell the segment passes through (supercover DDA traversal)

Spark shape: the geometry table is small relative to the grid → geometries are
closure-broadcast; each tile burns its own window in one
``RasterFrame.generate_tiles`` pass over the tile keys (bbox-pruned per
geometry). Overlap validation is NOT the reference's O(n²)
shapely loop (create.py:400-427, SURVEY.md §4.1 "must NOT be ported as-is") — it
is a distributed **burn-collision check**: geometries are burned to (cell, geom_id)
pairs and a groupBy(cell) detects interior co-occupancy, i.e. a bucketed spatial
self-join at raster resolution.
"""

from __future__ import annotations

from typing import Collection, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..geometry import Geometry, centre_mask
from ..grid import point_grid_shape
from ..meta import Affine, RasterMeta, affine_sign_for_crs
from ..tiles import RasterFrame, _tile_keys
from .interpolate import InterpolationError, barycentric_interpolate, delaunay


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
    if agg not in ("last", "mean", "min", "max"):
        raise ValueError(f"unknown agg {agg}")
    pairs = [(g, float(v)) for g, v in zip(geoms, values)]
    bbs = _bboxes([g for g, _ in pairs])

    def burn(r0, c0, th, tw):
        hits = [pairs[i] for i in _tile_hits(bbs, meta, r0, c0, th, tw)]
        if agg == "last":
            acc = np.full((th, tw), np.nan)
            for geom, val in hits:
                acc[_burn_geometry(geom, meta, r0, c0, th, tw)] = val
            return acc
        cnt = np.zeros((th, tw))
        s = np.zeros((th, tw))
        mn = np.full((th, tw), np.inf)
        mx = np.full((th, tw), -np.inf)
        for geom, val in hits:
            m = _burn_geometry(geom, meta, r0, c0, th, tw)
            cnt[m] += 1
            s[m] += val
            mn[m] = np.minimum(mn[m], val)
            mx[m] = np.maximum(mx[m], val)
        with np.errstate(invalid="ignore", divide="ignore"):
            acc = {"mean": s / cnt, "min": mn, "max": mx}[agg]
        return np.where(cnt > 0, acc, np.nan)

    return RasterFrame.generate_tiles(spark, meta, burn, raster_id=raster_id)


def _bboxes(geoms: Sequence[Geometry]) -> np.ndarray:
    """(n, 4) world bboxes (xmin, ymin, xmax, ymax) of ``geoms``."""
    return np.array([g.bbox() for g in geoms], dtype=np.float64).reshape(-1, 4)


def _tile_hits(bbs: np.ndarray, meta: RasterMeta, r0: int, c0: int, th: int, tw: int) -> np.ndarray:
    """Indices of the bboxes that meet the grid window's world bbox — the
    per-tile pruning that keeps a burn from costing O(n_tiles × n_geoms × T²)."""
    xs, ys = meta.transform.forward(
        np.array([c0, c0 + tw, c0, c0 + tw], np.float64), np.array([r0, r0, r0 + th, r0 + th], np.float64)
    )
    miss = (bbs[:, 0] > xs.max()) | (bbs[:, 2] < xs.min()) | (bbs[:, 1] > ys.max()) | (bbs[:, 3] < ys.min())
    return np.flatnonzero(~miss)


def _burned_cells(batch: pa.RecordBatch, polys, bbs: np.ndarray, meta: RasterMeta) -> pa.RecordBatch:
    """(row, col, gid) of every cell each polygon burns in the batch's tiles."""
    Tsz = meta.tile_size
    rows, cols, gids = [], [], []
    for tr, tc in zip(batch.column("tile_row").to_pylist(), batch.column("tile_col").to_pylist()):
        r0, c0 = tr * Tsz, tc * Tsz
        th, tw = min(Tsz, meta.height - r0), min(Tsz, meta.width - c0)
        for k in _tile_hits(bbs, meta, r0, c0, th, tw):
            i, geom = polys[k]
            rr, cc = np.nonzero(_burn_geometry(geom, meta, r0, c0, th, tw))
            rows.append(r0 + rr)
            cols.append(c0 + cc)
            gids.append(np.full(rr.size, i))
    flat = [np.concatenate(v) if v else np.empty(0) for v in (rows, cols, gids)]
    return pa.RecordBatch.from_arrays([pa.array(v.astype(np.int32)) for v in flat], ["row", "col", "gid"])


def validate_no_overlapping_geometries(
    spark: SparkSession, geoms: Sequence[Geometry], meta: RasterMeta
) -> None:
    """Distributed burn-collision overlap check (replaces reference's O(n²) loop,
    create.py:400-427): polygons whose INTERIOR burns share a cell → overlap.
    Touching-only geometries never co-burn (centre-coverage is interior-only)."""
    polys = [(i, g) for i, g in enumerate(geoms) if g.kind in ("polygon", "multipolygon")]
    if len(polys) < 2:
        return
    bbs = _bboxes([g for _, g in polys])

    def emit(batches):
        for b in batches:
            yield _burned_cells(b, polys, bbs, meta)

    burned = _tile_keys(spark, meta).mapInArrow(emit, "row int, col int, gid int")
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
    # each geometry is triangulated once, here, as raster_from_point_cloud
    # does; a degenerate one (collinear, < 3 vertices) adds no surface
    surfaces = []
    for g, z in zip(geoms, zs):
        pts = np.asarray(g.xy, dtype=np.float64)
        try:
            tris = delaunay(pts)
        except InterpolationError:
            continue
        surfaces.append((pts[tris], np.asarray(z, dtype=np.float64)[tris]))

    def interp(r0, c0, th, tw):
        px, py = meta.cell_centres(*np.mgrid[r0 : r0 + th, c0 : c0 + tw].reshape(2, -1))
        cnt = np.zeros(px.shape)
        s = np.zeros(px.shape)
        mn = np.full(px.shape, np.inf)
        mx = np.full(px.shape, -np.inf)
        for tri_pts, tri_vals in surfaces:
            zi = barycentric_interpolate(tri_pts, tri_vals, px, py)
            ok = ~np.isnan(zi)
            cnt[ok] += 1
            s[ok] += zi[ok]
            mn[ok] = np.minimum(mn[ok], zi[ok])
            mx[ok] = np.maximum(mx[ok], zi[ok])
        with np.errstate(invalid="ignore", divide="ignore"):
            acc = {"mean": s / cnt, "min": mn, "max": mx}[agg]
        return np.where(cnt > 0, acc, np.nan)

    return RasterFrame.generate_tiles(spark, meta, interp, raster_id="rz_z")
