"""Interpolation constructors: point cloud → raster, contours → raster.

Replicates the reference's scipy-backed pipeline (absent here) from scratch:

- ``delaunay``: Bowyer–Watson triangulation in pure numpy (SURVEY.md §7 hard-part 2)
  with collinear-degeneracy detection ≡ QhullError → InterpolationError
  (reference src/rastr/gis/interpolate.py:15-54).
- ``interpn_kernel``: Delaunay + barycentric linear interpolation ≡
  scipy LinearNDInterpolator, NaN outside the convex hull.
- ``raster_from_point_cloud`` (reference src/rastr/create.py:430-480): validate →
  infer meta → interpolate cell centres. Spark shape: points are tiny relative to
  the grid, so triangulation happens ONCE on the driver and the triangle table is
  closure-broadcast into a per-tile evaluation kernel over a generated tile grid —
  the grid never materializes on the driver.
- ``raster_from_contours`` (reference src/rastr/create.py:540-628): segmentize to
  cell/2 → coincident-point groupBy-mean → point-cloud path → snap values back to
  exact contour levels with np.isclose (anti-speckle, create.py:624-627).
"""

from __future__ import annotations

from typing import Collection, Sequence

import numpy as np
from pyspark.sql import SparkSession

from ..geometry import Geometry, segmentize_line
from ..meta import RasterMeta, infer_cell_size
from ..tiles import RasterFrame


class InterpolationError(ValueError):
    """Degenerate interpolation input (reference gis/interpolate.py:11-12)."""


# ---------------------------------------------------------------------------
# Delaunay: Bowyer–Watson
# ---------------------------------------------------------------------------

def delaunay(points: np.ndarray) -> np.ndarray:
    """Triangulate 2-D points; returns (n_tri, 3) vertex indices.

    Bowyer–Watson with a super-triangle; raises InterpolationError when all
    points are collinear (degenerate hull ≡ QhullError).
    """
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n < 3:
        raise InterpolationError("need at least 3 points to triangulate")
    # collinearity check: max cross product magnitude ~ 0
    p0 = pts[0]
    d = pts - p0
    cross = d[:, 0][:, None] * d[:, 1][None, :] - d[:, 1][:, None] * d[:, 0][None, :]
    span = max(np.ptp(pts[:, 0]), np.ptp(pts[:, 1]), 1.0)
    if np.abs(cross).max() <= 1e-12 * span * span:
        raise InterpolationError(
            "Failed to interpolate. This may be due to insufficient or degenerate "
            "input points. Ensure that the (x, y) points are not all collinear "
            "(i.e. that the convex hull is non-degenerate)."
        )
    # Super-triangle with SYMBOLIC incircle rules: a finite super-triangle breaks
    # near the hull (an obtuse hull triangle's circumcircle can contain any finite
    # super vertex, suppressing that triangle → holes). Super vertices are treated
    # as points at infinity: incircle tests involving them degenerate to the
    # half-plane limits below, which IS the exact Delaunay + hull wiring.
    cx, cy = pts[:, 0].mean(), pts[:, 1].mean()
    r = max(np.abs(pts[:, 0] - cx).max(), np.abs(pts[:, 1] - cy).max()) * 16 + 1.0
    sup = np.array([[cx - 3 * r, cy - r], [cx + 3 * r, cy - r], [cx, cy + 3 * r]])
    all_pts = np.vstack([pts, sup])
    si = [n, n + 1, n + 2]
    tris: list[tuple[int, int, int]] = [tuple(si)]

    def _orient(a, b, c) -> float:
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    def circumcircle_contains(tri, p) -> bool:
        sup_v = [v for v in tri if v >= n]
        real_v = [v for v in tri if v < n]
        if len(sup_v) == 3:
            return True  # initial triangle: contains everything
        if len(sup_v) == 2:
            # circle(a, ∞1, ∞2) → half-plane beyond the line through a parallel
            # to ∞1∞2, on the super side
            a = all_pts[real_v[0]]
            s1, s2 = all_pts[sup_v[0]], all_pts[sup_v[1]]
            d = s2 - s1
            side_p = d[0] * (p[1] - a[1]) - d[1] * (p[0] - a[0])
            side_s = d[0] * (s1[1] - a[1]) - d[1] * (s1[0] - a[0])
            return side_p * side_s > 0
        if len(sup_v) == 1:
            # circle(a, b, ∞) → open half-plane on the super side of line ab
            a, b = all_pts[real_v[0]], all_pts[real_v[1]]
            s = all_pts[sup_v[0]]
            return _orient(a, b, p) * _orient(a, b, s) > 0
        a, b, c = all_pts[tri[0]], all_pts[tri[1]], all_pts[tri[2]]
        ax, ay = a - p
        bx, by = b - p
        cx_, cy_ = c - p
        det = (
            (ax * ax + ay * ay) * (bx * cy_ - cx_ * by)
            - (bx * bx + by * by) * (ax * cy_ - cx_ * ay)
            + (cx_ * cx_ + cy_ * cy_) * (ax * by - bx * ay)
        )
        return det * np.sign(_orient(a, b, c)) > 0

    for pi in range(n):
        p = all_pts[pi]
        bad = [t for t in tris if circumcircle_contains(t, p)]
        # boundary of the cavity: edges appearing exactly once among bad triangles
        edge_count: dict[tuple[int, int], int] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                edge_count[k] = edge_count.get(k, 0) + 1
        boundary = [e for e, c in edge_count.items() if c == 1]
        tris = [t for t in tris if t not in bad]
        for e in boundary:
            tris.append((e[0], e[1], pi))
    out = [t for t in tris if max(t) < n]
    if not out:
        raise InterpolationError("triangulation degenerate")
    return np.array(out, dtype=np.int64)


def barycentric_interpolate(
    tri_pts: np.ndarray, tri_vals: np.ndarray, qx: np.ndarray, qy: np.ndarray
) -> np.ndarray:
    """Linear interpolation at query points given triangles; NaN outside hull.

    tri_pts: (n_tri, 3, 2), tri_vals: (n_tri, 3). Vectorized per triangle over
    bbox-filtered queries.
    """
    out = np.full(qx.shape, np.nan)
    assigned = np.zeros(qx.shape, dtype=bool)
    eps = 1e-12
    for k in range(len(tri_pts)):
        if assigned.all():
            break
        (x1, y1), (x2, y2), (x3, y3) = tri_pts[k]
        xmin, xmax = min(x1, x2, x3), max(x1, x2, x3)
        ymin, ymax = min(y1, y2, y3), max(y1, y2, y3)
        m = (
            ~assigned
            & (qx >= xmin - eps)
            & (qx <= xmax + eps)
            & (qy >= ymin - eps)
            & (qy <= ymax + eps)
        )
        if not m.any():
            continue
        det = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
        if abs(det) < 1e-300:
            continue
        l1 = ((y2 - y3) * (qx[m] - x3) + (x3 - x2) * (qy[m] - y3)) / det
        l2 = ((y3 - y1) * (qx[m] - x3) + (x1 - x3) * (qy[m] - y3)) / det
        l3 = 1.0 - l1 - l2
        tol = 1e-10
        inside = (l1 >= -tol) & (l2 >= -tol) & (l3 >= -tol)
        vals = l1 * tri_vals[k][0] + l2 * tri_vals[k][1] + l3 * tri_vals[k][2]
        idx = np.nonzero(m)
        sel = tuple(a[inside] for a in idx)
        out[sel] = vals[inside]
        assigned[sel] = True
    return out


def interpn_kernel(
    points: np.ndarray, values: np.ndarray, *, xi: np.ndarray, kernel=None
) -> np.ndarray:
    """scipy LinearNDInterpolator-equivalent (reference gis/interpolate.py:15-54)."""
    points = np.asarray(points, dtype=np.float64)
    values = np.asarray(values, dtype=np.float64)
    xi = np.asarray(xi, dtype=np.float64)
    if kernel is not None:
        xi = kernel(xi)
        points = kernel(points)
    tris = delaunay(points)
    tri_pts = points[tris]
    tri_vals = values[tris]
    return barycentric_interpolate(tri_pts, tri_vals, xi[:, 0], xi[:, 1])


# ---------------------------------------------------------------------------
# point cloud → raster
# ---------------------------------------------------------------------------

def _validate_xyz(x, y, z):
    """reference src/rastr/create.py:483-523 semantics."""
    import warnings

    x = np.asarray(x, dtype=np.float64).ravel()
    y = np.asarray(y, dtype=np.float64).ravel()
    z = np.asarray(z).ravel()
    if len(x) != len(y) or len(x) != len(z):
        raise ValueError("Length of x, y, and z must be equal.")
    finite = np.isfinite(x) & np.isfinite(y)
    if (~finite).any():
        warnings.warn(
            "Some (x,y) points are NaN-valued or non-finite. These will be ignored.",
            stacklevel=2,
        )
        x, y, z = x[finite], y[finite], z[finite]
    if len(x) < 3:
        raise ValueError(
            "At least three valid (x, y, z) points are required to triangulate a surface."
        )
    xyz = np.column_stack((x, y, z.astype(np.float64)))
    uniq, first_idx = np.unique(xyz, axis=0, return_index=True)
    if len(uniq) < len(xyz):
        x, y, z = x[first_idx], y[first_idx], z[first_idx]
    xy = np.column_stack((x, y))
    if len(xy) != len(np.unique(xy, axis=0)):
        raise ValueError("Duplicate (x, y) points found. Each (x, y) point must be unique.")
    return x, y, z


def raster_from_point_cloud(
    spark: SparkSession,
    x,
    y,
    z,
    *,
    crs: str,
    cell_size: float | None = None,
    tile_size: int = 256,
    raster_id: str = "pc",
) -> RasterFrame:
    """Scattered (x, y, z) → Delaunay-linear interpolated raster
    (reference src/rastr/create.py:430-480).

    Triangulation is driver-side (points ≪ cells); evaluation is a distributed
    per-tile kernel over a generated full grid — scales with raster size, not with
    a collect of cells.
    """
    x, y, z = _validate_xyz(x, y, z)
    z_in = np.asarray(z)
    meta = RasterMeta.infer(x, y, crs=crs, cell_size=cell_size).with_(tile_size=tile_size)
    if z_in.dtype in (np.float16, np.float32, np.float64):
        meta = meta.with_(dtype=z_in.dtype.name)
    pts = np.column_stack((x, y))
    tris = delaunay(pts)
    tri_pts = pts[tris]
    tri_vals = np.asarray(z, dtype=np.float64)[tris]

    def evaluate(r0, c0, th, tw):
        px, py = meta.cell_centres(*np.mgrid[r0 : r0 + th, c0 : c0 + tw].reshape(2, -1))
        return barycentric_interpolate(tri_pts, tri_vals, px, py)

    return RasterFrame.generate_tiles(spark, meta, evaluate, raster_id=raster_id)


# ---------------------------------------------------------------------------
# contours → raster
# ---------------------------------------------------------------------------

def _extract_coords(geom: Geometry) -> np.ndarray:
    """All boundary/vertex coords (reference src/rastr/create.py:643-673)."""
    return geom.xy


def raster_from_contours(
    spark: SparkSession,
    values: Collection[float],
    geometry: Sequence[Geometry],
    *,
    crs: str,
    cell_size: float | None = None,
    tile_size: int = 256,
) -> RasterFrame:
    """Contour lines + levels → interpolated surface
    (reference src/rastr/create.py:540-628)."""
    values = list(values)
    if len(values) != len(geometry):
        raise ValueError("Values and geometry must have the same length.")
    distinct = sorted(set(float(v) for v in values))
    if len(distinct) < 2:
        raise ValueError("At least two distinct contour values are required.")
    if cell_size is None:
        all_xy = np.vstack([_extract_coords(g) for g in geometry])
        cell_size = infer_cell_size(all_xy[:, 0], all_xy[:, 1])
    coords = []
    zs = []
    for v, g in zip(values, geometry):
        for ring_or_line in _rings_or_lines(g):
            seg = segmentize_line(ring_or_line, cell_size / 2)
            coords.append(seg)
            zs.append(np.full(len(seg), float(v)))
    xy = np.vstack(coords)
    z = np.concatenate(zs)
    # coincident-point groupby-mean (create.py:615-618)
    pts = np.column_stack((xy[:, 0], xy[:, 1]))
    uniq, inv = np.unique(pts, axis=0, return_inverse=True)
    zm = np.bincount(inv, weights=z) / np.bincount(inv)
    rf = raster_from_point_cloud(
        spark, uniq[:, 0], uniq[:, 1], zm, crs=crs, cell_size=cell_size, tile_size=tile_size
    )
    # snap to exact contour levels (anti-speckle, create.py:624-627)
    levels = distinct

    def snap(a: np.ndarray) -> np.ndarray:
        out = a.copy()
        for v in levels:
            out[np.isclose(out, v)] = v
        return out

    return rf.map_kernel(snap)


def _rings_or_lines(g: Geometry):
    """Vertex sequences: rings for polygons, lines for linestrings, singletons
    for points."""
    if g.kind in ("polygon", "multipolygon", "linestring", "multilinestring"):
        yield from g.rings()
    else:
        yield g.xy


# ---------------------------------------------------------------------------
# distance raster (reference src/rastr/create.py:59-131)
# ---------------------------------------------------------------------------

def raster_distance_from_polygon(
    spark: SparkSession,
    polygon: Geometry,
    *,
    raster_meta: RasterMeta,
    extent_polygon: Geometry | None = None,
    snap_raster: RasterFrame | None = None,
    raster_id: str = "dist",
) -> RasterFrame:
    """Per-cell distance to the polygon; NaN inside the polygon or outside the
    extent polygon. The distance is a bounded kNN(k=1) join from cell centres to
    the broadcast polygon's boundary segments (SURVEY.md §2.3)."""
    from ..geometry import centre_mask, distance_to_segments, segments_of

    if _crs_is_geographic(raster_meta.crs):
        raise ValueError("The provided CRS is geographic (lat/lon). Please use a projected CRS.")
    if extent_polygon is None and snap_raster is None:
        raise ValueError("Either 'extent_polygon' or 'snap_raster' must be provided. ")
    if extent_polygon is not None and snap_raster is not None:
        raise ValueError("Only one of 'extent_polygon' or 'snap_raster' can be provided. ")

    if snap_raster is not None:
        meta = snap_raster.meta
        extent_geom = None  # bbox extent: whole grid, minus polygon
    else:
        bx = extent_polygon.bbox()
        from ..grid import point_grid_shape

        h, w = point_grid_shape(bx, raster_meta.cell_size)
        from ..meta import Affine

        t = Affine(raster_meta.cell_size, 0, bx[0], 0, -raster_meta.cell_size, bx[3])
        meta = raster_meta.with_(transform=t, height=h, width=w)
        extent_geom = extent_polygon

    def dist(r0, c0, th, tw):
        px, py = meta.cell_centres(*np.mgrid[r0 : r0 + th, c0 : c0 + tw].reshape(2, -1))
        # mask: inside extent (if given) and NOT inside polygon; the masked
        # cells lie outside, where the distance is the boundary's
        mask = ~centre_mask(polygon, meta, [r0], [c0], th, tw).ravel()
        if extent_geom is not None:
            mask &= centre_mask(extent_geom, meta, [r0], [c0], th, tw).ravel()
        return np.where(mask, distance_to_segments(px, py, *segments_of(polygon)), np.nan)

    return RasterFrame.generate_tiles(spark, meta, dist, raster_id=raster_id)


def _crs_is_geographic(crs: str) -> bool:
    """Metadata-only heuristic (no pyproj): EPSG:4326/4269/4267 and lat/lon
    authority codes are geographic."""
    code = crs.upper().replace("EPSG:", "")
    return code in {"4326", "4269", "4267", "4258", "4283"}
