"""Dependency-free geometry layer (shapely is unavailable in this environment).

Geometries are flat coordinate arrays + offset arrays, the same layout Arrow/GeoArrow
uses, so they travel cheaply through Spark rows and decode to numpy with zero parsing
inside pandas UDFs:

    kind:          "point" | "multipoint" | "linestring" | "multilinestring"
                   | "polygon" | "multipolygon"
    coords:        [x0, y0, x1, y1, ...]             (all parts/rings concatenated)
    ring_offsets:  vertex-start index of each ring/line, plus terminal n_vertices
    part_offsets:  ring-start index of each part, plus terminal n_rings

The numpy kernels here re-implement the reference's GEOS/GDAL-backed predicates:

- cell-centre coverage (`centre_mask`: even-odd crossings filled by scanline, once
  per grid row) ≡ the burn rule used by ``rasterio.features.rasterize`` in
  `_polygon_indicator` (reference: src/rastr/raster.py:1727-1755) — every grid
  operator (clip, replace_polygon, rasterize, zonal partials) masks through it,
- point-in-polygon at arbitrary points (`points_in_rings`, even-odd crossing
  number per point and edge), the same rule for points off the grid,
- point-to-polygon-boundary distance ≡ ``polygon.distance(point)`` used by
  `raster_distance_from_polygon` (reference: src/rastr/create.py:59-131),
- segmentize ≡ shapely ``segmentize`` used by `raster_from_contours`
  (reference: src/rastr/create.py:598),
- Catmull-Rom smoothing (reference: src/rastr/gis/smooth.py:24-156, already pure numpy).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:
    from .meta import RasterMeta

POLY_KINDS = ("polygon", "multipolygon")
LINE_KINDS = ("linestring", "multilinestring")
POINT_KINDS = ("point", "multipoint")


@dataclass(eq=False)  # identity hash/eq — geometries are dict keys in replace_polygon
class Geometry:
    kind: str
    coords: np.ndarray  # float64, shape (2n,)
    ring_offsets: np.ndarray  # int64, shape (n_rings + 1,)
    part_offsets: np.ndarray  # int64, shape (n_parts + 1,)

    def __post_init__(self):
        self.coords = np.asarray(self.coords, dtype=np.float64).ravel()
        self.ring_offsets = np.asarray(self.ring_offsets, dtype=np.int64).ravel()
        self.part_offsets = np.asarray(self.part_offsets, dtype=np.int64).ravel()

    # -- constructors ---------------------------------------------------------
    @staticmethod
    def point(x: float, y: float) -> "Geometry":
        return Geometry("point", np.array([x, y]), np.array([0, 1]), np.array([0, 1]))

    @staticmethod
    def linestring(xy) -> "Geometry":
        xy = np.asarray(xy, dtype=np.float64)
        return Geometry("linestring", xy.ravel(), np.array([0, len(xy)]), np.array([0, 1]))

    @staticmethod
    def polygon(shell, holes=()) -> "Geometry":
        """shell/holes: sequences of (x, y). Closing vertex optional (auto-closed)."""
        rings = [np.asarray(shell, dtype=np.float64)] + [np.asarray(h, dtype=np.float64) for h in holes]
        rings = [_close_ring(r) for r in rings]
        offsets = np.cumsum([0] + [len(r) for r in rings])
        coords = np.concatenate([r.ravel() for r in rings]) if rings else np.empty(0)
        return Geometry("polygon", coords, offsets, np.array([0, len(rings)]))

    @staticmethod
    def box(xmin: float, ymin: float, xmax: float, ymax: float) -> "Geometry":
        return Geometry.polygon([(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)])

    @staticmethod
    def multipolygon(polys: list["Geometry"]) -> "Geometry":
        coords, ring_offsets, part_offsets = [], [0], [0]
        base = 0
        for p in polys:
            assert p.kind == "polygon"
            coords.append(p.coords)
            for i in range(1, len(p.ring_offsets)):
                ring_offsets.append(base + int(p.ring_offsets[i]))
            base += int(p.ring_offsets[-1])
            part_offsets.append(len(ring_offsets) - 1)
        return Geometry(
            "multipolygon",
            np.concatenate(coords) if coords else np.empty(0),
            np.array(ring_offsets),
            np.array(part_offsets),
        )

    # -- accessors ------------------------------------------------------------
    @property
    def xy(self) -> np.ndarray:
        return self.coords.reshape(-1, 2)

    def rings(self):
        xy = self.xy
        for i in range(len(self.ring_offsets) - 1):
            yield xy[self.ring_offsets[i] : self.ring_offsets[i + 1]]

    def bbox(self) -> tuple[float, float, float, float]:
        xy = self.xy
        if len(xy) == 0:
            return (np.nan,) * 4
        return (
            float(xy[:, 0].min()),
            float(xy[:, 1].min()),
            float(xy[:, 0].max()),
            float(xy[:, 1].max()),
        )

    # -- serialization (span text payloads + Spark rows) ----------------------
    def encode(self) -> str:
        """Compact text form used inside document span ``text`` payloads."""
        c = ",".join(repr(float(v)) for v in self.coords)
        r = ",".join(str(int(v)) for v in self.ring_offsets)
        p = ",".join(str(int(v)) for v in self.part_offsets)
        return f"{self.kind};{c};{r};{p}"

    @staticmethod
    def decode(s: str) -> "Geometry":
        kind, c, r, p = s.split(";")
        coords = np.array([float(v) for v in c.split(",")]) if c else np.empty(0)
        ring = np.array([int(v) for v in r.split(",")], dtype=np.int64)
        part = np.array([int(v) for v in p.split(",")], dtype=np.int64)
        return Geometry(kind, coords, ring, part)

    def to_row(self) -> dict:
        return {
            "kind": self.kind,
            "coords": [float(v) for v in self.coords],
            "ring_offsets": [int(v) for v in self.ring_offsets],
            "part_offsets": [int(v) for v in self.part_offsets],
        }

    @staticmethod
    def from_row(row) -> "Geometry":
        return Geometry(row["kind"], np.array(row["coords"]), np.array(row["ring_offsets"]), np.array(row["part_offsets"]))


def _close_ring(r: np.ndarray) -> np.ndarray:
    if len(r) >= 1 and not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    return r


def wkb_to_geometry(buf: bytes) -> Geometry:
    """Minimal WKB decoder (Point/LineString/Polygon + Multi variants, 2-D/2.5-D) —
    enough to ingest GeoParquet geometry columns without shapely/geopandas."""
    import struct

    def parse(b, off):
        bo = "<" if b[off] == 1 else ">"
        (tp,) = struct.unpack_from(bo + "I", b, off + 1)
        off += 5
        has_z = bool(tp & 0x80000000) or (1000 <= (tp & 0xFFFF) < 2000)
        base = tp & 0xFF
        dim = 3 if has_z else 2

        def read_pts(o, n):
            vals = struct.unpack_from(bo + "d" * (n * dim), b, o)
            xy = np.array(vals, dtype=np.float64).reshape(n, dim)[:, :2]
            return xy, o + 8 * n * dim

        if base == 1:  # point
            xy, off = read_pts(off, 1)
            return Geometry.point(xy[0, 0], xy[0, 1]), off
        if base == 2:  # linestring
            (n,) = struct.unpack_from(bo + "I", b, off)
            xy, off = read_pts(off + 4, n)
            return Geometry.linestring(xy), off
        if base == 3:  # polygon
            (nr,) = struct.unpack_from(bo + "I", b, off)
            off += 4
            rings = []
            for _ in range(nr):
                (n,) = struct.unpack_from(bo + "I", b, off)
                xy, off = read_pts(off + 4, n)
                rings.append(xy)
            return Geometry.polygon(rings[0], rings[1:]), off
        if base in (4, 5, 6):  # multi point/line/polygon
            (np_,) = struct.unpack_from(bo + "I", b, off)
            off += 4
            parts = []
            for _ in range(np_):
                g, off = parse(b, off)
                parts.append(g)
            if base == 6:
                return Geometry.multipolygon(parts), off
            kind = "multipoint" if base == 4 else "multilinestring"
            offsets = np.cumsum([0] + [len(p.xy) for p in parts])
            coords = np.concatenate([p.coords for p in parts])
            return Geometry(kind, coords, offsets, np.array([0, len(parts)])), off
        raise NotImplementedError(f"WKB geometry type {tp} not supported")

    g, _ = parse(bytes(buf), 0)
    return g


# ---------------------------------------------------------------------------
# Point-in-polygon: vectorized even-odd crossing number.
# ---------------------------------------------------------------------------

def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd point-in-polygon over a ring set (holes flip parity naturally),
    for arbitrary points: one crossing test per (point, edge).

    Half-open edge rule ``(y0 <= py) != (y1 <= py)`` — deterministic on
    horizontal-edge/vertex grazing, matching scanline rasterization behaviour
    (the cell-centre coverage rule of reference src/rastr/raster.py:1727-1755).
    Grid cell centres take :func:`centre_mask`, which is bit-identical to
    this and does the crossing work once per grid row.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        if len(ring) < 4:  # degenerate ring (needs 3 distinct + closure)
            continue
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        # broadcast points against edges in manageable blocks
        crosses = (y0[None, :] <= py[:, None]) != (y1[None, :] <= py[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (py[:, None] - y0[None, :]) / (y1[None, :] - y0[None, :])
            xin = x0[None, :] + t * (x1[None, :] - x0[None, :])
        hits = crosses & (px[:, None] < xin)
        inside ^= (hits.sum(axis=1) % 2).astype(bool)
    return inside


def points_in_geometry(px: np.ndarray, py: np.ndarray, geom: Geometry) -> np.ndarray:
    """PIP for polygon/multipolygon (even-odd across all rings of all parts)."""
    if geom.kind not in POLY_KINDS:
        raise ValueError(f"points_in_geometry requires a polygonal geometry, got {geom.kind}")
    return points_in_rings(px, py, list(geom.rings()))


def centre_mask(geom: Geometry, meta: RasterMeta, r0s, c0s, th: int, tw: int) -> np.ndarray:
    """Cell-centre coverage of a polygon over n equal-shaped grid windows:
    bool (n, th, tw), window i starting at grid cell (r0s[i], c0s[i]) — the
    burn rule of ``rasterio.features.rasterize`` with ``all_touched=False``,
    filled by scanline as GDAL fills it.

    Under a north-up transform (b == d == 0, every transform the engine
    builds) all centres of one grid row share one world y. The half-open
    crossing test and the crossing x are computed once per (row, edge), with
    the float expressions of :func:`points_in_rings`; the crossings' x values
    are searchsorted into the row's monotone centre-x array (mirrored when
    a < 0), and a reverse cumulative count gives each column its even-odd
    parity. A centre is inside iff it lies left of an odd number of crossings
    — exactly the points a ray cast hits, so the mask is bit-identical to
    :func:`points_in_rings` on the same centres, at O(rows × edges) crossing
    work instead of O(cells × edges). A rotated transform builds the centres
    and ray-casts them with :func:`points_in_rings`."""
    if geom.kind not in POLY_KINDS:
        raise ValueError(f"centre_mask requires a polygonal geometry, got {geom.kind}")
    t = meta.transform
    r0s = np.asarray(r0s, dtype=np.float64).ravel()
    c0s = np.asarray(c0s, dtype=np.float64).ravel()
    n = len(r0s)
    rings = [r for r in geom.rings() if len(r) >= 4]  # points_in_rings' degenerate-ring rule
    if t.b != 0 or t.d != 0:
        colg = (c0s[:, None] + np.arange(tw, dtype=np.float64) + 0.5)[:, None, :]
        rowg = (r0s[:, None] + np.arange(th, dtype=np.float64) + 0.5)[:, :, None]
        px = t.a * colg + t.b * rowg + t.c
        py = t.d * colg + t.e * rowg + t.f
        return points_in_rings(px.ravel(), py.ravel(), rings).reshape(n, th, tw)
    if n == 0 or not rings:
        return np.zeros((n, th, tw), dtype=bool)
    x0 = np.concatenate([r[:-1, 0] for r in rings])
    y0 = np.concatenate([r[:-1, 1] for r in rings])
    x1 = np.concatenate([r[1:, 0] for r in rings])
    y1 = np.concatenate([r[1:, 1] for r in rings])
    # one scanline per distinct grid row: windows in one row band share them
    ur0, band = np.unique(r0s, return_inverse=True)
    py = (t.e * (ur0[:, None] + np.arange(th, dtype=np.float64) + 0.5) + t.f).ravel()
    block = max(1, (1 << 21) // len(x0))  # bounded (rows × edges) temporaries
    line, xin = [], []
    for i0 in range(0, len(py), block):
        p = py[i0 : i0 + block, None]
        li, e = np.nonzero((y0 <= p) != (y1 <= p))
        with np.errstate(divide="ignore", invalid="ignore"):
            tt = (p[li, 0] - y0[e]) / (y1[e] - y0[e])
            xi = x0[e] + tt * (x1[e] - x0[e])
        ok = ~np.isnan(xi)  # px < NaN never hits
        line.append(i0 + li[ok])
        xin.append(xi[ok])
    line, xin = np.concatenate(line), np.concatenate(xin)
    # crossing → number of span columns whose centre lies left of it; a
    # window at offset o sees the first clip(k − o, 0, tw) of its columns hit
    cmin = c0s.min()
    xs = t.a * (np.arange(cmin, c0s.max() + tw, dtype=np.float64) + 0.5) + t.c
    off = (c0s - cmin).astype(np.int64)
    if t.a < 0:  # mirror the columns so centre x increases
        xs, off = xs[::-1], (len(xs) - tw) - off
    k = np.searchsorted(xs, xin)
    # expand each window's crossings (its row band's contiguous slice of them)
    lo = np.searchsorted(line, np.arange(len(ur0)) * th)
    hi = np.searchsorted(line, (np.arange(len(ur0)) + 1) * th)
    m = (hi - lo)[band]
    win = np.repeat(np.arange(n), m)
    pos = np.arange(m.sum()) + np.repeat(lo[band] - (np.cumsum(m) - m), m)
    kk = np.clip(k[pos] - off[win], 0, tw)
    bins = (win * th + line[pos] % th) * (tw + 1) + kk
    hist = np.bincount(bins, minlength=n * th * (tw + 1)).astype(np.uint8).reshape(n, th, tw + 1)
    # column j lies left of the crossings with kk > j: the parity of their
    # count (uint8 wraps modulo 256, which keeps parity)
    mask = (np.cumsum(hist[..., :0:-1], axis=-1, dtype=np.uint8)[..., ::-1] & 1).view(bool)
    return mask[..., ::-1] if t.a < 0 else mask


# ---------------------------------------------------------------------------
# Distance: point → polygon boundary segments (k=1 nearest join substrate).
# ---------------------------------------------------------------------------

def segments_of(geom: Geometry) -> tuple[np.ndarray, np.ndarray]:
    """All boundary segments as (start[n,2], end[n,2])."""
    starts, ends = [], []
    for ring in geom.rings():
        if len(ring) < 2:
            continue
        starts.append(ring[:-1])
        ends.append(ring[1:])
    if not starts:
        return np.empty((0, 2)), np.empty((0, 2))
    return np.vstack(starts), np.vstack(ends)


def distance_to_segments(px: np.ndarray, py: np.ndarray, seg_a: np.ndarray, seg_b: np.ndarray) -> np.ndarray:
    """Min Euclidean distance from each point to any segment; vectorized, blocked."""
    pts = np.column_stack([np.asarray(px, np.float64), np.asarray(py, np.float64)])
    if len(seg_a) == 0:
        return np.full(len(pts), np.inf)
    d = seg_b - seg_a  # (m,2)
    dd = (d * d).sum(axis=1)  # (m,)
    dd = np.where(dd == 0, 1.0, dd)
    out = np.full(len(pts), np.inf)
    block = max(1, int(2_000_000 // max(1, len(seg_a))))
    for i0 in range(0, len(pts), block):
        p = pts[i0 : i0 + block]  # (b,2)
        ap = p[:, None, :] - seg_a[None, :, :]  # (b,m,2)
        t = np.clip((ap * d[None, :, :]).sum(axis=2) / dd[None, :], 0.0, 1.0)
        proj = seg_a[None, :, :] + t[:, :, None] * d[None, :, :]
        dist2 = ((p[:, None, :] - proj) ** 2).sum(axis=2)
        out[i0 : i0 + block] = np.sqrt(dist2.min(axis=1))
    return out


def distance_to_geometry(px, py, geom: Geometry) -> np.ndarray:
    """``geom.distance(point)`` semantics: 0 inside polygons, else boundary distance."""
    a, b = segments_of(geom)
    dist = distance_to_segments(px, py, a, b)
    if geom.kind in POLY_KINDS:
        inside = points_in_geometry(px, py, geom)
        dist = np.where(inside, 0.0, dist)
    return dist


# ---------------------------------------------------------------------------
# Segmentize + coincident-point handling for contour interpolation inputs.
# ---------------------------------------------------------------------------

def segmentize_line(xy: np.ndarray, max_len: float) -> np.ndarray:
    """Insert vertices so no segment exceeds ``max_len``
    (shapely ``segmentize`` semantics: each segment split into equal parts,
    reference usage src/rastr/create.py:598)."""
    xy = np.asarray(xy, dtype=np.float64)
    if len(xy) < 2:
        return xy
    out = [xy[:1]]
    for i in range(len(xy) - 1):
        p0, p1 = xy[i], xy[i + 1]
        seg = np.linalg.norm(p1 - p0)
        n = max(1, int(np.ceil(seg / max_len))) if seg > 0 else 1
        ts = np.linspace(0.0, 1.0, n + 1)[1:]
        out.append(p0[None, :] + ts[:, None] * (p1 - p0)[None, :])
    return np.vstack(out)


# ---------------------------------------------------------------------------
# Catmull-Rom polyline smoothing (reference: src/rastr/gis/smooth.py:24-156).
# ---------------------------------------------------------------------------

def catmull_rom_smooth(xy: np.ndarray, n_points_per_segment: int = 10, alpha: float = 0.5) -> np.ndarray:
    """Centripetal (alpha=0.5) Catmull-Rom through the polyline vertices.

    Vectorized evaluation over all segments at once, mirroring the reference's
    vectorized De Boor formulation (src/rastr/gis/smooth.py:121-156). Endpoints
    are preserved by reflecting phantom control points.
    """
    xy = np.asarray(xy, dtype=np.float64)
    n = len(xy)
    if n < 3:
        return xy.copy()
    closed = bool(np.array_equal(xy[0], xy[-1]))
    if closed:
        p = np.vstack([xy[-2:-1], xy, xy[1:2]])
    else:
        p = np.vstack([2 * xy[0] - xy[1], xy, 2 * xy[-1] - xy[-2]])
    p0, p1, p2, p3 = p[:-3], p[1:-2], p[2:-1], p[3:]

    def tj(ti, pa, pb):
        d = np.linalg.norm(pb - pa, axis=1)
        return ti + np.maximum(d, 1e-12) ** alpha

    t0 = np.zeros(len(p0))
    t1 = tj(t0, p0, p1)
    t2 = tj(t1, p1, p2)
    t3 = tj(t2, p2, p3)
    u = np.linspace(0.0, 1.0, n_points_per_segment, endpoint=False)  # (k,)
    t = t1[:, None] + u[None, :] * (t2 - t1)[:, None]  # (s,k)

    def lerp(pa, pb, ta, tb):
        w = ((tb[:, None] - t) / (tb - ta + 1e-300)[:, None])[:, :, None]
        return w * pa[:, None, :] + (1 - w) * pb[:, None, :]

    a1 = lerp(p0, p1, t0, t1)
    a2 = lerp(p1, p2, t1, t2)
    a3 = lerp(p2, p3, t2, t3)
    b1 = ((t2[:, None] - t) / (t2 - t0 + 1e-300)[:, None])[:, :, None] * a1 + (
        (t - t0[:, None]) / (t2 - t0 + 1e-300)[:, None]
    )[:, :, None] * a2
    b2 = ((t3[:, None] - t) / (t3 - t1 + 1e-300)[:, None])[:, :, None] * a2 + (
        (t - t1[:, None]) / (t3 - t1 + 1e-300)[:, None]
    )[:, :, None] * a3
    c = ((t2[:, None] - t) / (t2 - t1 + 1e-300)[:, None])[:, :, None] * b1 + (
        (t - t1[:, None]) / (t2 - t1 + 1e-300)[:, None]
    )[:, :, None] * b2
    pts = c.reshape(-1, 2)
    return np.vstack([pts, xy[-1:]])
