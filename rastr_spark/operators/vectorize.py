"""Raster → vector: fishnet GeoDataFrame and contour extraction.

- ``as_geodataframe`` (reference src/rastr/raster.py:796-817): one row per cell
  with the cell's square polygon bounds, centre coords, and value — pure JVM
  (posexplode + affine arithmetic), the distributed twin of create_fishnet +
  sample(centres).
- ``contour`` (reference src/rastr/raster.py:1092-1162): marching squares per
  tile with a 1-cell halo (blocks spanning tile boundaries are owned by the tile
  of their upper-left sample, so every block is computed exactly once), segments
  mapped index→world via ``transform·(col+0.5, row+0.5)``, then stitched into
  polylines. Reference quirks preserved: ±1e-10 perturbation at the global
  min/max level (raster.py:49, 1119-1125), degenerate <3-distinct-point lines
  dropped (raster.py:1141-1143), optional Catmull-Rom smoothing, dissolve by
  level sorted ascending.

Stitching (SURVEY.md §7 hard-part 4): fully distributed — segments shuffle once
keyed by level and each level's polylines are chained inside a
``groupBy(level).applyInPandas`` kernel (only ONE level's segments ever
co-locate; stitch input is O(isoline length), orders of magnitude below the
raster). The driver sees only finished world-space polylines:
``contour_lines`` returns them as a DataFrame; ``contour`` is the
driver-convenience wrapper that collects and dissolves them into Geometry
objects per level.
"""

from __future__ import annotations

from typing import Collection

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geometry import Geometry, catmull_rom_smooth
from ..tiles import RasterFrame, group_map
from .stencils import halo_messages, halo_window

CONTOUR_PERTURB_EPS = 1e-10


def as_geodataframe(rf: RasterFrame, name: str = "value") -> DataFrame:
    """Fishnet cells: (row, col, x, y, xmin, ymin, xmax, ymax, <name>)."""
    meta = rf.meta
    t = meta.transform
    c = rf.cells()
    colf = F.col("col").cast("double")
    rowf = F.col("row").cast("double")

    def world(cc, rr):
        return (
            F.lit(t.a) * cc + F.lit(t.b) * rr + F.lit(t.c),
            F.lit(t.d) * cc + F.lit(t.e) * rr + F.lit(t.f),
        )

    x, y = world(colf + 0.5, rowf + 0.5)
    x0, y0 = world(colf, rowf)
    x1, y1 = world(colf + 1, rowf + 1)
    return c.select(
        "row",
        "col",
        x.alias("x"),
        y.alias("y"),
        F.least(x0, x1).alias("xmin"),
        F.least(y0, y1).alias("ymin"),
        F.greatest(x0, x1).alias("xmax"),
        F.greatest(y0, y1).alias("ymax"),
        F.col("value").alias(name),
    )


# ---------------------------------------------------------------------------
# marching squares
# ---------------------------------------------------------------------------

def _block_segments(a: np.ndarray, level: float, r_off: float, c_off: float):
    """Marching-squares segments for sample grid ``a`` (values at integer (r, c)).

    Returns list of ((r0, c0), (r1, c1)) in continuous index space, offset by
    (r_off, c_off). Blocks containing NaN are skipped (contours stop at nodata).
    Saddles resolved by the cell-mean rule.
    """
    segs = []
    v = a
    above = v > level
    nanb = np.isnan(v)
    # vectorized block classification: the Python loop below only visits blocks
    # the contour actually crosses (O(isoline length), not O(cells))
    tl_a, tr_a = above[:-1, :-1], above[:-1, 1:]
    bl_a, br_a = above[1:, :-1], above[1:, 1:]
    idx_arr = (tl_a.astype(np.int8) << 3) | (tr_a.astype(np.int8) << 2) | (br_a.astype(np.int8) << 1) | bl_a.astype(np.int8)
    has_nan = nanb[:-1, :-1] | nanb[:-1, 1:] | nanb[1:, :-1] | nanb[1:, 1:]
    crossing = ~has_nan & (idx_arr != 0) & (idx_arr != 15)
    # all four edge crossings are computed per block but only the LUT-selected
    # ones are used; a non-crossing edge may have va == vb → silence the unused
    # 0/0 (a *crossing* edge always has va != vb by definition)
    with np.errstate(divide="ignore", invalid="ignore"):
        for r, c in zip(*np.nonzero(crossing)):
            r, c = int(r), int(c)
            idx = int(idx_arr[r, c])

            def interp(va, vb):
                return (level - va) / (vb - va)

            # edge midpoint crossings (continuous index coords)
            top = (r + 0.0, c + interp(v[r, c], v[r, c + 1]))
            bottom = (r + 1.0, c + interp(v[r + 1, c], v[r + 1, c + 1]))
            left = (r + interp(v[r, c], v[r + 1, c]), c + 0.0)
            right = (r + interp(v[r, c + 1], v[r + 1, c + 1]), c + 1.0)
            lut = {
                1: [(left, bottom)],
                2: [(bottom, right)],
                3: [(left, right)],
                4: [(top, right)],
                6: [(top, bottom)],
                7: [(left, top)],
                8: [(top, left)],
                9: [(top, bottom)],
                11: [(top, right)],
                12: [(right, left)],
                13: [(bottom, right)],
                14: [(left, bottom)],
            }
            if idx in (5, 10):
                centre_above = (v[r, c] + v[r, c + 1] + v[r + 1, c] + v[r + 1, c + 1]) / 4.0 > level
                if idx == 5:  # tl+br above
                    pairs = [(left, top), (bottom, right)] if centre_above else [(left, bottom), (top, right)]
                else:  # tr+bl above
                    pairs = [(top, right), (left, bottom)] if centre_above else [(left, top), (bottom, right)]
            else:
                pairs = lut[idx]
            for p, q in pairs:
                segs.append(
                    ((p[0] + r_off, p[1] + c_off), (q[0] + r_off, q[1] + c_off))
                )
    return segs


def _stitch(segs: list) -> list[np.ndarray]:
    """Chain segments into polylines by shared endpoints (rounded keys)."""

    def key(p):
        return (round(p[0], 9), round(p[1], 9))

    adj: dict = {}
    for i, (p, q) in enumerate(segs):
        adj.setdefault(key(p), []).append((i, 0))
        adj.setdefault(key(q), []).append((i, 1))
    used = [False] * len(segs)
    lines = []
    for i in range(len(segs)):
        if used[i]:
            continue
        used[i] = True
        chain = [segs[i][0], segs[i][1]]
        # extend forward
        for end in (1, 0):
            while True:
                tip = chain[-1] if end == 1 else chain[0]
                nxt = None
                for j, side in adj.get(key(tip), []):
                    if not used[j]:
                        nxt = (j, side)
                        break
                if nxt is None:
                    break
                j, side = nxt
                used[j] = True
                other = segs[j][1 - side]
                if end == 1:
                    chain.append(other)
                else:
                    chain.insert(0, other)
        lines.append(np.array(chain))
    return lines


def contour_segments(rf: RasterFrame, levels) -> DataFrame:
    """Per-tile marching-squares segment table (level, ra, ca, rb, cb) in
    continuous index coordinates — the PRE-STITCH stage of contour_lines.

    Exposed separately so the distributed part of contouring (cross-tile
    segment extraction over halo exchange) can be materialized and the stitch/
    dissolve replayed independently (the artifact-oracle pattern); the kernel
    itself (_block_segments) stays the only non-SQL step. Each tile's 1-cell
    halo strips arrive as one run of a sorted Arrow stream
    (:func:`tiles.group_map`), so one Python call extracts the segments of
    every tile that ends in its batch.
    """
    from .aggregates import rf_stats

    meta = rf.meta
    stats = rf_stats(rf)
    levels = [float(l) for l in np.asarray(list(levels), dtype=np.float64)]
    plevels = []
    for level in levels:
        p = level
        if level == stats["max"]:
            p -= CONTOUR_PERTURB_EPS
        elif level == stats["min"]:
            p += CONTOUR_PERTURB_EPS
        plevels.append((level, p))

    Tsz = meta.tile_size
    H, W = meta.height, meta.width

    def extract(groups):
        recs = []
        for (tr, tc), group in groups:
            r0, c0 = tr * Tsz, tc * Tsz
            th, tw = min(Tsz, H - r0), min(Tsz, W - c0)
            padded = halo_window(group, r0 - 1, r0 + th + 1, c0 - 1, c0 + tw + 1)
            # blocks owned by this tile: top-left sample (r, c) with r in [r0, r0+th),
            # c in [c0, c0+tw) — use padded window rows [1, 1+th+1) to include the
            # boundary block reaching into the next tile
            win = padded[1 : 2 + th, 1 : 2 + tw]
            for level, p in plevels:
                for (ra, ca), (rb, cb) in _block_segments(win, p, r0, c0):
                    recs.append((level, ra, ca, rb, cb))
        cols = np.array(recs, dtype=np.float64).reshape(-1, 5).T
        return pa.RecordBatch.from_arrays([pa.array(c) for c in cols], names=["level", "ra", "ca", "rb", "cb"])

    return group_map(
        halo_messages(rf, 1), ["tile_row", "tile_col"], extract,
        "level double, ra double, ca double, rb double, cb double",
    )


def contour_lines(rf: RasterFrame, levels, *, smoothing: bool = True) -> DataFrame:
    """Distributed contour extraction → DataFrame (level, xs, ys), one row per
    stitched world-space polyline (smoothed, degenerate-dropped).

    Plan shape: marching squares per tile (halo=1, every block owned by exactly
    one tile) → ONE shuffle keyed by level → per-level stitch/smooth inside
    ``applyInPandas`` (only that level's segments co-locate; stitch input is
    O(isoline length)). Nothing touches the driver — chain ``contour`` for the
    dissolved-Geometry convenience form.
    """
    meta = rf.meta
    seg_df = contour_segments(rf, levels)

    t = meta.transform
    sm = bool(smoothing)

    def stitch_level(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        level = float(key[0])
        # sort for determinism: applyInPandas arrival order is shuffle-dependent
        pdf = pdf.sort_values(["ra", "ca", "rb", "cb"], kind="mergesort")
        segs = [
            ((ra, ca), (rb, cb))
            for ra, ca, rb, cb in zip(pdf["ra"], pdf["ca"], pdf["rb"], pdf["cb"])
        ]
        recs = []
        for line in _stitch(segs):
            if np.unique(np.round(line, 9), axis=0).shape[0] > 2:  # degenerate filter
                # index → world: transform·(col+0.5, row+0.5)  (rasterio.transform.xy)
                xs = t.a * (line[:, 1] + 0.5) + t.b * (line[:, 0] + 0.5) + t.c
                ys = t.d * (line[:, 1] + 0.5) + t.e * (line[:, 0] + 0.5) + t.f
                xy = np.column_stack([xs, ys])
                if sm:
                    xy = catmull_rom_smooth(xy)
                recs.append((level, xy[:, 0].tolist(), xy[:, 1].tolist()))
        return pd.DataFrame(recs, columns=["level", "xs", "ys"])

    return seg_df.groupBy("level").applyInPandas(
        stitch_level, "level double, xs array<double>, ys array<double>"
    )


def contour(rf: RasterFrame, levels, *, smoothing: bool = True) -> pd.DataFrame:
    """Contours dissolved by level → pandas DataFrame (level, geometry: Geometry).

    Driver-convenience wrapper over :func:`contour_lines`: the only collect is of
    FINISHED polylines (O(contour length)); extraction and stitching stay on the
    executors. Polyline parts are ordered deterministically (first vertex, then
    length) within each level's multilinestring.
    """
    rows = contour_lines(rf, levels, smoothing=smoothing).collect()
    by_level: dict[float, list[np.ndarray]] = {}
    for r in rows:
        by_level.setdefault(float(r["level"]), []).append(
            np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        )
    out_levels, out_geoms = [], []
    for level in sorted(by_level):
        keep = sorted(by_level[level], key=lambda a: (a[0, 0], a[0, 1], len(a)))
        out_levels.append(level)
        if len(keep) == 1:
            out_geoms.append(Geometry.linestring(keep[0]))
        else:
            offsets = np.cumsum([0] + [len(k) for k in keep])
            out_geoms.append(
                Geometry(
                    "multilinestring",
                    np.vstack(keep).ravel(),
                    offsets,
                    np.array([0, len(keep)]),
                )
            )
    return pd.DataFrame({"level": out_levels, "geometry": out_geoms})


RasterFrame.as_geodataframe = lambda self, name="value": as_geodataframe(self, name)
RasterFrame.gdf = lambda self, name="value": as_geodataframe(self, name)
RasterFrame.contour = lambda self, levels, smoothing=True: contour(self, levels, smoothing=smoothing)
RasterFrame.contour_lines = lambda self, levels, smoothing=True: contour_lines(
    self, levels, smoothing=smoothing
)
