"""Bilinear resample — the raster↔raster regrid (reference src/rastr/raster.py:1617-1662).

Semantics replicate GDAL ``Resampling.bilinear`` through rasterio's
``dataset.read(out_shape=...)`` path, which the reference uses:

    new_H = ceil(H · cell/new_cell), new_W likewise      (raster.py:1642-1643)
    src_y = (out_y + 0.5) · H / new_H − 0.5              (area-anchored mapping)
    bilinear among the 4 surrounding input cells, edge-clamped
    new_transform = transform · scale(W/new_W, H/new_H)  (raster.py:1653-1657)

Physical shape: **input-tile driven scatter** — for each input tile the driver
plans, in numpy from the closed-form source window of every output tile, the
contiguous range of output tile rows and columns that read it; each input tile
then sends itself to those output tiles through a JVM
``explode(sequence(lo, hi))`` per axis (no output-tile table, no join). One
shuffle streams each output tile's input tiles together
(:func:`tiles.group_map`: one Python call per Arrow batch, not per output
tile); a numpy kernel evaluates the bilinear weights for the whole tile at once
and returns Arrow float64, so NaN stays NaN without a pandas hop. Never a
cartesian join (SURVEY.md §2.3 "range joins ... never cartesian").
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..meta import Affine
from ..tiles import TILE_SCHEMA, RasterFrame, group_map, list_parts, tile_groups


def _scatter_ranges(n_in: int, n_out: int, n: int, N: int, scale: float, Tsz: int):
    """(lo, hi) per input tile index along one axis of n input cells in
    n_in tiles and N output cells in n_out tiles: the output tiles lo..hi
    read that input tile (none when lo > hi).

    An output tile's source cells are (o+0.5)·scale−0.5 ± 1 over its cells,
    clamped to the grid; both ends grow with the output tile index, so the
    output tiles reading input tile t form one contiguous range."""
    o0 = np.arange(n_out, dtype=np.int64) * Tsz
    o1 = np.minimum(o0 + Tsz, N)  # one past the output tile's last cell
    first = np.maximum(np.floor((o0 + 0.5) * scale - 0.5) - 1, 0).astype(np.int64) // Tsz
    last = np.minimum(np.ceil((o1 - 0.5) * scale - 0.5) + 1, n - 1).astype(np.int64) // Tsz
    ins = np.arange(n_in)
    return np.searchsorted(last, ins, "left"), np.searchsorted(first, ins, "right") - 1


def resample(rf: RasterFrame, cell_size: float, *, method: str = "bilinear") -> RasterFrame:
    if method not in ("bilinear",):
        raise NotImplementedError(f"Unsupported resampling method: {method}")
    meta = rf.meta
    factor = meta.cell_size / cell_size
    H, W, Tsz = meta.height, meta.width, meta.tile_size
    new_H = int(np.ceil(H * factor))
    new_W = int(np.ceil(W * factor))
    ry = H / new_H  # source rows per output row (rasterio read out_shape semantics)
    rx = W / new_W
    t = meta.transform
    # transform · scale(W/new_W, H/new_H), exactly raster.py:1653-1657
    new_t = Affine(
        t.a * (W / new_W), t.b * (H / new_H), t.c, t.d * (W / new_W), t.e * (H / new_H), t.f
    )
    new_meta = meta.with_(cell_size=cell_size, transform=new_t, height=new_H, width=new_W)

    # each input tile goes to the output tiles that read it, per axis
    msgs = rf.df.select("tile_row", "tile_col", "values")
    for key, out_key, axis in (
        ("tile_row", "otr", (meta.n_tile_rows, new_meta.n_tile_rows, H, new_H, ry)),
        ("tile_col", "otc", (meta.n_tile_cols, new_meta.n_tile_cols, W, new_W, rx)),
    ):
        lo, hi = (F.element_at(F.lit(a.astype(np.int32)), F.col(key) + 1) for a in _scatter_ranges(*axis, Tsz))
        msgs = msgs.filter(lo <= hi).withColumn(out_key, F.explode(F.sequence(lo, hi)))
    raster_id = rf.raster_id  # primitive capture (closure must not capture rf)

    def kern(key, group):
        otr, otc = key
        or0, oc0 = otr * Tsz, otc * Tsz
        oth_ = min(Tsz, new_H - or0)
        otw_ = min(Tsz, new_W - oc0)
        # assemble the needed source window
        srs = group.column("tile_row").to_pylist()
        scs = group.column("tile_col").to_pylist()
        r_lo = min(srs) * Tsz
        c_lo = min(scs) * Tsz
        r_hi = min(max(srs) * Tsz + Tsz, H)
        c_hi = min(max(scs) * Tsz + Tsz, W)
        win = np.full((r_hi - r_lo, c_hi - c_lo), np.nan)
        flat, offs = list_parts(group.column("values"))
        for i, (tr_, tc_) in enumerate(zip(srs, scs)):
            rr, cc = tr_ * Tsz, tc_ * Tsz
            th_ = min(Tsz, H - rr)
            tw_ = min(Tsz, W - cc)
            win[rr - r_lo : rr - r_lo + th_, cc - c_lo : cc - c_lo + tw_] = flat[
                offs[i] : offs[i + 1]
            ].reshape(th_, tw_)
        oy = np.arange(or0, or0 + oth_, dtype=np.float64)
        ox = np.arange(oc0, oc0 + otw_, dtype=np.float64)
        sy = (oy + 0.5) * ry - 0.5
        sx = (ox + 0.5) * rx - 0.5
        y0 = np.clip(np.floor(sy), 0, H - 1).astype(np.int64)
        x0 = np.clip(np.floor(sx), 0, W - 1).astype(np.int64)
        y1 = np.clip(y0 + 1, 0, H - 1)
        x1 = np.clip(x0 + 1, 0, W - 1)
        wy = np.clip(sy - y0, 0.0, 1.0)[:, None]
        wx = np.clip(sx - x0, 0.0, 1.0)[None, :]
        a00 = win[np.ix_(y0 - r_lo, x0 - c_lo)]
        a01 = win[np.ix_(y0 - r_lo, x1 - c_lo)]
        a10 = win[np.ix_(y1 - r_lo, x0 - c_lo)]
        a11 = win[np.ix_(y1 - r_lo, x1 - c_lo)]
        out = (
            a00 * (1 - wy) * (1 - wx)
            + a01 * (1 - wy) * wx
            + a10 * wy * (1 - wx)
            + a11 * wy * wx
        )
        return out

    out = group_map(msgs, ["otr", "otc"], lambda g: tile_groups(raster_id, g, kern), TILE_SCHEMA)
    return RasterFrame(out, new_meta, raster_id)


RasterFrame.resample = lambda self, cell_size, method="bilinear": resample(self, cell_size, method=method)
