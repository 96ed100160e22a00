"""Bilinear resample — the raster↔raster regrid (reference src/rastr/raster.py:1617-1662).

Semantics replicate GDAL ``Resampling.bilinear`` through rasterio's
``dataset.read(out_shape=...)`` path, which the reference uses:

    new_H = ceil(H · cell/new_cell), new_W likewise      (raster.py:1642-1643)
    src_y = (out_y + 0.5) · H / new_H − 0.5              (area-anchored mapping)
    bilinear among the 4 surrounding input cells, edge-clamped
    new_transform = transform · scale(W/new_W, H/new_H)  (raster.py:1653-1657)

Physical shape: **output-tile driven gather** — the output tile table is generated
with ``spark.range`` (no driver data); each output tile computes (closed form,
JVM) which input tiles its source window touches, explodes that tile-key list, and
equi-joins the input tile table. One shuffle groups the gathered input fragments
per output tile (``groupBy(otr, otc).applyInArrow``); a numpy kernel evaluates the
bilinear weights for the whole tile at once and returns Arrow float64, so NaN
stays NaN without a pandas hop. Never a cartesian join (SURVEY.md §2.3 "range joins ... never cartesian").
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from ..meta import Affine
from ..tiles import TILE_SCHEMA, RasterFrame, list_parts, tile_batch


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

    ntr_out = new_meta.n_tile_rows
    ntc_out = new_meta.n_tile_cols
    spark = rf.df.sparkSession

    # output tiles → needed input tile ranges (closed form, JVM)
    out_tiles = spark.range(ntr_out * ntc_out).select(
        (F.col("id") / ntc_out).cast("int").alias("otr"),
        (F.col("id") % ntc_out).cast("int").alias("otc"),
    )
    oth, otw = (
        F.least(F.lit(Tsz), F.lit(new_H) - F.col("otr") * Tsz).cast("int"),
        F.least(F.lit(Tsz), F.lit(new_W) - F.col("otc") * Tsz).cast("int"),
    )
    # source row range of this output tile: rows [otr*T .. otr*T+oth-1] map to
    # src in [(o+0.5)*ry-0.5 ± 1]; take floor/ceil with clamping
    src_r0 = F.greatest(F.floor((F.col("otr") * Tsz + 0.5) * ry - 0.5) - 1, F.lit(0)).cast("int")
    src_r1 = F.least(
        F.ceil((F.col("otr") * Tsz + oth - 0.5) * ry - 0.5) + 1, F.lit(H - 1)
    ).cast("int")
    src_c0 = F.greatest(F.floor((F.col("otc") * Tsz + 0.5) * rx - 0.5) - 1, F.lit(0)).cast("int")
    src_c1 = F.least(
        F.ceil((F.col("otc") * Tsz + otw - 0.5) * rx - 0.5) + 1, F.lit(W - 1)
    ).cast("int")
    needed = out_tiles.select(
        "otr",
        "otc",
        F.explode(F.sequence((src_r0 / Tsz).cast("int"), (src_r1 / Tsz).cast("int"))).alias("tile_row"),
        src_c0.alias("_c0"),
        src_c1.alias("_c1"),
    ).select(
        "otr",
        "otc",
        "tile_row",
        F.explode(F.sequence((F.col("_c0") / Tsz).cast("int"), (F.col("_c1") / Tsz).cast("int"))).alias(
            "tile_col"
        ),
    )
    gathered = needed.join(rf.df.select("tile_row", "tile_col", "values"), ["tile_row", "tile_col"])
    raster_id = rf.raster_id  # primitive capture (closure must not capture rf)

    # no annotations: applyInArrow infers its eval type from them
    def kern(key, table):
        otr, otc = key[0].as_py(), key[1].as_py()
        or0, oc0 = otr * Tsz, otc * Tsz
        oth_ = min(Tsz, new_H - or0)
        otw_ = min(Tsz, new_W - oc0)
        # assemble the needed source window
        srs = table.column("tile_row").to_pylist()
        scs = table.column("tile_col").to_pylist()
        r_lo = min(srs) * Tsz
        c_lo = min(scs) * Tsz
        r_hi = min(max(srs) * Tsz + Tsz, H)
        c_hi = min(max(scs) * Tsz + Tsz, W)
        win = np.full((r_hi - r_lo, c_hi - c_lo), np.nan)
        flat, offs = list_parts(table.column("values"))
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
        return pa.Table.from_batches([tile_batch(raster_id, [otr], [otc], [out])])

    # grouped by the output tile's own columns: aliasing otr/otc onto the
    # input's tile_row/tile_col would duplicate a field of the Arrow struct
    out_df = gathered.groupBy("otr", "otc").applyInArrow(kern, TILE_SCHEMA)
    return RasterFrame(out_df, new_meta, rf.raster_id)


RasterFrame.resample = lambda self, cell_size, method="bilinear": resample(self, cell_size, method=method)
