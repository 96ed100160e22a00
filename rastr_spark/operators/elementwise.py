"""Elementwise (projection) operators: cell-wise maps with meta unchanged.

Every op here is a pure projection stage in Spark terms — ``tile → tile'`` —
expressed as Catalyst higher-order functions (``F.transform`` / ``zip_with``) when the
raster dtype is float64, so the whole chain stays inside whole-stage codegen, and as
numpy kernels through ``RasterFrame.map_tiles`` (one ``mapInArrow`` pass) when dtype
is float16/32 (NumPy's reduced-precision rounding must be reproduced bit-for-bit;
reference preserves dtype through all ops, tests/conftest.py:29-62).

Semantics mirrored from reference src/rastr/raster.py:185-325 (arithmetic/abs/log/
exp/clamp), 659-681 (normalize), 995-1065 (fillna/replace), 882-917 (apply),
1461-1510 (taper_border). Raster⊕raster arithmetic is the aligned equi-join of
SURVEY.md §2.3: join on (tile_row, tile_col) + ``zip_with``.
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..tiles import RasterFrame


def _is_scalar(x) -> bool:
    return isinstance(x, (int, float, np.floating, np.integer))


def _elementwise(
    rf: RasterFrame,
    jvm_fn: Callable[[Column], Column],
    np_fn: Callable[[np.ndarray], np.ndarray],
) -> RasterFrame:
    """JVM fast path for float64; NumPy kernel path for reduced dtypes."""
    if rf.meta.dtype == "float64":
        return rf.map_values(jvm_fn)
    return rf.map_kernel(np_fn)


def _binary(
    a: RasterFrame,
    b: RasterFrame,
    jvm_fn: Callable[[Column, Column], Column],
    np_fn: Callable[[np.ndarray, np.ndarray], np.ndarray],
) -> RasterFrame:
    """Aligned raster⊕raster zip: equi-join on tile key + ``zip_with`` (float64)
    or the numpy kernel through ``map_tiles`` (reduced dtypes).

    Precondition identical meta+shape (reference src/rastr/raster.py:191-202) is
    checked eagerly on the driver; the join itself is 1:1 on (tile_row, tile_col),
    which both sides share as their partitioning key — with the tile tables
    co-partitioned (same writer), AQE plans this as a local join, no wide shuffle.
    """
    a.check_aligned(b)
    joined = RasterFrame(
        a.df.join(
            b.df.select("tile_row", "tile_col", F.col("values").alias("values_b")),
            ["tile_row", "tile_col"],
            "inner",
        ),
        a.meta,
        a.raster_id,
    )
    if a.meta.dtype == "float64" and b.meta.dtype == "float64":
        return joined.with_values(F.zip_with("values", "values_b", jvm_fn))
    dtype = np.dtype(a.meta.dtype)
    return joined.map_tiles(
        lambda r0, c0, th, tw, va, vb: np_fn(va.astype(dtype), vb.astype(dtype)), "values", "values_b"
    )


# -- arithmetic (reference src/rastr/raster.py:185-265) ---------------------------

def add(rf: RasterFrame, other) -> RasterFrame:
    if _is_scalar(other):
        o = float(other)
        return _elementwise(rf, lambda x: x + F.lit(o), lambda x: x + np.asarray(o, x.dtype))
    return _binary(rf, other, lambda x, y: x + y, lambda x, y: x + y)


def mul(rf: RasterFrame, other) -> RasterFrame:
    if _is_scalar(other):
        o = float(other)
        return _elementwise(rf, lambda x: x * F.lit(o), lambda x: x * np.asarray(o, x.dtype))
    return _binary(rf, other, lambda x, y: x * y, lambda x, y: x * y)


def div(rf: RasterFrame, other) -> RasterFrame:
    if _is_scalar(other):
        o = float(other)
        # note: Spark double division by zero yields NULL for 0/0 via `/`? No — double
        # division in Spark follows IEEE (inf/NaN). Verified in tests.
        return _elementwise(rf, lambda x: x / F.lit(o), lambda x: x / np.asarray(o, x.dtype))
    return _binary(rf, other, lambda x, y: x / y, lambda x, y: x / y)


def rdiv(rf: RasterFrame, other) -> RasterFrame:
    """Reference quirk preserved: ``other / raster`` returns ``raster / other``
    (src/rastr/raster.py:254-255; canonized by test_raster.py:889-905)."""
    return div(rf, other)


def sub(rf: RasterFrame, other) -> RasterFrame:
    if _is_scalar(other):
        return add(rf, -float(other))
    return add(rf, neg(other))


def rsub(rf: RasterFrame, other: float) -> RasterFrame:
    return add(neg(rf), float(other))


def neg(rf: RasterFrame) -> RasterFrame:
    return _elementwise(rf, lambda x: -x, lambda x: -x)


def abs_(rf: RasterFrame) -> RasterFrame:
    return _elementwise(rf, F.abs, np.abs)


def log(rf: RasterFrame) -> RasterFrame:
    # np.log(0) = -inf, np.log(<0) = NaN; Spark F.log returns NULL for <= 0 → use
    # a branch that reproduces IEEE semantics exactly.
    def jvm(x: Column) -> Column:
        return (
            F.when(x > 0, F.log(x))
            .when(x == 0, F.lit(float("-inf")))
            .otherwise(F.lit(float("nan")))
        )

    return _elementwise(rf, jvm, lambda x: _silent(np.log, x))


def exp(rf: RasterFrame) -> RasterFrame:
    return _elementwise(rf, F.exp, np.exp)


def _silent(fn, x):
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        return fn(x)


def clamp(rf: RasterFrame, a_min: float | None = None, a_max: float | None = None) -> RasterFrame:
    """np.clip semantics (reference src/rastr/raster.py:303-325). NaN passes through."""

    def jvm(x: Column) -> Column:
        # Spark orders NaN above every double, so `x > a_max` is TRUE for NaN
        # (unlike np.clip, which propagates NaN). Guard explicitly.
        y = x
        if a_min is not None:
            y = F.when(y < F.lit(float(a_min)), F.lit(float(a_min))).otherwise(y)
        if a_max is not None:
            y = F.when(y > F.lit(float(a_max)), F.lit(float(a_max))).otherwise(y)
        return F.when(F.isnan(x), x).otherwise(y)

    return _elementwise(rf, jvm, lambda x: np.clip(x, a_min, a_max))


def fillna(rf: RasterFrame, value: float) -> RasterFrame:
    """np.nan_to_num (reference src/rastr/raster.py:995-1003)."""
    v = float(value)
    return _elementwise(
        rf,
        lambda x: F.when(F.isnan(x), F.lit(v)).otherwise(x),
        lambda x: np.nan_to_num(x, nan=np.asarray(v, x.dtype)),
    )


def replace(rf: RasterFrame, to_replace, value: float | None = None) -> RasterFrame:
    """Value→value map, non-chained — masks from the ORIGINAL array
    (reference src/rastr/raster.py:1005-1065). NaN keys matched by isnan."""
    if isinstance(to_replace, dict):
        if value is not None:
            raise ValueError("value must be None when to_replace is a dict")
        map_ = {float(k): float(v) for k, v in to_replace.items()}
    else:
        if value is None:
            raise ValueError("value must be specified when to_replace is a float")
        map_ = {float(to_replace): float(value)}

    def jvm(x: Column) -> Column:
        expr = None
        for old, new in map_.items():
            cond = F.isnan(x) if math.isnan(old) else (x == F.lit(old))
            expr = F.when(cond, F.lit(new)) if expr is None else expr.when(cond, F.lit(new))
        return x if expr is None else expr.otherwise(x)

    def kern(x: np.ndarray) -> np.ndarray:
        out = x.copy()
        for old, new in map_.items():
            mask = np.isnan(x) if math.isnan(old) else (x == old)
            out[mask] = new
        return out

    return _elementwise(rf, jvm, kern)


def apply(rf: RasterFrame, func: Callable, *, raw: bool = True) -> RasterFrame:
    """User-function surface (reference src/rastr/raster.py:882-917):
    raw=True → func sees the whole tile array; raw=False → per-cell via
    np.vectorize, both through ``RasterFrame.map_kernel``."""
    if raw:
        return rf.map_kernel(lambda a: np.asarray(func(a)))
    vec = np.vectorize(func)
    return rf.map_kernel(lambda a: np.asarray(vec(a)))


def normalize(rf: RasterFrame, *, vmin: float | None = None, vmax: float | None = None) -> RasterFrame:
    """Two-stage: global nanmin/nanmax agg → broadcast scalars → elementwise map
    (reference src/rastr/raster.py:659-681 + _get_vmin_vmax 1839-1855).
    Degenerate range (vmax <= vmin) → all zeros."""
    from .aggregates import rf_min, rf_max

    _vmin = float(rf_min(rf)) if vmin is None else float(vmin)
    _vmax = float(rf_max(rf)) if vmax is None else float(vmax)
    if _vmax > _vmin:
        span = _vmax - _vmin
        return _elementwise(
            rf,
            # F.least(NaN, 1.0) = 1.0 under Spark's NaN-is-largest ordering; np.clip
            # keeps NaN, so guard the JVM path to match the numpy kernel path.
            lambda x: F.when(F.isnan(x), x).otherwise(
                F.greatest(F.least((x - F.lit(_vmin)) / F.lit(span), F.lit(1.0)), F.lit(0.0))
            ),
            lambda x: np.clip((x - np.asarray(_vmin, x.dtype)) / np.asarray(span, x.dtype), 0, 1),
        )
    # NaN-aware degenerate path: np.zeros_like → zeros EVERYWHERE incl. NaN cells
    return rf.full_like(0.0)


def taper_border(rf: RasterFrame, width: float, *, limit: float = 0.0) -> RasterFrame:
    """Linear ramp toward ``limit`` within ``width`` of the grid edge
    (reference src/rastr/raster.py:1461-1510). Distance is measured in cell
    indices from the nearest edge — a *global-coordinate* elementwise map: the
    kernel receives the tile's grid window and computes absolute indices; no halo.
    """
    meta = rf.meta
    H, W = meta.height, meta.width
    dtype = np.dtype(meta.dtype)
    width_cells = width / meta.cell_size
    lim = float(limit)

    def taper(r0, c0, th, tw, v):
        arr = v.astype(dtype).reshape(th, tw)
        rows = np.arange(r0, r0 + th)[:, None]
        cols = np.arange(c0, c0 + tw)[None, :]
        dist = np.minimum.reduce(
            [
                np.broadcast_to(cols, (th, tw)),
                np.broadcast_to(W - 1 - cols, (th, tw)),
                np.broadcast_to(rows, (th, tw)),
                np.broadcast_to(H - 1 - rows, (th, tw)),
            ]
        )
        mask = dist < np.ceil(width_cells)
        factor = np.clip(dist / width_cells, 0.0, 1.0)
        tapered = lim + (arr - lim) * factor
        arr[mask] = tapered[mask].astype(dtype)
        return arr

    return rf.map_tiles(taper, "values")


def equals(a: RasterFrame, b: RasterFrame) -> bool:
    """``Raster.__eq__`` (reference src/rastr/raster.py:163-170): meta equality AND
    np.array_equal (NaN != NaN, exactly as numpy: array_equal without equal_nan)."""
    if a.meta != b.meta.with_(tile_size=a.meta.tile_size):
        return False
    joined = a.df.alias("a").join(
        b.df.select("tile_row", "tile_col", F.col("values").alias("vb")),
        ["tile_row", "tile_col"],
        "full",
    )
    bad = joined.select(
        F.when(
            F.col("values").isNull() | F.col("vb").isNull(), F.lit(1)
        ).otherwise(
            F.when(
                # numpy array_equal semantics: NaN != NaN (Spark would say NaN = NaN)
                F.exists(
                    F.zip_with("values", "vb", lambda x, y: F.isnan(x) | F.isnan(y) | (x != y)),
                    lambda z: z,
                ),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("bad")
    ).agg(F.sum("bad").alias("n")).collect()[0]["n"]
    return bad == 0


# -- attach as RasterFrame methods (the reference's fluent API surface) -----------
RasterFrame.__add__ = lambda self, o: add(self, o)
RasterFrame.__radd__ = lambda self, o: add(self, o)
RasterFrame.__mul__ = lambda self, o: mul(self, o)
RasterFrame.__rmul__ = lambda self, o: mul(self, o)
RasterFrame.__truediv__ = lambda self, o: div(self, o)
RasterFrame.__rtruediv__ = lambda self, o: rdiv(self, o)
RasterFrame.__sub__ = lambda self, o: sub(self, o)
RasterFrame.__rsub__ = lambda self, o: rsub(self, o)
RasterFrame.__neg__ = lambda self: neg(self)
RasterFrame.abs = lambda self: abs_(self)
RasterFrame.log = lambda self: log(self)
RasterFrame.exp = lambda self: exp(self)
RasterFrame.clamp = lambda self, a_min=None, a_max=None: clamp(self, a_min, a_max)
RasterFrame.fillna = lambda self, value: fillna(self, value)
RasterFrame.replace = lambda self, to_replace, value=None: replace(self, to_replace, value)
RasterFrame.apply = lambda self, func, raw=True: apply(self, func, raw=raw)
RasterFrame.normalize = lambda self, vmin=None, vmax=None: normalize(self, vmin=vmin, vmax=vmax)
RasterFrame.taper_border = lambda self, width, limit=0.0: taper_border(self, width, limit=limit)
RasterFrame.equals = lambda self, other: equals(self, other)
