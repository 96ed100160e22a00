"""Whole-raster and zonal aggregations.

Model: Spark's partial/final hash aggregation (SURVEY.md §2.4). ``rf_stats``
explodes the tile arrays, drops NaN cells and runs ONE plain aggregate
(count/sum/min/max/``stddev_pop``) — generator, filter and aggregate all stay in
whole-stage codegen, no higher-order function, no Python. NaN is ignored (np.nan*
semantics, reference src/rastr/raster.py:919-985): all-NaN → NaN for
max/min/mean/std, 0.0 for sum (raster.py:982).

``std`` is population std (np.nanstd ddof=0) — Spark's ``stddev_pop`` (a
numerically stable central-moment merge), deliberately NOT ``F.stddev`` (sample)
and NOT ``sqrt(E[x²] − mean²)``, which cancels catastrophically when the spread is
small against the mean.
``quantile`` is exact with linear interpolation ≡ np.nanquantile via Spark's exact
``percentile`` over exploded cells (approx_percentile would break reference goldens,
test_raster.py:4224-4241).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tiles import RasterFrame


def _stats_df(rf: RasterFrame) -> DataFrame:
    """One row (cnt, s, mn, mx, std) over the raster's non-NaN cells."""
    v = F.col("v")
    return (
        rf.df.select(F.explode("values").alias("v"))
        .filter(~F.isnan(v))
        .agg(
            F.count(v).alias("cnt"),
            F.sum(v).alias("s"),
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
            F.stddev_pop(v).alias("std"),
        )
    )


def rf_stats(rf: RasterFrame) -> dict:
    """All scalar stats in ONE job: {count, sum, mean, std, min, max}."""
    row = _stats_df(rf).collect()[0]
    n = row["cnt"]
    if n == 0:
        return {"count": 0, "sum": 0.0, "mean": np.nan, "std": np.nan, "min": np.nan, "max": np.nan}
    return {
        "count": int(n),
        "sum": float(row["s"]),
        "mean": float(row["s"] / n),
        "std": float(row["std"]),
        "min": float(row["mn"]),
        "max": float(row["mx"]),
    }


def rf_max(rf: RasterFrame) -> float:
    return rf_stats(rf)["max"]


def rf_min(rf: RasterFrame) -> float:
    return rf_stats(rf)["min"]


def rf_mean(rf: RasterFrame) -> float:
    return rf_stats(rf)["mean"]


def rf_std(rf: RasterFrame) -> float:
    return rf_stats(rf)["std"]


def rf_sum(rf: RasterFrame) -> float:
    return rf_stats(rf)["sum"]


def rf_quantile(rf: RasterFrame, q, *, exact: bool = True, accuracy: int = 10000):
    """np.nanquantile semantics (linear interpolation), scalar or list of qs.

    exact=True (default, the reference contract — SURVEY.md §7 hard-part 6) uses
    Spark's exact distributed ``percentile`` over exploded non-NaN cells.
    exact=False is the 10^12-cell scale path: ``approx_percentile`` (KLL-style
    sketch, mergeable, single pass, bounded memory) with tunable ``accuracy``.
    """
    qs = [float(v) for v in (q if isinstance(q, (list, tuple)) else [q])]
    if any(not 0.0 <= v <= 1.0 for v in qs):
        raise ValueError("q must be in [0, 1]")
    q_arr = F.array(*[F.lit(v) for v in qs])
    if exact:
        agg = F.percentile(F.col("value"), q_arr).alias("qv")
    else:
        agg = F.approx_percentile(F.col("value"), q_arr, F.lit(accuracy)).alias("qv")
    row = rf.cells(drop_nan=True).agg(agg).collect()[0]
    vals = [float(v) if v is not None else float("nan") for v in (row["qv"] or [None] * len(qs))]
    return vals if isinstance(q, (list, tuple)) else vals[0]


def rf_median(rf: RasterFrame) -> float:
    return rf_quantile(rf, 0.5)


def rf_unique(rf: RasterFrame) -> np.ndarray:
    """Sorted distinct incl. NaN (np.unique; reference src/rastr/raster.py:987-993).

    Per-tile ``array_distinct`` partial → explode → global distinct → sort. Spark
    treats NaN as equal-to-NaN and greater-than-everything in sort/distinct, which
    matches np.unique's single-trailing-NaN convention.
    """
    rows = (
        rf.df.select(F.explode(F.array_distinct("values")).alias("v"))
        .distinct()
        .orderBy("v")
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=rf.meta.dtype)


def valid_extent(rf: RasterFrame, *, value: float | None = None) -> tuple[int, int, int, int]:
    """(min_row, max_row, min_col, max_col) of cells NOT matching the trim mask.

    Trim-mask semantics (reference src/rastr/raster.py:1554-1615): value=None →
    NaN mask; value=v → equality mask. Per-tile partial min/max of non-matching
    rows/cols (JVM aggregate over posexplode-free arithmetic) → global agg.
    """
    Tsz = rf.meta.tile_size
    W = rf.meta.width
    _tw = F.least(F.lit(Tsz), F.lit(W) - F.col("tile_col") * Tsz).cast("int")
    cells = rf.cells()
    keep = ~F.isnan("value") if value is None else ~(F.col("value") == F.lit(float(value)))
    row = (
        cells.filter(keep)
        .agg(
            F.min("row").alias("r0"),
            F.max("row").alias("r1"),
            F.min("col").alias("c0"),
            F.max("col").alias("c1"),
        )
        .collect()[0]
    )
    if row["r0"] is None:
        name = "NaN" if value is None else ("zero" if value == 0 else str(value))
        raise ValueError(f"Cannot crop raster: all values are {name}")
    return int(row["r0"]), int(row["r1"]), int(row["c0"]), int(row["c1"])


# -- attach ------------------------------------------------------------------
RasterFrame.max = lambda self: rf_max(self)
RasterFrame.min = lambda self: rf_min(self)
RasterFrame.mean = lambda self: rf_mean(self)
RasterFrame.std = lambda self: rf_std(self)
RasterFrame.sum = lambda self: rf_sum(self)
RasterFrame.stats = lambda self: rf_stats(self)
RasterFrame.quantile = lambda self, q: rf_quantile(self, q)
RasterFrame.median = lambda self: rf_median(self)
RasterFrame.unique = lambda self: rf_unique(self)
