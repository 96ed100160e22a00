"""Spatial joins: PIP (clip / replace_polygon / zonal stats), sample lookup, kNN,
and mosaic union-with-precedence.

The reference has no relational joins, but four of its ops *are* joins (SURVEY.md
§2.3); here they are expressed with deliberate physical shapes:

- **PIP semi/anti-join** (clip, reference src/rastr/raster.py:1512-1552 +
  `_polygon_indicator` 1727-1755): polygons are small → broadcast (closure-captured
  coords); each tile fills its cell-centre mask by scanline
  (``geometry.centre_mask``: crossings once per grid row, not per cell).
  Tile-level bbox pruning happens JVM-side *before* the kernel, so tiles away
  from the polygon never cross the Arrow boundary.
- **point-in-grid lookup join** (sample, reference src/rastr/raster.py:417-541):
  inverse-affine + floor are closed-form JVM column expressions; the gather is
  ``element_at(values, idx)`` after an equi-join on the tile key — the whole path
  stays in whole-stage codegen, zero Python.
- **zonal stats** (north rule; reference form = clip→mean composition): one
  partial/final hash agg — per-(tile, zone) masked partials in an Arrow kernel, then
  ``groupBy(zone)`` finalize. One narrow shuffle of tiny partial rows.
- **kNN lookup** (north rule): grid-cell ring expansion → equi-join → windowed
  top-k with deterministic tie-break (distance, row, col).
- **mosaic** (reference src/rastr/io_.py:77-135, first-wins per cell): union +
  ``min_by(value, rank)`` over non-NaN per cell ≡ rasterio.merge 'first'.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..geometry import Geometry, centre_mask
from ..meta import RasterMeta
from ..tiles import RasterFrame, tile_dims_cols


# ---------------------------------------------------------------------------
# tile bbox pruning predicate (JVM)
# ---------------------------------------------------------------------------

def tile_world_bbox_cols(meta: RasterMeta) -> tuple[Column, Column, Column, Column]:
    """(xmin, ymin, xmax, ymax) of each tile in world coords as JVM expressions.

    General affine: min/max over the 4 tile corners (constant-folds to 2 exprs for
    axis-aligned transforms under Catalyst).
    """
    t = meta.transform
    Tsz = meta.tile_size
    th, tw = tile_dims_cols(meta)
    r0 = (F.col("tile_row") * Tsz).cast("double")
    c0 = (F.col("tile_col") * Tsz).cast("double")
    r1 = r0 + th
    c1 = c0 + tw
    xs, ys = [], []
    for cc, rr in ((c0, r0), (c1, r0), (c0, r1), (c1, r1)):
        xs.append(F.lit(t.a) * cc + F.lit(t.b) * rr + F.lit(t.c))
        ys.append(F.lit(t.d) * cc + F.lit(t.e) * rr + F.lit(t.f))
    return F.least(*xs), F.least(*ys), F.greatest(*xs), F.greatest(*ys)


def _overlaps(meta: RasterMeta, bbox) -> Column:
    """Tiles whose world bbox meets ``bbox`` (xmin, ymin, xmax, ymax), JVM-side."""
    xmin, ymin, xmax, ymax = tile_world_bbox_cols(meta)
    gxmin, gymin, gxmax, gymax = (F.lit(float(v)) for v in bbox)
    return (xmin <= gxmax) & (xmax >= gxmin) & (ymin <= gymax) & (ymax >= gymin)


def _require_polygonal(geom: Geometry, op: str) -> None:
    if geom.kind not in ("polygon", "multipolygon"):
        raise TypeError(
            f"Only Polygon and MultiPolygon geometries are supported for {op}, got {geom.kind}"
        )


# ---------------------------------------------------------------------------
# clip / replace_polygon (PIP mask projections)
# ---------------------------------------------------------------------------

def clip(rf: RasterFrame, polygon: Geometry, *, strategy: str = "centres") -> RasterFrame:
    """Cells whose centre falls outside the polygon → NaN
    (reference src/rastr/raster.py:1512-1552). PIP semi-join: broadcast polygon,
    per-tile scanline coverage kernel; bbox-pruned tiles are NaN'd JVM-side."""
    _require_polygonal(polygon, "clipping")
    if strategy != "centres":
        raise NotImplementedError(f"Unsupported clipping strategy: {strategy}")
    meta = rf.meta

    def mask(r0, c0, th, tw, v):
        return np.where(centre_mask(polygon, meta, [r0], [c0], th, tw).ravel(), v, np.nan)

    overlaps = _overlaps(meta, polygon.bbox())
    hit = RasterFrame(rf.df.filter(overlaps), meta, rf.raster_id).map_tiles(mask, "values")
    miss = RasterFrame(rf.df.filter(~overlaps), meta, rf.raster_id).full_like(np.nan)
    return RasterFrame(hit.df.unionByName(miss.df), meta, rf.raster_id)


def replace_polygon(rf: RasterFrame, polygon, value: float | None = None) -> RasterFrame:
    """Set cells inside polygon(s) to value(s) (reference src/rastr/raster.py:1664-1725).
    Dict interface mirrors ``replace``: {Geometry: value, ...}, masks from the
    original array (non-chained)."""
    if isinstance(polygon, dict):
        if value is not None:
            raise ValueError("value must be None when polygon is a dict")
        pairs = [(g, float(v)) for g, v in polygon.items()]
    else:
        if value is None:
            raise ValueError("value must be specified when polygon is a Geometry")
        pairs = [(polygon, float(value))]
    for g, _ in pairs:
        _require_polygonal(g, "replace_polygon")
    meta = rf.meta

    def burn(r0, c0, th, tw, v):
        new = v.copy()
        for geom, val in pairs:
            new[centre_mask(geom, meta, [r0], [c0], th, tw).ravel()] = val
        return new

    # prune: tiles outside the union bbox of all polygons are unchanged
    bxs = np.array([g.bbox() for g, _ in pairs])
    overlaps = _overlaps(meta, (*bxs[:, :2].min(axis=0), *bxs[:, 2:].max(axis=0)))
    hit = RasterFrame(rf.df.filter(overlaps), meta, rf.raster_id).map_tiles(burn, "values")
    return RasterFrame(hit.df.unionByName(rf.df.filter(~overlaps)), meta, rf.raster_id)


# ---------------------------------------------------------------------------
# sample: point-in-grid lookup join — pure JVM
# ---------------------------------------------------------------------------

def sample_df(rf: RasterFrame, points: DataFrame, *, x: str = "x", y: str = "y") -> DataFrame:
    """Sample raster values at point locations; returns input columns + ``value``.

    Physical shape (reference semantics src/rastr/raster.py:417-541):
    inverse-affine → floor → tile key, all JVM expressions; equi-join points⋈tiles
    on (tile_row, tile_col); gather = ``element_at(values, local_idx)``.
    Out-of-bounds / NaN-coordinate rows → NaN, rows preserved (left join).
    The tile side is typically the big one — Spark/AQE picks broadcast for the
    points side when small; both sides hash-partition on the tile key otherwise.
    """
    meta = rf.meta
    inv = meta.transform.invert()
    Tsz = meta.tile_size
    # collision-safe internal columns: callers may legitimately carry columns
    # named values/tile_row/tile_col/_row/... — never overwrite or drop theirs
    R, C, IN, TR, TC, TR2, TC2, TW, VALS = (
        "__rs_row", "__rs_col", "__rs_in", "__rs_tr", "__rs_tc",
        "__rs_tr2", "__rs_tc2", "__rs_tw", "__rs_vals",
    )
    xc, yc = F.col(x).cast("double"), F.col(y).cast("double")
    col_f = F.lit(inv.a) * xc + F.lit(inv.b) * yc + F.lit(inv.c)
    row_f = F.lit(inv.d) * xc + F.lit(inv.e) * yc + F.lit(inv.f)
    p = points.withColumn(R, F.floor(row_f).cast("long")).withColumn(
        C, F.floor(col_f).cast("long")
    )
    in_grid = (
        ~F.isnan(xc)  # NaN casts to 0 on long cast in Spark — guard explicitly
        & ~F.isnan(yc)
        & F.col(R).isNotNull()
        & F.col(C).isNotNull()
        & (F.col(R) >= 0)
        & (F.col(R) < meta.height)
        & (F.col(C) >= 0)
        & (F.col(C) < meta.width)
    )
    p = p.withColumn(IN, in_grid).withColumn(
        TR, F.when(F.col(IN), (F.col(R) / Tsz).cast("int")).otherwise(F.lit(-1))
    ).withColumn(
        TC, F.when(F.col(IN), (F.col(C) / Tsz).cast("int")).otherwise(F.lit(-1))
    )
    _, tw = tile_dims_cols(meta)
    tiles = rf.df.select(
        F.col("tile_row").alias(TR2), F.col("tile_col").alias(TC2),
        tw.alias(TW), F.col("values").alias(VALS),
    )
    joined = p.join(
        tiles, (p[TR] == tiles[TR2]) & (p[TC] == tiles[TC2]), "left"
    )
    local_idx = (
        (F.col(R) - F.col(TR2).cast("long") * Tsz) * F.col(TW)
        + (F.col(C) - F.col(TC2).cast("long") * Tsz)
        + 1  # element_at is 1-based
    )
    value = F.when(
        F.col(IN) & F.col(VALS).isNotNull(), F.element_at(VALS, local_idx.cast("int"))
    ).otherwise(F.lit(float("nan")))
    return joined.withColumn("value", value).drop(R, C, IN, TR, TC, TR2, TC2, TW, VALS)


def sample(rf: RasterFrame, xy, *, na_action: str = "raise"):
    """Array/driver surface with the reference's polymorphism + NaN handling
    (src/rastr/raster.py:417-541): singleton tuple → float; collection → ndarray
    in input order; NaN coords raise or pass through as NaN."""
    from ..geometry import Geometry

    singleton = False
    if isinstance(xy, Geometry):  # reference's shapely-Point polymorphism
        if xy.kind != "point":
            raise NotImplementedError("Sampling is only supported for Point geometries.")
        xy = (float(xy.coords[0]), float(xy.coords[1]))
        singleton = True
    elif isinstance(xy, (list, tuple)) and len(xy) > 0 and isinstance(next(iter(xy)), Geometry):
        pts = list(xy)
        if any(g.kind != "point" for g in pts):
            raise NotImplementedError("Sampling is only supported for Point geometries.")
        xy = [(float(g.coords[0]), float(g.coords[1])) for g in pts]
    singleton = singleton or (
        isinstance(xy, tuple) and len(xy) == 2 and isinstance(xy[0], (int, float))
    )
    arr = np.asarray([xy] if singleton else xy, dtype=np.float64)
    if arr.size == 0:
        return np.array([], dtype=float)
    if na_action == "raise" and np.isnan(arr).any():
        raise ValueError("NaN value found in input coordinates")
    spark = rf.df.sparkSession
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(arr)], "idx long, x double, y double"
    )
    out = sample_df(rf, pts).orderBy("idx").collect()
    values = np.array([r["value"] for r in out], dtype=float)
    return float(values[0]) if singleton else values


# ---------------------------------------------------------------------------
# zonal stats: PIP join + partial/final agg — the flagship substrate
# ---------------------------------------------------------------------------

def zonal_stats(rf: RasterFrame, zones: Sequence[tuple[str, Geometry]]) -> DataFrame:
    """NaN-ignoring (count, sum, mean, std, min, max) per polygon zone.

    Reference form: ``clip(polygon)`` → whole-raster stats composition
    (src/rastr/raster.py:1512-1552 + 919-985) — here fused into ONE pass over
    the batched (tile × zone) PIP partial kernel (plans.flagship), then a tiny
    groupBy(zone) finalize. No intermediate masked raster is materialized; the
    shuffle carries only n_tiles × n_overlapping_zones partial rows.
    """
    for zid, g in zones:
        _require_polygonal(g, "zonal_stats")
    from ..plans.flagship import tile_zone_partials

    part = tile_zone_partials(rf, zones)
    # population std by Chan et al.'s exact merge of the per-partial
    # (cnt, s, m2 = Σ(v − s/cnt)²): Σ(m2 + cnt·(s/cnt − M)²) / Σcnt about
    # the zone mean M, which a window over the tiny partials table supplies
    zone = Window.partitionBy("zone_id")
    dev = F.col("s") / F.col("cnt") - F.sum("s").over(zone) / F.sum("cnt").over(zone)
    return (
        part.withColumn("m2", F.col("m2") + F.col("cnt") * dev * dev)
        .groupBy("zone_id")
        .agg(
            F.sum("cnt").alias("count"),
            F.sum("s").alias("sum"),
            F.min("mn").alias("min"),
            F.max("mx").alias("max"),
            (F.sum("s") / F.sum("cnt")).alias("mean"),
            F.sqrt(F.sum("m2") / F.sum("cnt")).alias("std"),
        )
    )


# ---------------------------------------------------------------------------
# kNN lookup: ring-expansion equi-join over grid cells
# ---------------------------------------------------------------------------

def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    cell_size: float,
    px: str = "x",
    py: str = "y",
    qx: str = "x",
    qy: str = "y",
    query_id: str = "query_id",
    max_rounds: int = 4,
) -> DataFrame:
    """k nearest points for each query point (north rule; SURVEY.md §2.3).

    Both sides are bucketed into a square grid of ``cell_size``; round i joins each
    unresolved query against the NEW SHELL of its bucket only — cells at Chebyshev
    distance in (3^(i-1), 3^i] — while the prior round's top-k candidates are
    carried forward, so the inner square is never re-scanned (round 2 probes
    7²−3² = 40 cells per query, not 49; round 4 probes 55²−19² instead of 55²).
    Carrying exactly the prior top-k is lossless: distances are static, so a
    candidate outside a round's top-k can never re-enter a later top-k. A query
    resolves when ≥k candidates are found AND the k-th distance ≤ the ring's
    guaranteed radius (correctness: a closer point cannot hide outside the ring).
    Deterministic tie-break: (distance, x, y). Returns query columns + neighbour
    x/y + distance + rank.
    """
    inv = 1.0 / cell_size
    p = points.select(
        F.col(px).cast("double").alias("_px"),
        F.col(py).cast("double").alias("_py"),
        F.floor(F.col(px) * inv).cast("long").alias("_pcx"),
        F.floor(F.col(py) * inv).cast("long").alias("_pcy"),
    )
    remaining = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(qx).cast("double").alias("_qx"),
        F.col(qy).cast("double").alias("_qy"),
    )
    results = None
    radius, prev_radius = 1, 0
    carry = None  # unresolved queries' top-k from prior rounds (already-scanned cells)
    for round_i in range(max_rounds):
        ring = _shell_offsets(radius, prev_radius)
        ring_df = F.array(*[F.struct(F.lit(a).alias("dy"), F.lit(b).alias("dx")) for a, b in ring])
        q = remaining.withColumn(
            "_qcx", F.floor(F.col("_qx") * inv).cast("long")
        ).withColumn("_qcy", F.floor(F.col("_qy") * inv).cast("long"))
        q = q.withColumn("_off", F.explode(ring_df)).select(
            "_qid",
            "_qx",
            "_qy",
            (F.col("_qcx") + F.col("_off.dx")).alias("_pcx"),
            (F.col("_qcy") + F.col("_off.dy")).alias("_pcy"),
        )
        cand = q.join(p, ["_pcx", "_pcy"], "inner").select(
            "_qid",
            "_qx",
            "_qy",
            "_px",
            "_py",
            # plain multiplication (not pow): bit-identical across engines for the oracle
            F.sqrt(
                (F.col("_px") - F.col("_qx")) * (F.col("_px") - F.col("_qx"))
                + (F.col("_py") - F.col("_qy")) * (F.col("_py") - F.col("_qy"))
            ).alias("distance"),
        )
        if carry is not None:
            cand = cand.unionByName(carry)
        w = Window.partitionBy("_qid").orderBy("distance", "_px", "_py")
        topk = cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
        if round_i == max_rounds - 1:
            # last round: everyone resolves with whatever was found — no per-query
            # count pass, no extra driver action
            results = topk if results is None else results.unionByName(topk)
            break
        # lineage cut: topk is referenced by the resolve agg, the result batch,
        # the carry, AND the caller's final action — localCheckpoint materializes
        # it ONCE (at the stats job below) so none of them re-runs the round's
        # join+window, and the plan does not grow round-over-round
        topk = topk.localCheckpoint(eager=False)
        # resolved: k found and kth distance STRICTLY within the guaranteed radius —
        # an unseen point outside the ring is at Euclid ≥ radius·cell_size, so a
        # tie at exactly that distance could still lose to an unseen point under
        # the (distance, x, y) tie-break; strict < forces one more ring instead
        guaranteed = radius * cell_size
        per_q = topk.groupBy("_qid").agg(F.count("*").alias("n"), F.max("distance").alias("dk"))
        resolved_pred = (F.col("n") >= k) & (F.col("dk") < guaranteed)
        # ONE driver action per round: the resolve aggregate also answers "does
        # any unresolved query remain" (queries with no candidates at all land
        # on the NULL side of the left join and count as unresolved) — the
        # emptiness check rides the job the loop already needs, instead of a
        # separate isEmpty() action re-running the round's lineage
        stats = (
            remaining.join(per_q, "_qid", "left")
            .agg(
                F.count("*").alias("total"),
                F.sum(F.when(resolved_pred, 1).otherwise(0)).alias("resolved"),
            )
            .collect()[0]
        )
        resolved_ids = per_q.filter(resolved_pred).select("_qid")
        batch = topk.join(resolved_ids, "_qid", "left_semi")
        results = batch if results is None else results.unionByName(batch)
        if (stats["resolved"] or 0) >= stats["total"]:
            break
        remaining = remaining.join(resolved_ids, "_qid", "left_anti")
        carry = topk.join(resolved_ids, "_qid", "left_anti").drop("rank")
        prev_radius = radius
        radius *= 3
    return results.withColumnRenamed("_qid", query_id).withColumnRenamed("_qx", qx + "_q").withColumnRenamed(
        "_qy", qy + "_q"
    ).withColumnRenamed("_px", px + "_nn").withColumnRenamed("_py", py + "_nn")


def _shell_offsets(radius: int, prev_radius: int) -> list[tuple[int, int]]:
    """(dr, dc) offsets with Chebyshev distance in (prev_radius, radius] — the
    cells a kNN round has NOT yet probed. prev_radius=0 yields the full square
    including the centre."""
    return [
        (dr, dc)
        for dr in range(-radius, radius + 1)
        for dc in range(-radius, radius + 1)
        if max(abs(dr), abs(dc)) > prev_radius or prev_radius == 0
    ]


def infer_cell_size_df(points: DataFrame, *, x: str = "x", y: str = "y") -> float:
    """Distributed reference heuristic (src/rastr/meta.py:166-187): half the 5th
    percentile of nearest-neighbour distances, zero-distance duplicates excluded.

    The NN search is the kNN ring-expansion join with k=2 (self + nearest) over a
    grid bucketing sized from the data bbox — no KDTree, no driver collect of the
    point set; only the final percentile reduces.
    """
    ext = points.agg(
        F.min(x).alias("x0"), F.max(x).alias("x1"), F.min(y).alias("y0"), F.max(y).alias("y1"),
        F.count("*").alias("n"),
    ).collect()[0]
    if ext["n"] < 2:
        raise ValueError("need at least 2 points to infer cell size")
    span = max(ext["x1"] - ext["x0"], ext["y1"] - ext["y0"]) or 1.0
    bucket = span / max(1.0, float(np.sqrt(ext["n"])))
    w = Window.partitionBy(x, y).orderBy(F.lit(1))
    q = points.select(
        F.concat_ws("_", F.col(x).cast("string"), F.col(y).cast("string"),
                    F.row_number().over(w).cast("string")).alias("query_id"),
        F.col(x), F.col(y),
    )
    nn = knn_join(points, q, 2, cell_size=bucket, max_rounds=8)
    # k=2 gives [self(0), nearest]; drop zero distances (coincident duplicates)
    row = (
        nn.filter(F.col("distance") > 0)
        .groupBy("query_id")
        .agg(F.min("distance").alias("d"))
        .agg(F.percentile(F.col("d"), F.lit(0.05)).alias("p"))
        .collect()[0]
    )
    if row["p"] is None:
        raise ValueError("all points are coincident; cannot infer cell size")
    return float(row["p"]) / 2.0


# ---------------------------------------------------------------------------
# mosaic: union + first-wins precedence (reference src/rastr/io_.py:77-135)
# ---------------------------------------------------------------------------

def mosaic(rasters: Sequence[RasterFrame]) -> RasterFrame:
    """Merge rasters, first-wins per cell on valid (non-NaN) values — semantics of
    rasterio.merge 'first' (reference tests/rastr/test_io.py:249-263). Inputs must
    share cell_size/CRS; output grid = union extent, anchored like the reference
    (rank order = caller's list order ≡ sorted path stems in the reference).
    """
    if not rasters:
        raise ValueError("mosaic requires at least one raster")
    m0 = rasters[0].meta
    for r in rasters[1:]:
        if r.meta.cell_size != m0.cell_size or r.meta.crs != m0.crs:
            raise ValueError("mosaic inputs must share cell size and CRS")
        t0, t1 = m0.transform, r.meta.transform
        if (t0.a, t0.b, t0.d, t0.e) != (t1.a, t1.b, t1.d, t1.e):
            raise ValueError("mosaic inputs must share grid orientation")
    # union extent (driver arithmetic over metas)
    bs = [r.meta.bounds() for r in rasters]
    xmin = min(b.xmin for b in bs)
    ymin = min(b.ymin for b in bs)
    xmax = max(b.xmax for b in bs)
    ymax = max(b.ymax for b in bs)
    cs = m0.cell_size
    from .geometric import from_bounds_transform

    W = int(round((xmax - xmin) / cs))
    H = int(round((ymax - ymin) / cs))
    new_meta = m0.with_(transform=from_bounds_transform(xmin, ymin, xmax, ymax, W, H), height=H, width=W)

    shifted = []
    for rank, r in enumerate(rasters):
        # integer cell offset of this raster inside the union grid
        b = r.meta.bounds()
        dc = int(round((b.xmin - xmin) / cs))
        dr = int(round((ymax - b.ymax) / cs))
        shifted.append(
            r.cells(drop_nan=True).select(
                (F.col("row") + dr).alias("row"),
                (F.col("col") + dc).alias("col"),
                "value",
                F.lit(rank).alias("rank"),
            )
        )
    all_cells = shifted[0]
    for s in shifted[1:]:
        all_cells = all_cells.unionByName(s)
    merged = all_cells.groupBy("row", "col").agg(F.min_by("value", "rank").alias("value"))
    return RasterFrame.from_cells(merged, new_meta, raster_id=rasters[0].raster_id, dense=True)


# -- attach ------------------------------------------------------------------
RasterFrame.clip = lambda self, polygon, strategy="centres": clip(self, polygon, strategy=strategy)
RasterFrame.replace_polygon = lambda self, polygon, value=None: replace_polygon(self, polygon, value)
RasterFrame.sample = lambda self, xy, na_action="raise": sample(self, xy, na_action=na_action)
RasterFrame.sample_df = lambda self, points, x="x", y="y": sample_df(self, points, x=x, y=y)
RasterFrame.zonal_stats = lambda self, zones: zonal_stats(self, zones)
