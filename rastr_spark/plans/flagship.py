"""The flagship query (BASELINE.json metric): end-to-end PIP-join + zonal stats over
the interleaved document table.

    docs → explode spans → resolve media_ref to tiles (equi-join on tile key)
         → cell-centre coverage of a broadcast polygon set (scanline per grid
           row, ``geometry.centre_mask``, in one ``mapInArrow`` kernel)
         → zonal partials (cnt/sum/m2/min/max masked per zone)
         → groupBy (zone_id, doc_id) finalize

Physical shape, by design:
- the docs⋈tiles join is an **equi-join on (raster_id, tile_row, tile_col)**; the
  tile side is pre-partitioned by cell_id, the doc side is exploded media refs.
  The plan is picked from the driver-known partials bound n_tiles × n_zones:
  at or below ``BROADCAST_PARTIALS_MAX_ROWS`` the partials are **broadcast**
  unsalted — the refs side never repartitions, so a Zipf-hot tile cannot pile
  onto one reducer. Only above the bound, where the join shuffles, are hot
  tiles **salted**: a sampled count picks per-tile salt fan-outs, the partials
  side replicates salted rows, the doc side gets
  ``salt = xxhash64(doc_id) % S`` (north rule "explicit salting for skewed dense
  regions").
- polygons are **broadcast** (closure-captured ndarray coords — tiny).
- the coverage + masked partial agg runs ONCE per distinct (tile, zone) pair, then joins
  back to (doc, tile) pairs — docs referencing the same hot tile reuse the kernel
  output instead of recomputing it (the 100 TB regime has ~10⁶ docs per hot tile;
  recomputing PIP per doc would be quadratic).
- final agg is a partial/final hash agg on (zone_id, doc_id).

Resumability: each named stage can be fenced through sources.checkpoint.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..geometry import Geometry, centre_mask
from ..meta import RasterMeta
from ..sources.documents import media_refs
from ..tiles import RasterFrame, list_parts

# Broadcast guard for the partials side of the flagship join: rows are bounded
# by n_tiles × n_zones. At or below this row bound the partials are broadcast
# by explicit hint, not by Catalyst's size estimate of a Python map's output
# (the hint measured 33.4 → 20.3 s at local[8]/2M docs), and no salting runs:
# a broadcast join never repartitions the refs side, so a hot tile cannot pile
# onto one reducer. Above it, ~8 scalar columns × 10⁷ rows approaches the
# executor broadcast memory ceiling and the hint would ship gigabytes to every
# executor (or OOM the driver) — the salted shuffle join is the plan there.
BROADCAST_PARTIALS_MAX_ROWS = 10_000_000

# Fraction of refs the hot-key pre-pass counts (seeded sample, counts scaled
# back up): at 100 TB a full extra scan of the doc table just to find hot keys
# is the dominant waste, and a tile at the salt threshold still appears
# ~0.05·threshold times in the sample (thresholds are ≫ 1/fraction).
SALT_SAMPLE_FRACTION = 0.05

TILE_ZONE_PARTIAL_SCHEMA = pa.schema(
    [pa.field(k, tp, nullable=False) for k, tp in (
        ("tile_row", pa.int32()), ("tile_col", pa.int32()), ("zone_id", pa.string()),
        ("cnt", pa.int64()), ("s", pa.float64()), ("m2", pa.float64()))]
    + [pa.field(k, pa.float64()) for k in ("mn", "mx")]
)


def _zone_partials(batch: pa.RecordBatch, meta: RasterMeta, zones) -> pa.RecordBatch:
    """The partials of one Arrow batch of tiles. Equal-shaped tiles are
    stacked from the flat ``values`` buffer and each zone's coverage
    (:func:`~rastr_spark.geometry.centre_mask`) runs ONCE over the stacked
    tiles its bbox hits — per-tile Python overhead (the scaling bottleneck at
    thousands of small tiles) disappears; only edge-tile shape groups run
    separately. Stats are computed for the tiles a zone covers (cnt > 0)."""
    Tsz, t = meta.tile_size, meta.transform
    trs = batch.column("tile_row").to_numpy()
    tcs = batch.column("tile_col").to_numpy()
    flat, offs = list_parts(batch.column("values"))
    th_all = np.minimum(Tsz, meta.height - trs * Tsz)
    tw_all = np.minimum(Tsz, meta.width - tcs * Tsz)
    out: dict = {k: [] for k in TILE_ZONE_PARTIAL_SCHEMA.names}
    for th, tw in set(zip(th_all.tolist(), tw_all.tolist())):
        sel = np.flatnonzero((th_all == th) & (tw_all == tw))
        V = flat[offs[sel][:, None] + np.arange(th * tw)]  # (n, th*tw)
        valid = ~np.isnan(V)
        r0 = (trs[sel] * Tsz).astype(np.float64)
        c0 = (tcs[sel] * Tsz).astype(np.float64)
        # centre x/y extremes sit at the 4 corner centres (affine in col, row)
        xs, ys = [], []
        for cc, rr in ((c0 + 0.5, r0 + 0.5), (c0 + (tw - 0.5), r0 + 0.5),
                       (c0 + 0.5, r0 + (th - 0.5)), (c0 + (tw - 0.5), r0 + (th - 0.5))):
            xs.append(t.a * cc + t.b * rr + t.c)
            ys.append(t.d * cc + t.e * rr + t.f)
        txmin, txmax = np.minimum.reduce(xs), np.maximum.reduce(xs)
        tymin, tymax = np.minimum.reduce(ys), np.maximum.reduce(ys)
        for zid, geom, (bxmin, bymin, bxmax, bymax) in zones:
            hit = np.flatnonzero(
                (txmin <= bxmax) & (txmax >= bxmin) & (tymin <= bymax) & (tymax >= bymin)
            )
            if len(hit) == 0:
                continue
            m = centre_mask(geom, meta, r0[hit], c0[hit], th, tw).reshape(len(hit), -1)
            m &= valid[hit]
            cnt = m.sum(axis=1)
            keep = np.flatnonzero(cnt > 0)
            if len(keep) == 0:
                continue
            m, cnt, Vh = m[keep], cnt[keep], V[hit[keep]]
            s = np.where(m, Vh, 0.0).sum(axis=1)
            # squared deviations about the partial's own mean: exact to merge
            # (joins.zonal_stats), unlike raw Σv², which cancels when
            # |mean| ≫ std
            dev = Vh - (s / cnt)[:, None]
            gi = sel[hit[keep]]
            out["tile_row"].append(trs[gi])
            out["tile_col"].append(tcs[gi])
            out["zone_id"].append(np.full(len(keep), zid, dtype=object))
            out["cnt"].append(cnt)
            out["s"].append(s)
            out["m2"].append(np.where(m, dev * dev, 0.0).sum(axis=1))
            out["mn"].append(np.where(m, Vh, np.inf).min(axis=1))
            out["mx"].append(np.where(m, Vh, -np.inf).max(axis=1))
    cols = [np.concatenate(v) if v else [] for v in out.values()]
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, TILE_ZONE_PARTIAL_SCHEMA)],
        schema=TILE_ZONE_PARTIAL_SCHEMA,
    )


def tile_zone_partials(rf: RasterFrame, zones: Sequence[tuple[str, Geometry]]) -> DataFrame:
    """Per (tile, zone) NaN-ignoring masked partials — the PIP kernel pass,
    one ``mapInArrow`` over the tiles' flat ``values`` buffers
    (:func:`_zone_partials`): (tile_row, tile_col, zone_id, cnt, s, m2, mn,
    mx) for every tile a zone covers at least one valid cell centre of.

    Runs once per tile regardless of how many documents reference the tile.
    """
    meta = rf.meta
    zone_rows = [(zid, g.to_row(), g.bbox()) for zid, g in zones]

    def kernel(batches):
        zs = [(zid, Geometry.from_row(gr), bb) for zid, gr, bb in zone_rows]
        for b in batches:
            yield _zone_partials(b, meta, zs)

    return rf.df.select("tile_row", "tile_col", "values").mapInArrow(
        kernel, from_arrow_schema(TILE_ZONE_PARTIAL_SCHEMA)
    )


def doc_zonal_stats(
    docs: DataFrame,
    rf: RasterFrame,
    zones: Sequence[tuple[str, Geometry]],
    *,
    salt_threshold: int | None = None,
) -> DataFrame:
    """Flagship: per (zone_id, doc_id) zonal stats over each doc's referenced tiles.

    ``salt_threshold``: used only when the partials side is too large to
    broadcast (n_tiles × n_zones above ``BROADCAST_PARTIALS_MAX_ROWS``) and the
    join shuffles. There a pre-pass counts media refs per tile; tiles above the
    threshold get a salt fan-out so the join's hot keys spread across
    ceil(count/threshold) reducers. The partials side replicates (it is the small
    side per key — one row per (tile, zone)). The pre-pass counts a
    ``SALT_SAMPLE_FRACTION`` sample of the refs, so skew detection does not cost
    a full extra scan of the doc table. At or below the bound the threshold is
    ignored.
    """
    refs = media_refs(docs).filter(F.col("raster_id") == rf.raster_id)
    partials = tile_zone_partials(rf, zones)
    return _join_refs_partials(
        refs, partials, salt_threshold=salt_threshold,
        partials_rows_bound=rf.meta.n_tile_rows * rf.meta.n_tile_cols * len(zones),
    )


def _join_refs_partials(
    refs: DataFrame,
    partials: DataFrame,
    *,
    salt_threshold: int | None = None,
    partials_rows_bound: int,
) -> DataFrame:
    """The flagship's skew-aware join + final agg, shared by the one-shot and
    checkpointed plans (the resumable variant is exactly the run that needs skew
    handling at scale). Building it launches no Spark job.

    ``partials_rows_bound``: driver-known row bound of the partials side
    (n_tiles × n_zones — callers that hold the RasterMeta compute it for free).
    At or below ``BROADCAST_PARTIALS_MAX_ROWS`` the unsalted partials are
    broadcast and ``salt_threshold`` is ignored: the refs side is never
    repartitioned, and the final aggregate's key (zone_id, doc_id) carries no
    salt. Above it (10⁶+ tiles × many zones) the join shuffles, and with
    ``salt_threshold`` set the hot tiles are salted: a deterministic-seed
    ``SALT_SAMPLE_FRACTION`` sample of the refs counts refs per tile. Salting
    never affects results, only key fan-out — equality is covered by the
    salted-vs-unsalted tests."""
    keys = ["tile_row", "tile_col"]
    if partials_rows_bound <= BROADCAST_PARTIALS_MAX_ROWS:
        partials = F.broadcast(partials)
    elif salt_threshold:
        sampled = refs.sample(fraction=SALT_SAMPLE_FRACTION, seed=7)
        counts = sampled.groupBy(*keys).agg(
            (F.count("*") / F.lit(SALT_SAMPLE_FRACTION)).alias("count")
        )
        # tiny (hot tiles only) but referenced twice — cache so the doc table is
        # not re-derived for the partials-side salt fan-out (.explain showed a
        # third full doc scan without this)
        hot = counts.filter(F.col("count") > salt_threshold).select(
            *keys, F.ceil(F.col("count") / salt_threshold).cast("int").alias("n_salt"),
        ).cache()
        n_salt = F.coalesce(F.col("n_salt"), F.lit(1))  # a cold tile keeps salt 0
        refs = refs.join(F.broadcast(hot), keys, "left").withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), n_salt).cast("int")
        ).drop("n_salt")
        partials = partials.join(F.broadcast(hot), keys, "left").withColumn(
            "salt", F.explode(F.sequence(F.lit(0), n_salt - 1))
        ).drop("n_salt")
        keys = [*keys, "salt"]
    joined = refs.join(partials, keys, "inner")
    return (
        joined.groupBy("zone_id", "doc_id")
        .agg(
            F.sum("cnt").alias("cell_count"),
            F.sum("s").alias("sum"),
            F.min("mn").alias("min"),
            F.max("mx").alias("max"),
            (F.sum("s") / F.sum("cnt")).alias("mean"),
        )
    )


def flagship_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    rf: RasterFrame,
    zones: Sequence[tuple[str, Geometry]],
    *,
    ckpt_dir: str,
    input_fingerprint: str,
    salt_threshold: int | None = 50_000,
):
    """Flagship with per-stage checkpoint fences (north rule: "resumable mid-join").

    Three fenced stages, each a manifest-committed parquet table with
    per-partition lineage/metrics (sources.checkpoint):

      1. ``media_refs``          — doc table → resolved tile refs
      2. ``tile_zone_partials``  — the PIP kernel pass
      3. ``doc_zonal``           — the join + final aggregation

    A failure between stages resumes from the last COMMITTED manifest: the join
    stage rebuilds from checkpointed refs + partials without re-running either
    upstream pass. Returns (result DataFrame, [StageResult × 3]).
    """
    from ..sources.checkpoint import CheckpointManager

    cm = CheckpointManager(ckpt_dir)
    refs_stage = cm.run_stage(
        spark,
        "media_refs",
        input_fingerprint,
        lambda: media_refs(docs).filter(F.col("raster_id") == rf.raster_id),
    )
    partials_stage = cm.run_stage(
        spark,
        "tile_zone_partials",
        input_fingerprint,
        lambda: tile_zone_partials(rf, zones),
    )

    def build_final() -> DataFrame:
        # same join as the one-shot plan — stage 3 rebuilt from the
        # checkpointed refs/partials tables keeps its regime and salt fan-out
        return _join_refs_partials(
            refs_stage.df, partials_stage.df,
            salt_threshold=salt_threshold,
            partials_rows_bound=rf.meta.n_tile_rows * rf.meta.n_tile_cols * len(zones),
        )

    final_stage = cm.run_stage(spark, "doc_zonal", input_fingerprint, build_final)
    return final_stage.df, [refs_stage, partials_stage, final_stage]
