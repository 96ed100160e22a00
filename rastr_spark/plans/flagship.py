"""The flagship query (BASELINE.json metric): end-to-end PIP-join + zonal stats over
the interleaved document table.

    docs → explode spans → resolve media_ref to tiles (equi-join on tile key)
         → PIP against a broadcast polygon set (per-tile vectorized kernel)
         → zonal partials (cnt/sum/sumsq/min/max masked per zone)
         → groupBy (zone_id, doc_id) finalize

Physical shape, by design:
- the docs⋈tiles join is an **equi-join on (raster_id, tile_row, tile_col)**; the
  tile side is pre-partitioned by cell_id, the doc side is exploded media refs.
  Zipf-hot tiles are handled by **salting**: a pre-pass count picks per-tile salt
  fan-outs, the tile side replicates salted rows, the doc side gets
  ``salt = xxhash64(doc_id) % S`` (north rule "explicit salting for skewed dense
  regions").
- polygons are **broadcast** (closure-captured ndarray coords — tiny).
- the PIP + masked partial agg runs ONCE per distinct (tile, zone) pair, then joins
  back to (doc, tile) pairs — docs referencing the same hot tile reuse the kernel
  output instead of recomputing it (the 100 TB regime has ~10⁶ docs per hot tile;
  recomputing PIP per doc would be quadratic).
- final agg is a partial/final hash agg on (zone_id, doc_id).

Resumability: each named stage can be fenced through sources.checkpoint.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geometry import Geometry, points_in_geometry
from ..meta import RasterMeta
from ..sources.documents import media_refs
from ..tiles import RasterFrame

# Broadcast guard for the partials side of the flagship join: rows are bounded
# by n_tiles × n_zones (× per-hot-tile salt fan-out). Below this row bound the
# explicit broadcast hint is ESSENTIAL (the salt explode hides the side's size
# from AQE and the refs side would shuffle — measured 33.4 → 20.3 s at
# local[8]/2M docs); above it, ~8 scalar columns × 10⁷ rows approaches the
# executor broadcast memory ceiling and the hint would ship gigabytes to every
# executor (or OOM the driver) — the salted shuffle join is the correct plan
# there, so the hint is dropped.
BROADCAST_PARTIALS_MAX_ROWS = 10_000_000

# Fraction of refs the hot-key pre-pass counts (seeded sample, counts scaled
# back up): at 100 TB a full extra scan of the doc table just to find hot keys
# is the dominant waste, and a tile at the salt threshold still appears
# ~0.05·threshold times in the sample (thresholds are ≫ 1/fraction).
SALT_SAMPLE_FRACTION = 0.05

TILE_ZONE_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("tile_row", T.IntegerType(), False),
        T.StructField("tile_col", T.IntegerType(), False),
        T.StructField("zone_id", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("s", T.DoubleType(), False),
        T.StructField("s2", T.DoubleType(), False),
        T.StructField("mn", T.DoubleType(), True),
        T.StructField("mx", T.DoubleType(), True),
    ]
)


def tile_zone_partials(rf: RasterFrame, zones: Sequence[tuple[str, Geometry]]) -> DataFrame:
    """Per (tile, zone) NaN-ignoring masked partials — the PIP kernel pass.

    Runs once per tile regardless of how many documents reference the tile.
    """
    meta = rf.meta
    zone_rows = [(zid, g.to_row(), g.bbox()) for zid, g in zones]

    def kernel(pdf_iter):
        """Batched across tiles: the whole Arrow batch's equal-shaped tiles are
        stacked and each zone's PIP runs ONCE over the stacked centre arrays —
        per-tile Python overhead (the scaling bottleneck at thousands of small
        tiles) disappears; only edge-tile shape groups run separately."""
        zs = [(zid, Geometry.from_row(gr), bb) for zid, gr, bb in zone_rows]
        Tsz = meta.tile_size
        t = meta.transform
        for pdf in pdf_iter:
            recs: list = []
            trs = pdf["tile_row"].to_numpy()
            tcs = pdf["tile_col"].to_numpy()
            vals = pdf["values"].to_numpy()
            th_all = np.minimum(Tsz, meta.height - trs * Tsz)
            tw_all = np.minimum(Tsz, meta.width - tcs * Tsz)
            for th, tw in set(zip(th_all.tolist(), tw_all.tolist())):
                sel = np.nonzero((th_all == th) & (tw_all == tw))[0]
                V = np.stack([np.asarray(vals[i], dtype=np.float64) for i in sel])  # (n, th*tw)
                n = len(sel)
                r0 = (trs[sel] * Tsz).astype(np.float64)
                c0 = (tcs[sel] * Tsz).astype(np.float64)
                rr = np.arange(th, dtype=np.float64)[:, None]
                cc = np.arange(tw, dtype=np.float64)[None, :]
                # per-tile global cell centres, shape (n, th, tw) → flat (n, th*tw)
                colg = (c0[:, None, None] + cc + 0.5)
                rowg = (r0[:, None, None] + rr + 0.5)
                X = (t.a * colg + t.b * rowg + t.c).reshape(n, -1)
                Y = (t.d * colg + t.e * rowg + t.f).reshape(n, -1)
                valid = ~np.isnan(V)
                txmin, txmax = X.min(axis=1), X.max(axis=1)
                tymin, tymax = Y.min(axis=1), Y.max(axis=1)
                for zid, geom, (bxmin, bymin, bxmax, bymax) in zs:
                    hit = np.nonzero(
                        (txmin <= bxmax) & (txmax >= bxmin) & (tymin <= bymax) & (tymax >= bymin)
                    )[0]
                    if len(hit) == 0:
                        continue
                    m = points_in_geometry(X[hit].ravel(), Y[hit].ravel(), geom).reshape(len(hit), -1)
                    m &= valid[hit]
                    cnt = m.sum(axis=1)
                    keep = np.nonzero(cnt > 0)[0]
                    if len(keep) == 0:
                        continue
                    Vh = V[hit]
                    s = np.where(m, Vh, 0.0).sum(axis=1)
                    s2 = np.where(m, Vh * Vh, 0.0).sum(axis=1)
                    mn = np.where(m, Vh, np.inf).min(axis=1)
                    mx = np.where(m, Vh, -np.inf).max(axis=1)
                    for k in keep:
                        gi = sel[hit[k]]
                        recs.append(
                            (
                                int(trs[gi]),
                                int(tcs[gi]),
                                zid,
                                int(cnt[k]),
                                float(s[k]),
                                float(s2[k]),
                                float(mn[k]),
                                float(mx[k]),
                            )
                        )
            yield pd.DataFrame(
                recs, columns=["tile_row", "tile_col", "zone_id", "cnt", "s", "s2", "mn", "mx"]
            )

    return rf.df.select("tile_row", "tile_col", "values").mapInPandas(kernel, TILE_ZONE_PARTIAL_SCHEMA)


def doc_zonal_stats(
    docs: DataFrame,
    rf: RasterFrame,
    zones: Sequence[tuple[str, Geometry]],
    *,
    salt_threshold: int | None = None,
) -> DataFrame:
    """Flagship: per (zone_id, doc_id) zonal stats over each doc's referenced tiles.

    ``salt_threshold``: if set, a pre-pass counts media refs per tile; tiles above
    the threshold get a salt fan-out so the join's hot keys spread across
    ceil(count/threshold) reducers. The partials side replicates (it is the small
    side per key — one row per (tile, zone)). The pre-pass counts a
    ``SALT_SAMPLE_FRACTION`` sample of the refs, so skew detection does not cost
    a full extra scan of the doc table.
    """
    refs = media_refs(docs).filter(F.col("raster_id") == rf.raster_id)
    partials = tile_zone_partials(rf, zones)
    return _join_refs_partials(
        refs, partials, salt_threshold=salt_threshold,
        partials_rows_bound=rf.meta.n_tile_rows * rf.meta.n_tile_cols * len(zones),
        n_zones=len(zones),
    )


def _join_refs_partials(
    refs: DataFrame,
    partials: DataFrame,
    *,
    salt_threshold: int | None = None,
    partials_rows_bound: int,
    n_zones: int,
) -> DataFrame:
    """The flagship's skew-aware join + final agg, shared by the one-shot and
    checkpointed plans (the resumable variant is exactly the run that needs skew
    handling at scale).

    The hot-key pre-pass counts a deterministic-seed ``SALT_SAMPLE_FRACTION``
    sample of the refs. Salting never affects results, only key fan-out —
    equality is covered by the salted-vs-unsalted tests.

    ``partials_rows_bound``: driver-known row bound of the partials side
    (n_tiles × n_zones — callers that hold the RasterMeta compute it for free).
    The explicit broadcast hint is applied only below
    ``BROADCAST_PARTIALS_MAX_ROWS``; above it (10⁶+ tiles × many zones) the
    salted shuffle join runs instead."""
    if salt_threshold:
        sampled = refs.sample(fraction=SALT_SAMPLE_FRACTION, seed=7)
        counts = sampled.groupBy("tile_row", "tile_col").agg(
            (F.count("*") / F.lit(SALT_SAMPLE_FRACTION)).alias("count")
        )
        hot = counts.filter(F.col("count") > salt_threshold).select(
            "tile_row",
            "tile_col",
            F.ceil(F.col("count") / salt_threshold).cast("int").alias("n_salt"),
        )
        # tiny (hot tiles only) but referenced twice — cache so the doc table is
        # not re-derived for the partials-side salt fan-out (.explain showed a
        # third full doc scan without this)
        hot = hot.cache()
        # the salt explode replicates each hot tile's n_zones partial rows
        # n_salt times — the broadcast-size bound must include that fan-out
        # or skewed refs could push the hinted side past the ceiling. hot
        # is tiny and cached; one driver peek gives the EXACT fan-out.
        hs = hot.agg(
            F.count("*").alias("k"),
            F.coalesce(F.sum("n_salt"), F.lit(0)).alias("s"),
        ).collect()[0]
        partials_rows_bound += int(hs["s"] - hs["k"]) * n_zones
        refs = refs.join(F.broadcast(hot), ["tile_row", "tile_col"], "left").withColumn(
            "salt",
            F.when(
                F.col("n_salt").isNotNull(),
                F.pmod(F.xxhash64("doc_id"), F.col("n_salt")).cast("int"),
            ).otherwise(F.lit(0)),
        ).drop("n_salt")
        partials = partials.join(F.broadcast(hot), ["tile_row", "tile_col"], "left").withColumn(
            "salt_arr",
            F.when(
                F.col("n_salt").isNotNull(),
                F.sequence(F.lit(0), F.col("n_salt") - 1),
            ).otherwise(F.array(F.lit(0))),
        ).withColumn("salt", F.explode("salt_arr")).withColumn(
            "salt", F.col("salt").cast("int")
        ).drop("salt_arr", "n_salt")
        join_keys = ["tile_row", "tile_col", "salt"]
    else:
        join_keys = ["tile_row", "tile_col"]

    # Broadcast only when the driver-side bound says the partials side fits
    # (see BROADCAST_PARTIALS_MAX_ROWS): below the bound the hint is a measured
    # 1.6× win; above it the hint would be the scale-killer, so the salted
    # shuffle join takes over.
    broadcastable = partials_rows_bound <= BROADCAST_PARTIALS_MAX_ROWS
    right = F.broadcast(partials) if broadcastable else partials
    joined = refs.join(right, join_keys, "inner")
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


def flagship_query(
    spark: SparkSession,
    docs: DataFrame,
    rf: RasterFrame,
    zones: Sequence[tuple[str, Geometry]],
    *,
    salt_threshold: int | None = 50_000,
) -> DataFrame:
    return doc_zonal_stats(docs, rf, zones, salt_threshold=salt_threshold)


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
        # same salted join as the one-shot plan — stage 3 rebuilt from the
        # checkpointed refs/partials tables keeps the skew fan-out
        return _join_refs_partials(
            refs_stage.df, partials_stage.df,
            salt_threshold=salt_threshold,
            partials_rows_bound=rf.meta.n_tile_rows * rf.meta.n_tile_cols * len(zones),
            n_zones=len(zones),
        )

    final_stage = cm.run_stage(spark, "doc_zonal", input_fingerprint, build_final)
    return final_stage.df, [refs_stage, partials_stage, final_stage]
