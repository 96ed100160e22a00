"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "docs_per_sec": ...}

The flagship query is the BASELINE.json metric: docs → media_ref→tile resolution →
PIP join against broadcast polygons → zonal stats per (zone, doc), measured as
docs/sec around the triggering action only (inputs pre-materialized + cached).
Run scripts/scaling_run.py for the N-vs-4N parallelism evidence (BASELINE.md).

Measurement protocol: MIN of ``SPARK_GRAFT_BENCH_REPS`` (default 3) fresh runs
per query, all walls recorded in the artifact under ``all_walls``. The host's
CPU availability drifts ±4× minute-to-minute (BASELINE.md's noise study), so a
single sample cannot distinguish a regression from throttling — min-of-k is the
same protocol scripts/scaling_run.py uses for the scaling evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as E
from rastr_spark.geometry import Geometry
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.plans.flagship import doc_zonal_stats
from rastr_spark.sources.documents import generate_documents
from rastr_spark.tiles import RasterFrame

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "1000000"))

# bench raster: 4096×4096 cells (FIXTURES.md §6). Tile size 64 → 64×64 = 4096
# tiles of 4 k cells (32 KB): the PIP kernel's working set stays L2-resident, so
# it scales with cores instead of saturating DRAM bandwidth (measured: 256² tiles
# made 32 threads SLOWER than 8 on this box).
BENCH_GRID = int(os.environ.get("SPARK_GRAFT_BENCH_GRID", "4096"))
BENCH_TILE = int(os.environ.get("SPARK_GRAFT_BENCH_TILE", "64"))
BENCH_CELL = 8.0
BENCH_WORLD = BENCH_GRID * BENCH_CELL
BENCH_META = RasterMeta(
    BENCH_CELL, "EPSG:2193", Affine(BENCH_CELL, 0, 0, 0, -BENCH_CELL, BENCH_WORLD),
    BENCH_GRID, BENCH_GRID, tile_size=BENCH_TILE,
)


def bench_zones() -> list[tuple[str, Geometry]]:
    """~100 polygons (FIXTURES.md §6): a 9×9 grid of boxes, 10 hot-corner boxes over
    the Zipf-dense tiles, a concave horseshoe, and a big triangle."""
    zs: list[tuple[str, Geometry]] = []
    w = BENCH_WORLD
    n = 9
    for i in range(n):
        for j in range(n):
            zs.append(
                (f"box_{i}_{j}", Geometry.box(i * w / n, j * w / n, (i + 1) * w / n, (j + 1) * w / n))
            )
    for k in range(10):  # nested boxes over the hot (low tile index = top-left) corner
        frac = 0.05 + 0.03 * k
        zs.append((f"hot_{k}", Geometry.box(0, w * (1 - frac), w * frac, w)))
    zs.append(
        ("horseshoe", Geometry.polygon(
            [(0, 0), (w, 0), (w, w), (0.7 * w, w), (0.7 * w, 0.3 * w), (0.3 * w, 0.3 * w), (0.3 * w, w), (0, w)]
        ))
    )
    zs.append(("tri", Geometry.polygon([(0, 0), (w + 1, 0), (0, w + 1)])))
    return zs


def build_bench_raster(spark: SparkSession) -> RasterFrame:
    """Deterministic synthetic tile table, generated distributively (no driver data):
    value = sin-based function of global (row, col), ~1% NaN holes."""
    base = RasterFrame.full(spark, BENCH_META, 0.0, raster_id="bench")
    Tsz = BENCH_META.tile_size
    df = base.df.select(
        "raster_id",
        "tile_row",
        "tile_col",
        "cell_id",
        F.transform(
            F.sequence(F.lit(0), F.size("values") - 1),
            lambda i: F.when(
                F.pmod(F.xxhash64(F.col("tile_row") * 1000000 + F.col("tile_col") * 10000 + i), 100) < 1,
                F.lit(float("nan")),
            ).otherwise(
                F.sin((F.col("tile_row") * Tsz + (i / Tsz).cast("int")).cast("double") / 97.0)
                + F.cos((F.col("tile_col") * Tsz + i % Tsz).cast("double") / 101.0)
            ),
        ).alias("values"),
    )
    return RasterFrame(df, BENCH_META, "bench")


REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def timed(fn, reps: int = REPS):
    """(min wall, [all walls]) over ``reps`` fresh executions of ``fn``."""
    walls = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        walls.append(round(time.time() - t0, 3))
    return min(walls), walls


def main():
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("rastr-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 2, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, float] = {}

    # -- flagship: PIP-join + zonal stats over the interleaved doc table --------
    # BASELINE protocol: inputs pre-generated/materialized, timing wraps only the
    # triggering action (BASELINE.md notes)
    import shutil
    import tempfile

    rf = build_bench_raster(spark)
    rf = RasterFrame(rf.df.cache(), rf.meta, rf.raster_id)
    rf.df.count()
    docs_dir = tempfile.mkdtemp(prefix="bench_docs_")
    generate_documents(
        spark, N_DOCS, seed=42, n_tile_rows=BENCH_META.n_tile_rows,
        n_tile_cols=BENCH_META.n_tile_cols, raster_id="bench", world_size=BENCH_WORLD,
    ).write.mode("overwrite").parquet(f"{docs_dir}/documents")
    docs = spark.read.parquet(f"{docs_dir}/documents")
    n_docs = N_DOCS
    zones = bench_zones()

    # warmup with the identical query (codegen/JIT/python-worker spin-up are
    # one-time session costs), then measure steady-state — same protocol as
    # scripts/scaling_run.py
    all_walls: dict[str, list[float]] = {}
    doc_zonal_stats(docs, rf, zones, salt_threshold=20000).count()
    # the headline number gets 5 reps minimum: BENCH_r03's flagship wall sat
    # ~2× above the same-code best window with 3 reps (host CPU drifts ±4×
    # minute-scale — BASELINE.md noise study); 5 samples pin the min reliably
    t_flagship, walls = timed(
        lambda: doc_zonal_stats(docs, rf, zones, salt_threshold=20000).count(),
        reps=max(REPS, 5),
    )
    results["flagship_doc_zonal"] = round(t_flagship, 3)
    all_walls["flagship_doc_zonal"] = walls
    docs_per_sec = n_docs / t_flagship

    # -- flagship under a hot-tile distribution (VERDICT r5 item 3) -------------
    # ~20% of docs get ALL their media refs rewritten to ONE tile — the
    # Zipfian-web shape the sampled salt pre-pass exists for. Salting runs only
    # when the flagship join shuffles (partials past BROADCAST_PARTIALS_MAX_ROWS);
    # at this size the partials are broadcast and both leaves run the same
    # unsalted plan, so their ratio measures noise, not salting.
    hot_ref = F.lit(f"{rf.raster_id}/0/0")
    skew_docs_df = docs.withColumn(
        "spans",
        F.when(
            F.xxhash64("doc_id") % 5 == 0,
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    F.when(s["kind"] == "media", hot_ref)
                    .otherwise(s["media_ref"])
                    .alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ),
        ).otherwise(F.col("spans")),
    )
    skew_docs_df.write.mode("overwrite").parquet(f"{docs_dir}/documents_skew")
    skew_docs = spark.read.parquet(f"{docs_dir}/documents_skew")
    t_fskew, walls = timed(
        lambda: doc_zonal_stats(skew_docs, rf, zones, salt_threshold=20000).count(),
        reps=max(REPS, 5),
    )
    results["flagship_skew_salted"] = round(t_fskew, 3)
    all_walls["flagship_skew_salted"] = walls
    t_fskew_un, walls = timed(
        lambda: doc_zonal_stats(skew_docs, rf, zones, salt_threshold=None).count(),
    )
    results["flagship_skew_unsalted"] = round(t_fskew_un, 3)
    all_walls["flagship_skew_unsalted"] = walls

    # -- stencil family at raster scale: 4096² = 16.8M cells, 4096 tiles --------
    # the halo-exchange path measured on the big bench raster (the sf-table
    # rasters are 64² — too small to evidence the strip-shuffle design). Blur
    # runs the reference-faithful preserve_nan composition: NN-extrapolate
    # pre-pass → separable gaussian (radius 8) → NaN-mask restore.
    t_blur, walls = timed(lambda: rf.blur(2 * BENCH_CELL, preserve_nan=True).df.count())
    results["raster_blur_16m_cells"] = round(t_blur, 3)
    all_walls["raster_blur_16m_cells"] = walls
    t_res, walls = timed(lambda: rf.resample(BENCH_CELL * 4).df.count())
    results["raster_resample_16m_cells"] = round(t_res, 3)
    all_walls["raster_resample_16m_cells"] = walls
    # dilate + sobel at the same raster scale (VERDICT r4 item 9 — the other
    # two stencils were only benched implicitly at 64²)
    t_dil, walls = timed(lambda: rf.dilate(2 * BENCH_CELL).df.count())
    results["raster_dilate_16m_cells"] = round(t_dil, 3)
    all_walls["raster_dilate_16m_cells"] = walls
    t_sob, walls = timed(lambda: rf.sobel().df.count())
    results["raster_sobel_16m_cells"] = round(t_sob, 3)
    all_walls["raster_sobel_16m_cells"] = walls
    # extrapolate on a MOSTLY-NaN raster (VERDICT r4 item 8): one donor per
    # 64×64 tile (~0.02% density) forces the halo-doubling loop through its
    # multi-round + target-pruned path — the one unbounded-radius operator,
    # measured at raster scale rather than the 64² sf grid
    from rastr_spark.operators.stencils import extrapolate as _extrap

    sparse = RasterFrame(
        rf.df.select(
            "raster_id", "tile_row", "tile_col", "cell_id",
            F.transform(
                "values",
                lambda v, i: F.when(i == 0, v).otherwise(F.lit(float("nan"))),
            ).alias("values"),
        ).cache(),
        BENCH_META,
        "bench_sparse",
    )
    sparse.df.count()
    t_ext, walls = timed(lambda: _extrap(sparse).df.count())
    results["raster_extrapolate_16m_cells"] = round(t_ext, 3)
    all_walls["raster_extrapolate_16m_cells"] = walls

    # -- raster operator suite on the sf tables ---------------------------------
    qs = E.queries()
    # dedup_minhash_fast: the production xxhash64 candidate-pair path, benched
    # directly (the driver query of the same name additionally writes its
    # signature table to parquet for the DuckDB oracle — an artifact write that
    # belongs to the correctness harness, not the measured operator). The md5
    # twin (dedup_minhash_lsh) exists solely for oracle portability and is
    # deliberately not benched — it hashes hex strings per (gram, hash fn).
    from rastr_spark.functions.dedup import minhash_candidate_pairs

    sf_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t, walls = timed(
        lambda: minhash_candidate_pairs(sf_docs, n=3, num_hashes=8, bands=4).count()
    )
    results["dedup_minhash_fast"] = round(t, 3)
    all_walls["dedup_minhash_fast"] = walls
    # the production Jaccard path (hash_grams=True: 8-byte xxhash64 shuffle
    # keys instead of gram strings), likewise benched without the oracle's
    # artifact write
    from rastr_spark.functions.dedup import ngram_jaccard_pairs

    t, walls = timed(
        lambda: ngram_jaccard_pairs(
            sf_docs, n=3, threshold=0.5, max_doc_freq=50, hash_grams=True
        ).count()
    )
    results["dedup_ngram_jaccard_fast"] = round(t, 3)
    all_walls["dedup_ngram_jaccard_fast"] = walls
    for name in [
        "raster_zonal_stats",
        "raster_sample_points",
        "raster_add",
        "raster_knn",
        "dedup_ngram_jaccard",
        "sim_embedding_topk",
        "text_token_stats",
        "tpch_q1_pricing_summary",
    ]:
        t, walls = timed(lambda name=name: qs[name](spark, SF_DIR).count())
        results[name] = round(t, 3)
        all_walls[name] = walls

    # -- 1M-doc MinHash dedup (fast path): signature+banding throughput ---------
    # pre-materialized corpus (BASELINE protocol); agg over bucket forces the
    # full signature computation (a bare count() could prune the hash exprs)
    from rastr_spark.functions.dedup import minhash_lsh_buckets
    from rastr_spark.sources.documents import generate_text_corpus

    n_dedup = int(os.environ.get("SPARK_GRAFT_BENCH_DEDUP_DOCS", "1000000"))
    generate_text_corpus(spark, n_dedup, seed=7).write.mode("overwrite").parquet(
        f"{docs_dir}/corpus"
    )
    corpus = spark.read.parquet(f"{docs_dir}/corpus")
    t_dedup, walls = timed(
        lambda: minhash_lsh_buckets(corpus, n=3, num_hashes=8, bands=4)
        .agg(F.countDistinct("bucket"))
        .collect()
    )
    results["dedup_minhash_1m"] = round(t_dedup, 3)
    all_walls["dedup_minhash_1m"] = walls

    # -- end-to-end fuzzy dedup at corpus scale ---------------------------------
    # exact pre-pass + LSH candidates + Jaccard verify + connected components +
    # canonical assignment over ~210k docs: 10% planted EXACT dups (exercise the
    # pre-pass) + 5% planted NEAR dups (one appended token — these pass the
    # pre-pass and exercise the LSH/verify/CC stages on real candidate pairs;
    # a corpus of only exact dups would leave those stages measuring nothing)
    from rastr_spark.functions.dedup import fuzzy_dedup_assign

    n_fuzzy_base = int(os.environ.get("SPARK_GRAFT_BENCH_FUZZY_DOCS", "200000"))
    base_corpus = generate_text_corpus(spark, n_fuzzy_base, seed=11)
    near = base_corpus.filter(F.col("doc_id") % 20 == 3).select(
        (F.col("doc_id") + n_fuzzy_base).alias("doc_id"),
        F.concat("text", F.lit(" zzq")).alias("text"),
    )
    base_corpus.unionByName(near).write.mode("overwrite").parquet(
        f"{docs_dir}/fuzzy_corpus"
    )
    fuzzy_corpus = spark.read.parquet(f"{docs_dir}/fuzzy_corpus")
    n_fuzzy = fuzzy_corpus.count()
    t_fuzzy, walls = timed(
        lambda: fuzzy_dedup_assign(
            fuzzy_corpus, n=3, num_hashes=8, bands=4, threshold=0.8,
            max_bucket_size=1000,
        )
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .count()
    )
    results["dedup_fuzzy_200k"] = round(t_fuzzy, 3)
    all_walls["dedup_fuzzy_200k"] = walls

    # -- Zipf-skew adversarial fuzzy dedup (VERDICT r4 item 3) ------------------
    # 20% of docs are ONE boilerplate template + a unique numeric suffix: they
    # share nearly every shingle and minhash band, collapsing into a handful of
    # degenerate buckets. The max_bucket_size cap must keep candidate fan-out
    # (and therefore wall time) within ~2× of the uniform corpus line — this is
    # the 100 TB Zipfian-web evidence the caps exist for (SURVEY §4.2); the
    # skew_vs_uniform_ratio field records it per round.
    boiler = (
        "the universal boilerplate header text that appears on every templated "
        "page of this corpus with the same navigation links and the same legal "
        "footer disclaimers repeated verbatim across all generated pages"
    )
    skew_corpus_df = base_corpus.unionByName(near).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(boiler + " variant "), F.col("doc_id").cast("string")),
        ).otherwise(F.col("text")),
    )
    skew_corpus_df.write.mode("overwrite").parquet(f"{docs_dir}/skew_corpus")
    skew_corpus = spark.read.parquet(f"{docs_dir}/skew_corpus")
    t_skew, walls = timed(
        lambda: fuzzy_dedup_assign(
            skew_corpus, n=3, num_hashes=8, bands=4, threshold=0.8,
            max_bucket_size=1000,
        )
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .count()
    )
    results["dedup_fuzzy_skew_200k"] = round(t_skew, 3)
    all_walls["dedup_fuzzy_skew_200k"] = walls

    # -- fuzzy dedup at 1M (VERDICT r4 item 4) ----------------------------------
    # the end-to-end pipeline at the same corpus size as the minhash line, with
    # planted near-dups and the CC round telemetry recorded
    near_1m = corpus.filter(F.col("doc_id") % 20 == 3).select(
        (F.col("doc_id") + n_dedup).alias("doc_id"),
        F.concat("text", F.lit(" zzq")).alias("text"),
    )
    corpus.unionByName(near_1m).write.mode("overwrite").parquet(
        f"{docs_dir}/fuzzy_corpus_1m"
    )
    fuzzy_corpus_1m = spark.read.parquet(f"{docs_dir}/fuzzy_corpus_1m")
    n_fuzzy_1m = fuzzy_corpus_1m.count()
    cc_rounds_1m: list[dict] = []

    def _fuzzy_1m():
        cc_rounds_1m.clear()
        return (
            fuzzy_dedup_assign(
                fuzzy_corpus_1m, n=3, num_hashes=8, bands=4, threshold=0.8,
                max_bucket_size=1000, cc_metrics=cc_rounds_1m,
            )
            .filter(F.col("doc_id") != F.col("canonical_id"))
            .count()
        )

    t_fuzzy_1m, walls = timed(_fuzzy_1m)
    results["dedup_fuzzy_1m"] = round(t_fuzzy_1m, 3)
    all_walls["dedup_fuzzy_1m"] = walls

    # -- substring-level (span) dedup signal at corpus scale --------------------
    # duplicated_window_stats (Lee et al. 2022 measurement) on the same 210k
    # corpus: one 8-byte hash per 16-token window, distinct'd per doc before
    # the shuffle — the production xxhash64 path (the md5 twin exists for the
    # text_dup_windows oracle)
    from rastr_spark.functions.dedup import duplicated_window_stats

    t_dwin, walls = timed(
        lambda: duplicated_window_stats(fuzzy_corpus, window=16)
        .agg(F.sum("n_dup_windows"), F.sum("n_windows"))
        .collect()
    )
    results["text_dup_windows_200k"] = round(t_dwin, 3)
    all_walls["text_dup_windows_200k"] = walls

    # -- composed curation pipeline at corpus scale -----------------------------
    # the end-to-end workflow the engine exists for (quality/lang gate → exact +
    # fuzzy dedup → BPE token budgets → keep decision), timed over the SAME 210k
    # corpus as the fuzzy line. langs allowlists 'unk': the synthetic vocabulary
    # carries no English stopwords, and an empty passing set would let the fuzzy
    # stage measure nothing.
    from rastr_spark.plans.datapipe import curate_corpus

    t_curate, walls = timed(
        lambda: curate_corpus(
            fuzzy_corpus, min_quality=0.5, langs=("en", "unk"), n=3,
            num_hashes=8, bands=4, jaccard_threshold=0.8, max_bucket_size=1000,
        )
        .filter(F.col("keep"))
        .agg(F.count("*"), F.sum("bpe_tokens"))
        .collect()
    )
    results["pipeline_curate_200k"] = round(t_curate, 3)
    all_walls["pipeline_curate_200k"] = walls

    # -- composed curation at 1M (VERDICT r5 item 5) -----------------------------
    # fuzzy has its 1M line; this measures the thing a training-data owner
    # actually runs — the full gate→dedup→budget→keep pipeline — at the same
    # corpus size, reusing the fuzzy_1m corpus.
    t_curate_1m, walls = timed(
        lambda: curate_corpus(
            fuzzy_corpus_1m, min_quality=0.5, langs=("en", "unk"), n=3,
            num_hashes=8, bands=4, jaccard_threshold=0.8, max_bucket_size=1000,
        )
        .filter(F.col("keep"))
        .agg(F.count("*"), F.sum("bpe_tokens"))
        .collect()
    )
    results["pipeline_curate_1m"] = round(t_curate_1m, 3)
    all_walls["pipeline_curate_1m"] = walls

    # -- streaming micro-bench: file source → availableNow drain ----------------
    # throughput evidence for the streaming family (VERDICT r3 item 6): 100k rows
    # through the bounded-state exact dedup, and through the stream-static LSH
    # near-dup flagger (reference index = the corpus's own buckets on parquet)
    from rastr_spark.functions.dedup import minhash_lsh_buckets as _mlb
    from rastr_spark.streaming.updates import streaming_dedup_exact, streaming_near_dup_hits

    n_stream = int(os.environ.get("SPARK_GRAFT_BENCH_STREAM_DOCS", "100000"))
    stream_src = f"{docs_dir}/stream_docs"
    generate_text_corpus(spark, n_stream, seed=23).select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.pmod("doc_id", F.lit(300))).alias("ts"),
    ).write.mode("overwrite").parquet(stream_src)
    ref_buckets_path = f"{docs_dir}/ref_buckets"
    _mlb(corpus.limit(200000), n=3, num_hashes=8, bands=4).write.mode("overwrite").parquet(
        ref_buckets_path
    )
    ref_buckets = spark.read.parquet(ref_buckets_path)
    stream_schema = "doc_id long, text string, ts timestamp"
    _stream_rep = {"i": 0}

    def _drain(make_sink):
        _stream_rep["i"] += 1
        name = f"bench_stream_{_stream_rep['i']}"
        stream = spark.readStream.schema(stream_schema).parquet(stream_src)
        q = (
            make_sink(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.catalog.dropTempView(name)

    t_sdedup, walls = timed(
        lambda: _drain(lambda s: streaming_dedup_exact(s, watermark="10 minutes"))
    )
    results["streaming_dedup_100k"] = round(t_sdedup, 3)
    all_walls["streaming_dedup_100k"] = walls
    t_sneardup, walls = timed(
        lambda: _drain(
            lambda s: streaming_near_dup_hits(s, ref_buckets, n=3, num_hashes=8, bands=4)
        )
    )
    results["streaming_neardup_100k"] = round(t_sneardup, 3)
    all_walls["streaming_neardup_100k"] = walls

    # -- multimodal real-codec decode: PNG grid features + WAV window RMS -------
    # (the one operator family with no bench line until round 5; runs the REAL
    # pure-stdlib codecs — no fake decoder — over a pre-materialized media table,
    # PNG filter types cycling 0-4 so the Paeth/Average serial unfilter paths are
    # included in the measurement)
    from rastr_spark.functions.multimodal import (
        audio_features,
        image_features,
        synthesize_media_lossless,
    )

    n_media = int(os.environ.get("SPARK_GRAFT_BENCH_MEDIA", "20000"))
    media_dir = f"/tmp/rastr_bench_media_{os.getpid()}"
    synthesize_media_lossless(spark, n_media).write.mode("overwrite").parquet(media_dir)
    media_tbl = spark.read.parquet(media_dir)

    def _decode_all():
        img = image_features(media_tbl, grid=4, fake_decode=False)
        aud = audio_features(media_tbl, n_windows=8, window_samples=256, fake_decode=False)
        assert img.unionByName(aud).count() == n_media

    t_media, walls = timed(_decode_all)
    results["multimodal_codec_20k"] = round(t_media, 3)
    all_walls["multimodal_codec_20k"] = walls
    shutil.rmtree(media_dir, ignore_errors=True)

    shutil.rmtree(docs_dir, ignore_errors=True)
    total = round(sum(results.values()), 3)
    out = {
        "metric": "pip-join+zonal-stats end-to-end suite wall time (min of k)",
        "value": total,
        "unit": "sec",
        "queries": results,
        "all_walls": all_walls,
        "reps": REPS,
        "sf": SF_DIR,
        "cpus": CPUS,
        "n_docs": n_docs,
        "docs_per_sec": round(docs_per_sec, 1),
        "dedup_docs": n_dedup,
        "dedup_docs_per_sec": round(n_dedup / t_dedup, 1),
        "fuzzy_docs": n_fuzzy,
        "fuzzy_docs_per_sec": round(n_fuzzy / t_fuzzy, 1),
        "skew_vs_uniform_ratio": round(t_skew / t_fuzzy, 2),
        "fuzzy_1m_docs": n_fuzzy_1m,
        "fuzzy_1m_docs_per_sec": round(n_fuzzy_1m / t_fuzzy_1m, 1),
        "fuzzy_1m_cc_rounds": len(cc_rounds_1m),
        "curate_docs_per_sec": round(n_fuzzy / t_curate, 1),
        "curate_1m_docs_per_sec": round(n_fuzzy_1m / t_curate_1m, 1),
        "flagship_skew_vs_uniform_ratio": round(t_fskew / t_flagship, 2),
        "flagship_unsalted_vs_salted_ratio": round(t_fskew_un / t_fskew, 2),
        "media_rows": n_media,
        "media_decode_rows_per_sec": round(n_media / t_media, 1),
        "stream_docs": n_stream,
        "streaming_dedup_docs_per_sec": round(n_stream / t_sdedup, 1),
        "streaming_neardup_docs_per_sec": round(n_stream / t_sneardup, 1),
    }
    scaling_file = Path(__file__).resolve().parent / "BENCH_SCALING.json"
    if scaling_file.exists():
        s = json.loads(scaling_file.read_text())
        out["scaling"] = {
            "efficiency": s.get("scaling_efficiency"),
            "pass": s.get("pass"),
            "levels": [r.get("cpus") for r in s.get("runs", [])],
            "docs_per_sec": [round(r.get("docs_per_sec", 0), 1) for r in s.get("runs", [])],
        }
    # stdout is the driver contract, but its capture truncates long lines
    # (BENCH_r05.json lost its tail) — persist the full record to a file too
    payload = json.dumps(out)
    (Path(__file__).resolve().parent / "BENCH_LOCAL.json").write_text(payload + "\n")
    print(payload)
    spark.stop()


if __name__ == "__main__":
    main()
