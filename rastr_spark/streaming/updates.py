"""Structured Streaming over cell updates.

The reference is batch-only ("streaming support planned", reference README.md:158);
the engine adds the Spark-native path: a stream of cell updates
(ts, row, col, value) → watermarked tumbling-window aggregation per tile →
checkpoint-backed sink. Late data beyond the watermark is dropped by Spark's state
store; per-tile partial aggregates mirror the batch partial/final model
(operators/aggregates.py), so a streaming zonal-stats consumer composes the same way.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

UPDATE_SCHEMA = "ts timestamp, row int, col int, value double"


def read_update_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of cell updates (parquet drops into ``path``)."""
    return spark.readStream.schema(UPDATE_SCHEMA).parquet(path)


def windowed_tile_stats(
    updates: DataFrame,
    *,
    tile_size: int = 256,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window per-tile NaN-ignoring stats with late-data watermark."""
    ok = ~F.isnan("value")
    return (
        updates.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            (F.col("row") / tile_size).cast("int").alias("tile_row"),
            (F.col("col") / tile_size).cast("int").alias("tile_col"),
        )
        .agg(
            F.sum(ok.cast("long")).alias("cnt"),
            F.sum(F.when(ok, F.col("value")).otherwise(0.0)).alias("s"),
            F.min(F.when(ok, F.col("value"))).alias("mn"),
            F.max(F.when(ok, F.col("value"))).alias("mx"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "tile_row",
            "tile_col",
            "cnt",
            "s",
            (F.col("s") / F.col("cnt")).alias("mean"),
            "mn",
            "mx",
        )
    )


def _merge_tile_cells(key, pdf_iter, state, policy: str):
    """``running_tile_state``'s per-tile update: merge the micro-batch into
    the state's {cell → (value, ts)} map and emit the tile's summary row."""
    tr, tc = int(key[0]), int(key[1])
    if state.exists:
        s_rows, s_cols, s_vals, s_ts = state.get
        cells = {
            (r, c): (v, t)
            for r, c, v, t in zip(s_rows, s_cols, s_vals, s_ts)
        }
    else:
        cells = {}
    for pdf in pdf_iter:
        ts = pdf["ts"].astype("int64").to_numpy() / 1e9
        for r, c, v, t in zip(pdf["row"], pdf["col"], pdf["value"], ts):
            if v != v:  # NaN update = no-op
                continue
            k = (int(r), int(c))
            if k not in cells:
                cells[k] = (float(v), float(t))
            elif policy == "last" and t >= cells[k][1]:
                cells[k] = (float(v), float(t))
            # policy == "first": keep existing
    state.update(
        (
            [k[0] for k in cells],
            [k[1] for k in cells],
            [v[0] for v in cells.values()],
            [v[1] for v in cells.values()],
        )
    )
    total = sum(v[0] for v in cells.values())
    yield pd.DataFrame(
        {"tile_row": [tr], "tile_col": [tc], "n_cells": [len(cells)], "sum_value": [total]}
    )


def running_tile_state(
    updates: DataFrame,
    *,
    tile_size: int = 256,
    policy: str = "last",
):
    """Custom stateful operator: a continuously-maintained per-tile cell map.

    ``applyInPandasWithState`` keyed by tile: state = the tile's sparse
    {cell → value} dict, merged with each micro-batch (policy 'last' = newest
    update wins by timestamp, 'first' = first writer wins — the streaming twin of
    the mosaic precedence rule). Emits one row per touched tile per batch with the
    tile's current non-NaN cell count and sum — a live, resumable (state-store
    checkpointed) version of the batch tile table.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "tile_row INT, tile_col INT, n_cells BIGINT, sum_value DOUBLE"
    state_schema = "rows ARRAY<INT>, cols ARRAY<INT>, vals ARRAY<DOUBLE>, ts ARRAY<DOUBLE>"

    # ships the module-level merge by reference: unpickling it on a worker
    # imports the package (rastr_spark/zipcache.py)
    def update_fn(key, pdf_iter, state):
        return _merge_tile_cells(key, pdf_iter, state, policy)

    # applyInPandasWithState resolves grouping keys by column name — materialize
    # the tile key as real columns first
    keyed = (
        updates.withColumn("tile_row", (F.col("row") / tile_size).cast("int"))
        .withColumn("tile_col", (F.col("col") / tile_size).cast("int"))
        .groupBy("tile_row", "tile_col")
    )
    return keyed.applyInPandasWithState(
        update_fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_to_memory(stats: DataFrame, query_name: str):
    """Drain the stream with availableNow into an in-memory table (tests/demos)."""
    return (
        stats.writeStream.format("memory")
        .queryName(query_name)
        # complete mode: append would emit only watermark-finalized windows, which
        # never happens within a single availableNow drain
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_exact(
    docs: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep ONE representative of each distinct text.

    The streaming member of the dedup family (functions/dedup.py): rows are
    keyed by the xxhash64 content fingerprint and deduplicated with
    ``dropDuplicatesWithinWatermark`` — state for a fingerprint is dropped once
    the watermark passes it, so state size is bounded by the dedup horizon
    instead of growing with the stream (the property that lets this run
    forever on an ingest firehose). Duplicates arriving within the watermark
    window of each other are guaranteed to be caught (within one micro-batch the
    surviving row is an arbitrary member of the group — Spark's documented
    dropDuplicates semantics); re-occurrences farther apart than the horizon
    are a deliberate trade-off (dedup horizon = watermark), exactly like any
    TTL'd streaming dedup.

    The dedup key is a 128-bit fingerprint (two independently-seeded xxhash64
    values plus the text length), not the raw text — state stays fixed-width
    per entry regardless of document size. A false drop of a DISTINCT document
    requires simultaneous collision of both hashes within the watermark
    horizon: P ≈ pairs·2⁻¹²⁸, negligible at any stream rate.
    """
    # the SAME fingerprint definition batch dedup_exact / fuzzy_dedup_assign
    # key their shuffles on (functions/dedup.py: _FP_SEED placed FIRST for
    # hash independence). Column NAMES are kept at the original _fp/_fp2/_ln:
    # they are this operator's state-store key schema, and renaming them would
    # fail the schema-compatibility check on restart of any existing streaming
    # query from its checkpoint (losing the bounded dedup state).
    from ..functions.dedup import _FP_SEED

    return (
        docs.withColumn("_fp", F.xxhash64(F.col(text_col)))
        .withColumn("_fp2", F.xxhash64(F.lit(_FP_SEED), F.col(text_col)))
        .withColumn("_ln", F.length(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp", "_fp2", "_ln"])
        .drop("_fp", "_fp2", "_ln")
    )


def streaming_minhash_buckets(
    docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH buckets over a document STREAM.

    Stateless: the signature/banding pipeline (functions/dedup.py
    minhash_lsh_buckets) is pure projection — no state store, no watermark —
    so it runs unbounded at ingest rate. Feeds a bucket-index sink, or
    :func:`streaming_near_dup_hits` for online near-dup detection.
    """
    from ..functions.dedup import minhash_lsh_buckets

    return minhash_lsh_buckets(
        docs, n=n, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, hash_family=hash_family,
    )


def streaming_near_dup_hits(
    stream_docs: DataFrame,
    reference_buckets: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Online near-dup detection: flag arriving docs whose LSH bucket collides
    with a STATIC reference index (the already-ingested corpus's buckets, e.g.
    from :func:`functions.dedup.minhash_lsh_buckets` persisted to parquet).

    Stream-static inner equi-join on (band, bucket) — supported statelessly by
    Structured Streaming; the static side is broadcast/shuffled per micro-batch
    by the normal batch planner. Emits one row per (arriving doc, matching
    reference doc, band); deduplicate downstream per consumer policy (a
    blanket ``distinct`` would be stateful — left to the sink, where the
    aggregation mode is known). The banding guarantee is the batch one: a
    reference doc whose signature agrees on ≥1 band is emitted.
    """
    b = streaming_minhash_buckets(
        stream_docs, n=n, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, hash_family=hash_family,
    ).withColumnRenamed("id", "stream_id")
    ref = reference_buckets.select(
        F.col("id").alias("ref_id"), "band", "bucket"
    )
    return b.join(ref, ["band", "bucket"]).select("stream_id", "ref_id", "band")


def streaming_near_dup_hits_vs_index(
    stream_docs: DataFrame,
    index_dir: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Online near-dup detection against the PERSISTED dedup index
    (:func:`functions.dedup.build_dedup_index`) — the batch and streaming
    paths share ONE index contract: the stream's banding parameters are
    validated against the index's params manifest (the same check
    ``incremental_dedup_assign`` applies), and the reference buckets are
    recomputed from the stored fixed-width signatures — pure arithmetic, no
    corpus text, with the signature-length guard on the artifact.

    Emits one row per (arriving doc, colliding indexed rep, band) with the
    rep's canonical_id — a live feed of "this incoming doc is a near-dup of
    cluster X" for the ingest firehose.
    """
    from ..functions.dedup import (
        lsh_buckets_from_signatures,
        validate_index_params,
    )

    spark = stream_docs.sparkSession
    validate_index_params(
        spark, index_dir, n=n, num_hashes=num_hashes, bands=bands,
        hash_family=hash_family,
    )
    sigs = spark.read.parquet(f"{index_dir}/signatures")
    ref = lsh_buckets_from_signatures(
        sigs.select("id", "sig"), num_hashes=num_hashes, bands=bands,
        hash_family=hash_family,
    ).join(
        sigs.select("id", "canonical_id"), "id"
    ).select(F.col("id").alias("ref_id"), "canonical_id", "band", "bucket")
    b = streaming_minhash_buckets(
        stream_docs, n=n, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, hash_family=hash_family,
    ).withColumnRenamed("id", "stream_id")
    return b.join(ref, ["band", "bucket"]).select(
        "stream_id", "ref_id", "canonical_id", "band"
    )
