"""Training-data curation pipeline: the composed workflow a corpus owner runs.

One declarative plan over a raw document table:

    quality/lang annotation → exact dedup (min-id survivor) → fuzzy near-dup
    clustering → token budgeting → per-doc keep/drop decision

Every stage is an already-oracled operator (functions/text.py,
functions/dedup.py). Execution shape: the annotation/filter/join stages are
lazy Catalyst plans, but ``curate_corpus`` runs eager Spark jobs at CALL time
in two places: the annotated table is localCheckpointed (the dedup stack scans
its input several times), and the fuzzy-dedup stage's connected-components
step clusters the verified edges (see connected_components), with the
resulting component table held in a GC-bounded localCheckpoint. Total cost is
a handful of shuffles regardless of corpus size: one fingerprint-keyed
groupBy for the exact pass (128-bit content fingerprints, never document
bytes, as shuffle keys — see functions/dedup.py), the LSH banding joins for
the fuzzy pass, and one final join back to the annotations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import fuzzy_dedup_assign
from ..functions.text import doc_annotations


def curate_corpus(
    docs: DataFrame,
    *,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
    cc_metrics: list | None = None,
) -> DataFrame:
    """Per-doc curation decision table.

    The annotated table is localCheckpointed (eagerly) before the fuzzy stage:
    the dedup pipeline scans its input several times (reps, LSH, rep mapping)
    and the final keep-decision join reads the annotations again, so without
    the cut each scan would re-execute the annotation expressions. Storage
    cost is the annotated corpus spilled MEMORY_AND_DISK on executors.

    Returns (doc_id, quality, lang, bpe_tokens, ws_tokens, canonical_id, keep):

    - ``canonical_id``: the doc's near-dup cluster representative
      (fuzzy_dedup_assign — exact pre-pass + LSH + Jaccard verify + connected
      components), computed over the quality/lang-passing subset only (there
      is no reason to pay LSH for docs already rejected).
    - ``keep``: passes the quality floor AND the language allowlist AND is its
      cluster's canonical member. ``sum(bpe_tokens) WHERE keep`` is the
      training-token budget of the curated corpus.
    """
    # fused single-tokenization annotation (doc_annotations — bit-identical to
    # the per-column functions, one tokens pass instead of ~8); the two-step
    # select keeps the struct expression evaluated once per row (CollapseProject
    # does not inline a non-cheap expression referenced four times)
    annotated = docs.select(
        id_col, text_col, doc_annotations(F.col(text_col)).alias("_ann")
    ).select(
        id_col,
        text_col,
        F.col("_ann.quality").alias("quality"),
        F.col("_ann.lang").alias("lang"),
        F.col("_ann.bpe_tokens").alias("bpe_tokens"),
        F.col("_ann.ws_tokens").alias("ws_tokens"),
    )
    # annotate once for every later scan (210k-doc A/B: 16.8-20.6 s → 11.9-13.9 s)
    annotated = annotated.localCheckpoint(eager=True)
    passing = annotated.filter(
        (F.col("quality") >= min_quality) & (F.col("lang").isin(list(langs)))
    ).select(id_col, text_col)
    assign = fuzzy_dedup_assign(
        passing, n=n, num_hashes=num_hashes, bands=bands,
        threshold=jaccard_threshold, id_col=id_col, text_col=text_col,
        hash_family=hash_family, max_bucket_size=max_bucket_size,
        cc_metrics=cc_metrics,
    )
    out = annotated.join(assign, id_col, "left")
    return out.select(
        id_col,
        "quality",
        "lang",
        "bpe_tokens",
        "ws_tokens",
        "canonical_id",  # NULL = rejected before dedup
        (
            F.col("canonical_id").isNotNull()
            & (F.col("canonical_id") == F.col(id_col))
        ).alias("keep"),
    )


def fuzzy_dedup_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    *,
    ckpt_dir: str,
    input_fingerprint: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
    max_iters: int = 25,
):
    """Fuzzy dedup with per-stage checkpoint fences (north rule: "resumable
    mid-join" applied to the flagship DATA pipeline, as flagship_checkpointed
    applies it to the spatial one).

    Four fenced stages, each a manifest-committed parquet table with
    per-partition lineage/metrics (sources.checkpoint):

      1. ``dedup_reps``        — fingerprint-keyed exact collapse: one min-id
                                 representative row per distinct text, carrying
                                 the fingerprint columns (= the rep mapping)
      2. ``dedup_edges``       — LSH candidates + exact Jaccard verify
      3. ``dedup_components``  — connected components over the edges; the
                                 per-round (round, changed, wall) telemetry is
                                 recorded to the manager's round-metrics table,
                                 so a 100 TB clustering job is observable
                                 mid-run and post-mortem
      4. ``dedup_assign``      — (doc_id, canonical_id) for every input doc

    A failure between stages resumes from the last COMMITTED manifest — e.g. a
    crash during clustering re-runs CC from the checkpointed edge table without
    re-shingling the corpus. Returns (assignment DataFrame, [StageResult × 4]).

    Stage identity = (stage name, input_fingerprint + ALL algorithm parameters):
    re-running with a different threshold/banding/cap against the same
    checkpoint dir recomputes instead of silently resuming the old-parameter
    tables. The rep-collapse and assignment stages are the SAME helpers
    fuzzy_dedup_assign uses (functions/dedup.py exact_rep_table /
    assign_canonical) — the one-shot and fenced pipelines cannot drift.
    """
    from ..functions.dedup import (
        _FP_NAMES,
        _fp_cols,
        assign_canonical,
        connected_components,
        exact_rep_table,
        verified_near_dup_edges,
    )
    from ..sources.checkpoint import CheckpointManager

    cm = CheckpointManager(ckpt_dir)
    keyed = docs.select(id_col, text_col).select("*", *_fp_cols(text_col))
    fp_names = list(_FP_NAMES)
    eff_fp = (
        f"{input_fingerprint}|n={n}|nh={num_hashes}|b={bands}|t={threshold}"
        f"|hf={hash_family}|cap={max_bucket_size}"
        f"|id={id_col}|txt={text_col}|mi={max_iters}"
    )

    reps_stage = cm.run_stage(
        spark,
        "dedup_reps",
        eff_fp,
        lambda: exact_rep_table(keyed, fp_names, id_col),
    )
    edges_stage = cm.run_stage(
        spark,
        "dedup_edges",
        eff_fp,
        lambda: verified_near_dup_edges(
            reps_stage.df.select(id_col, text_col), n=n, num_hashes=num_hashes,
            bands=bands, threshold=threshold, id_col=id_col, text_col=text_col,
            hash_family=hash_family, max_bucket_size=max_bucket_size,
        ),
    )

    # reliable per-round fences (the stage fence resumes BETWEEN stages; this
    # resumes WITHIN clustering — a mid-round crash of a 100 TB job restarts
    # at the last committed round, not at round 0). The dir is keyed by the
    # effective fingerprint so a parameter change can never resume from
    # another run's label tables. Built by string concatenation, NOT pathlib:
    # Path() collapses URI schemes ('s3a://bucket/x' → 's3a:/bucket/x') and
    # the fence machinery (_hadoop_fs) exists precisely so a non-local
    # checkpoint root works (ADVICE r6).
    import hashlib

    cc_dir = f"{ckpt_dir}/cc_rounds_{hashlib.md5(eff_fp.encode()).hexdigest()[:16]}"

    def build_components() -> DataFrame:
        rounds: list[dict] = []
        comp = connected_components(
            edges_stage.df, max_iters=max_iters, metrics=rounds,
            reliable_dir=cc_dir,
        )
        cm.record_round_metrics(spark, "dedup_components", rounds, run_fp=eff_fp)
        return comp

    comp_stage = cm.run_stage(spark, "dedup_components", eff_fp, build_components)
    # the stage manifest is committed: the per-round label tables are dead
    # weight now (rounds × nodes of parquet per run) — drop them on EVERY
    # invocation that sees the committed stage, not just the one that built
    # it (a crash between manifest commit and this delete used to orphan the
    # tables forever, since the resumed branch never cleaned — ADVICE r6)
    from ..functions.dedup import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, cc_dir)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    assign_stage = cm.run_stage(
        spark,
        "dedup_assign",
        eff_fp,
        lambda: assign_canonical(keyed, fp_names, reps_stage.df, comp_stage.df, id_col),
    )
    return assign_stage.df, [reps_stage, edges_stage, comp_stage, assign_stage]
