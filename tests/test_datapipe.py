"""Composed curation pipeline (plans/datapipe.py): quality gate → dedup →
token budgeting → keep decision."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from rastr_spark.plans.datapipe import curate_corpus


class TestDocAnnotations:
    def test_fused_annotations_match_column_functions(self, spark):
        """The r7 single-tokenization annotation struct must be bit-identical
        to the four standalone column functions it fuses (curate_corpus'
        output hashes depend on it)."""
        from rastr_spark.functions.text import (
            bpe_token_count,
            doc_annotations,
            lang_id,
            quality_score,
            token_count,
        )
        from rastr_spark.sources.documents import generate_text_corpus

        docs = generate_text_corpus(spark, 200, seed=5).unionByName(
            spark.createDataFrame(
                [
                    (9001, "the of and to in is it for on a reasonable english text"),
                    (9002, "non-ascii snippet with ünïcödé characters inside"),
                    (9003, ""),
                    (9004, "x"),
                    (9005, "punct! 123 456 'll 've mixed-case Words, and   spaces"),
                ],
                "doc_id long, text string",
            )
        )
        sep = {
            r["doc_id"]: (r["q"], r["l"], r["b"], r["w"])
            for r in docs.select(
                "doc_id",
                quality_score(F.col("text")).alias("q"),
                lang_id(F.col("text")).alias("l"),
                bpe_token_count(F.col("text")).cast("long").alias("b"),
                token_count(F.col("text")).cast("long").alias("w"),
            ).collect()
        }
        fused = {
            r["doc_id"]: (
                r["_ann"]["quality"], r["_ann"]["lang"],
                r["_ann"]["bpe_tokens"], r["_ann"]["ws_tokens"],
            )
            for r in docs.select(
                "doc_id", doc_annotations(F.col("text")).alias("_ann")
            ).collect()
        }
        assert sep == fused


class TestCurateCorpus:
    def test_end_to_end_decisions(self, spark):
        good = "the quick brown fox jumps over the lazy dog and runs on for a while longer"
        rows = [
            (0, good),                          # keeper (en, quality passes)
            (1, good),                          # exact dup of 0 → dropped
            (2, good + " extra"),               # near dup of 0 → dropped
            (3, "short text"),                  # quality reject (too few tokens)
            (4, "ein text ohne englische stoppwoerter aber mit vielen langen woertern hier drin ja"),  # lang reject
            (5, "the second keeper document is about morton codes and it is long enough for the gate to pass"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in curate_corpus(
                docs, min_quality=0.5, langs=("en",), n=3, num_hashes=8,
                bands=4, jaccard_threshold=0.5,
            ).collect()
        }
        assert out[0]["keep"] and out[0]["canonical_id"] == 0
        assert not out[1]["keep"] and out[1]["canonical_id"] == 0
        assert not out[2]["keep"] and out[2]["canonical_id"] == 0
        assert not out[3]["keep"] and out[3]["canonical_id"] is None  # rejected pre-dedup
        assert not out[4]["keep"] and out[4]["canonical_id"] is None
        assert out[5]["keep"] and out[5]["canonical_id"] == 5
        # token budget of the curated corpus = sum over keepers
        assert all(out[i]["bpe_tokens"] >= out[i]["ws_tokens"] for i in out)

    def test_budget_aggregation(self, spark):
        docs = spark.createDataFrame(
            [(i, f"the quick brown fox number {i} jumps over the lazy dog repeatedly today") for i in range(20)],
            "doc_id long, text string",
        )
        out = curate_corpus(docs, min_quality=0.5, langs=("en",))
        budget = (
            out.filter("keep").agg(F.sum("bpe_tokens").alias("b")).collect()[0]["b"]
        )
        assert budget > 0


class TestCheckpointedFuzzyDedup:
    def _docs(self, spark):
        rows = [(i, f"unique document body number {i} with several distinct words") for i in range(30)]
        rows += [(100 + i, f"unique document body number {i} with several distinct words") for i in range(10)]  # exact dups
        rows += [(200 + i, f"unique document body number {i} with several distinct words extra") for i in range(5)]  # near dups
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_matches_one_shot_and_resumes(self, spark, tmp_path):
        from rastr_spark.functions.dedup import fuzzy_dedup_assign
        from rastr_spark.plans.datapipe import fuzzy_dedup_checkpointed
        from rastr_spark.sources.checkpoint import CheckpointManager

        docs = self._docs(spark)
        out, stages = fuzzy_dedup_checkpointed(
            spark, docs, ckpt_dir=str(tmp_path / "ck"), input_fingerprint="fp-1",
            n=2, num_hashes=8, bands=4, threshold=0.5,
        )
        got = {r["doc_id"]: r["canonical_id"] for r in out.collect()}
        want = {
            r["doc_id"]: r["canonical_id"]
            for r in fuzzy_dedup_assign(
                docs, n=2, num_hashes=8, bands=4, threshold=0.5
            ).collect()
        }
        assert got == want
        assert all(not s.resumed for s in stages)
        # CC round telemetry landed in the manager's metrics table
        cm = CheckpointManager(tmp_path / "ck")
        mets = cm.read_round_metrics(spark).collect()
        assert mets and all(m["stage"] == "dedup_components" for m in mets)
        # second run with the same fingerprint: every stage resumes from its
        # committed manifest, result identical
        out2, stages2 = fuzzy_dedup_checkpointed(
            spark, docs, ckpt_dir=str(tmp_path / "ck"), input_fingerprint="fp-1",
            n=2, num_hashes=8, bands=4, threshold=0.5,
        )
        assert all(s.resumed for s in stages2)
        assert {r["doc_id"]: r["canonical_id"] for r in out2.collect()} == want

    def test_crash_mid_pipeline_resumes_committed_stages(self, spark, tmp_path):
        from rastr_spark.plans.datapipe import fuzzy_dedup_checkpointed
        from rastr_spark.sources.checkpoint import CheckpointManager

        docs = self._docs(spark)
        fuzzy_dedup_checkpointed(
            spark, docs, ckpt_dir=str(tmp_path / "ck"), input_fingerprint="fp-1",
            n=2, num_hashes=8, bands=4, threshold=0.5,
        )
        # simulate a crash after stage 2: downstream manifests gone
        cm = CheckpointManager(tmp_path / "ck")
        cm.invalidate("dedup_components")
        cm.invalidate("dedup_assign")
        out, stages = fuzzy_dedup_checkpointed(
            spark, docs, ckpt_dir=str(tmp_path / "ck"), input_fingerprint="fp-1",
            n=2, num_hashes=8, bands=4, threshold=0.5,
        )
        by_name = {s.name: s for s in stages}
        assert by_name["dedup_reps"].resumed and by_name["dedup_edges"].resumed
        assert not by_name["dedup_components"].resumed
        assert not by_name["dedup_assign"].resumed
        assert out.count() == 45

    def test_parameter_change_recomputes_not_resumes(self, spark, tmp_path):
        # stage identity folds the algorithm parameters: a different threshold
        # against the same checkpoint dir must NOT silently reuse old tables
        from rastr_spark.plans.datapipe import fuzzy_dedup_checkpointed

        docs = self._docs(spark)
        _, s1 = fuzzy_dedup_checkpointed(
            spark, docs, ckpt_dir=str(tmp_path / "ck"), input_fingerprint="fp-1",
            n=2, num_hashes=8, bands=4, threshold=0.5,
        )
        _, s2 = fuzzy_dedup_checkpointed(
            spark, docs, ckpt_dir=str(tmp_path / "ck"), input_fingerprint="fp-1",
            n=2, num_hashes=8, bands=4, threshold=0.9,
        )
        assert all(not s.resumed for s in s2)

    def test_column_rename_recomputes_not_resumes(self, spark, tmp_path):
        # ADVICE r4: id_col/text_col are part of the stage identity — resuming
        # renamed-column runs against old-schema stage tables must not happen
        from rastr_spark.plans.datapipe import fuzzy_dedup_checkpointed

        docs = self._docs(spark)
        _, s1 = fuzzy_dedup_checkpointed(
            spark, docs, ckpt_dir=str(tmp_path / "ck"), input_fingerprint="fp-1",
            n=2, num_hashes=8, bands=4, threshold=0.5,
        )
        renamed = docs.withColumnRenamed("doc_id", "d").withColumnRenamed("text", "t")
        out, s2 = fuzzy_dedup_checkpointed(
            spark, renamed, ckpt_dir=str(tmp_path / "ck"), input_fingerprint="fp-1",
            n=2, num_hashes=8, bands=4, threshold=0.5, id_col="d", text_col="t",
        )
        assert all(not s.resumed for s in s2)
        assert "d" in out.columns


class TestAnnotatedCheckpoint:
    def test_curate_checkpoints_annotated_table_once(self, spark, monkeypatch):
        """curate_corpus makes exactly one eager localCheckpoint of its own:
        the annotated table, before the fuzzy stage reads it."""
        import pyspark.sql.classic.dataframe as _cdf

        calls = []
        orig = _cdf.DataFrame.localCheckpoint

        def spy(self, eager=True, storageLevel=None):
            if sys._getframe(1).f_globals.get("__name__") == "rastr_spark.plans.datapipe":
                calls.append((bool(eager), self.columns))
            if storageLevel is None:
                return orig(self, eager=eager)
            return orig(self, eager=eager, storageLevel=storageLevel)

        monkeypatch.setattr(_cdf.DataFrame, "localCheckpoint", spy)
        docs = spark.createDataFrame(
            [(i, f"the quick brown fox number {i} jumps over the lazy dog repeatedly today") for i in range(12)],
            "doc_id long, text string",
        )
        curate_corpus(docs, min_quality=0.5, langs=("en",)).count()
        annotated = ["doc_id", "text", "quality", "lang", "bpe_tokens", "ws_tokens"]
        assert calls == [(True, annotated)]
