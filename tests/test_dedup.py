"""Dedup-family unit tests: MinHash hash families, hot-gram capping, SimHash
Hamming banding, and the synthetic dedup-bench corpus generator."""

import pytest
from pyspark.sql import functions as F

from rastr_spark.functions import dedup as D
from rastr_spark.sources.documents import generate_text_corpus


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " extra"),  # near dup of 0
        (3, "completely different words here about spark distributed joins ok"),
        (4, "another unrelated document mentioning parquet files and shuffles"),
    ]
    return _docs(spark, rows)


class TestMinHashFamilies:
    def test_exact_dups_share_all_buckets_both_families(self, near_dup_docs):
        for fam in ("xxhash64", "md5"):
            b = D.minhash_lsh_buckets(
                near_dup_docs, n=3, num_hashes=8, bands=4, hash_family=fam
            )
            rows = {(r["id"], r["band"], r["bucket"]) for r in b.collect()}
            b0 = {(band, bkt) for i, band, bkt in rows if i == 0}
            b1 = {(band, bkt) for i, band, bkt in rows if i == 1}
            assert b0 == b1 and len(b0) == 4, fam

    def test_fast_candidates_contain_exact_dups(self, near_dup_docs):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_candidate_pairs(near_dup_docs, n=3, num_hashes=8, bands=4).collect()
        }
        assert (0, 1) in pairs
        # unrelated docs share no 3-gram: cannot land in the same min-hash bucket
        assert (3, 4) not in pairs

    def test_fast_path_deterministic(self, near_dup_docs):
        a = sorted(
            map(tuple, D.minhash_lsh_buckets(near_dup_docs, n=3, num_hashes=8, bands=4).collect())
        )
        b = sorted(
            map(tuple, D.minhash_lsh_buckets(near_dup_docs, n=3, num_hashes=8, bands=4).collect())
        )
        assert a == b

    def test_fast_bucket_type_is_long(self, near_dup_docs):
        b = D.minhash_lsh_buckets(near_dup_docs, n=3, num_hashes=8, bands=4)
        assert dict(b.dtypes)["bucket"] == "bigint"
        m = D.minhash_lsh_buckets(near_dup_docs, n=3, num_hashes=8, bands=4, hash_family="md5")
        assert dict(m.dtypes)["bucket"] == "string"

    def test_unknown_family_raises(self, near_dup_docs):
        with pytest.raises(ValueError):
            D.minhash_lsh_buckets(near_dup_docs, hash_family="sha9000").collect()

    def test_arrow_signatures_bit_equal_jvm_expression(self, spark):
        """The vectorized Arrow signature stage (r7: numpy XXH64 replication
        replacing the interpreted shingle/min HOF expression) must be
        BIT-identical to the JVM expression it replaced — the signature
        values feed the persisted-artifact oracle and LSH candidate recall,
        so this is value equality, not just set equality."""
        from pyspark.sql import functions as F

        from rastr_spark.functions.text import tokens

        n, nh = 3, 8
        corpus = generate_text_corpus(spark, 250, seed=5, n_words=30, dup_every=9)
        toks_df = corpus.select(
            F.col("doc_id").alias("id"),
            F.transform(tokens(F.col("text")), lambda t: F.xxhash64(t)).alias("th"),
        ).filter(F.size("th") >= n)
        shingle_idx = F.sequence(F.lit(0), F.size("th") - n)

        def _shingle(i):
            return F.xxhash64(*[F.element_at("th", i + k + 1) for k in range(n)])

        hashed = toks_df.select(
            "id", F.array_distinct(F.transform(shingle_idx, _shingle)).alias("gh")
        )

        def _xx_min(i):
            return F.array_min(F.transform("gh", lambda h: F.xxhash64(h, F.lit(i))))

        jvm = {
            r["id"]: tuple(r["sig"])
            for r in hashed.select(
                "id", F.array(*[_xx_min(i) for i in range(nh)]).alias("sig")
            ).collect()
        }
        arrow = {
            r["id"]: tuple(r["sig"])
            for r in D.minhash_signatures_df(
                corpus, n=n, num_hashes=nh, id_col="doc_id"
            ).collect()
        }
        assert jvm == arrow

    def test_signature_plan_tokenizes_once(self, spark):
        """The tokenize + hash chain runs once per doc: docs with fewer than n
        token hashes (short, empty, NULL) drop out in the Arrow stage, not in
        a Spark filter that would evaluate the chain a second time."""
        docs = _docs(spark, [(0, "a b c d"), (1, "a b"), (2, ""), (3, None), (4, "x  y z"), (5, "q")])
        sig = D.minhash_signatures_df(docs, n=3, num_hashes=4)
        got = {r["id"]: r["sig"] for r in sig.collect()}
        assert sorted(got) == [0, 4] and all(len(s) == 4 for s in got.values())
        p = sig._jdf.queryExecution().executedPlan().toString()
        assert p.count("transform(") == 1, p

    def test_signature_batch_emits_no_warning(self):
        """The numpy XXH64 wraps without numpy's scalar-overflow warning
        (raised here as an error); equal token streams give equal signatures."""
        import warnings

        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng(3)
        toks = [list(rng.integers(-2**63, 2**63 - 1, size=L, dtype=np.int64)) for L in (3, 9, 20)]
        batch = pa.RecordBatch.from_arrays(
            [pa.array([10, 11, 12, 13]), pa.array(toks + [toks[1]], pa.list_(pa.int64()))],
            names=["id", "th"],
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            out = D._minhash_sig_batch(batch, 3, 16).to_pydict()
        assert out["id"] == [10, 11, 12, 13]
        assert [len(s) for s in out["sig"]] == [16] * 4 and out["sig"][1] == out["sig"][3]


class TestHotGramCap:
    def test_cap_bounds_pair_fanout_under_zipf_skew(self, spark):
        # 40 docs ALL sharing one Zipf-hot sentence prefix + a unique tail:
        # uncapped, the hot grams pair everything (40*39/2 = 780 candidate pairs
        # enter the groupBy); capped, only true near-dups survive.
        hot = "the of and to in is it for on the of and"
        rows = [(i, f"{hot} unique{i} tail{i} words{i}") for i in range(40)]
        rows += [(100, "zeta eta theta iota kappa " + "x0 x1 x2"), (101, "zeta eta theta iota kappa " + "x0 x1 x2")]
        docs = _docs(spark, rows)
        capped = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_doc_freq=5)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
        # the planted identical pair survives at jaccard 1.0 (its grams are rare)
        assert got.get((100, 101)) == 1.0
        # the Zipf-hot block no longer pairs all 40 docs
        assert all(a >= 100 for a, _ in got), got

    def test_cap_none_matches_previous_semantics(self, spark):
        rows = [(0, "a b c d e f"), (1, "a b c d e f"), (2, "q w e r t y")]
        docs = _docs(spark, rows)
        uncapped = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
        capped = {
            (r["id_a"], r["id_b"])
            for r in D.ngram_jaccard_pairs(docs, threshold=0.8, max_doc_freq=100).collect()
        }
        assert uncapped == capped == {(0, 1)}

    def test_capped_jaccard_is_over_filtered_gram_space(self, spark):
        # docs share a hot gram (df=3 > cap 2) and differ elsewhere: jaccard is
        # computed after dropping it (both intersection AND union shrink).
        rows = [
            (0, "h1 h2 h3 a b c"),
            (1, "h1 h2 h3 a b c"),
            (2, "h1 h2 h3 z z2 z3"),
        ]
        docs = _docs(spark, rows)
        out = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_doc_freq=2).collect()
        }
        # gram "h1 h2 h3" has df=3 → dropped; docs 0,1 still identical on the rest
        assert out[(0, 1)] == 1.0
        # docs 0,2 shared ONLY capped grams ("h1 h2 h3", "h2 h3 ?" differ) → check
        # no 1.0 for them
        assert out.get((0, 2), 0.0) < 1.0


class TestSimHashHamming:
    def test_planted_bit_flips_recovered(self, spark):
        # one-token edits on a long doc → small simhash perturbation; banding at
        # bands=4 guarantees recovery for hamming <= 3
        base = " ".join(f"tok{i}" for i in range(200))
        edit1 = base + " zzqx"
        edit2 = base.replace("tok5", "qqq", 1)
        docs = _docs(spark, [(0, base), (1, edit1), (2, edit2), (3, "unrelated short thing")])
        sh = {r["id"]: r["simhash"] for r in D.simhash_table(docs).collect()}
        d01 = bin(sh[0] ^ sh[1]).count("1")
        d02 = bin(sh[0] ^ sh[2]).count("1")
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in D.simhash_hamming_pairs(docs, max_hamming=3, bands=4).collect()
        }
        if d01 <= 3:
            assert pairs[(0, 1)] == d01
        if d02 <= 3:
            assert pairs[(0, 2)] == d02
        assert (d01 <= 3) or (d02 <= 3), f"fixture too perturbed: {d01}, {d02}"
        assert all(h <= 3 for h in pairs.values())

    def test_exact_dups_at_hamming_zero(self, spark):
        docs = _docs(spark, [(0, "a b c d e"), (1, "a b c d e")])
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in D.simhash_hamming_pairs(docs, max_hamming=0, bands=4).collect()
        }
        assert pairs == {(0, 1): 0}

    def test_invalid_params_raise(self, spark):
        docs = _docs(spark, [(0, "a b c")])
        with pytest.raises(ValueError):
            D.simhash_hamming_pairs(docs, max_hamming=4, bands=4)
        with pytest.raises(ValueError):
            D.simhash_hamming_pairs(docs, max_hamming=1, bands=5)


class TestTextCorpusGenerator:
    def test_deterministic_across_parallelism(self, spark):
        a = generate_text_corpus(spark, 200, seed=7).repartition(1).orderBy("doc_id").collect()
        b = generate_text_corpus(spark, 200, seed=7).repartition(13).orderBy("doc_id").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_planted_exact_dups(self, spark):
        rows = {r["doc_id"]: r["text"] for r in generate_text_corpus(spark, 50, dup_every=10).collect()}
        assert rows[9] == rows[8] and rows[19] == rows[18]
        assert rows[1] != rows[0]

    def test_dup_rate_feeds_exact_dedup(self, spark):
        corpus = generate_text_corpus(spark, 100, dup_every=10)
        groups = D.exact_duplicates(corpus).collect()
        assert len(groups) == 10 and all(g["dup_count"] == 2 for g in groups)


class TestHashGrams:
    def test_hash_grams_matches_string_grams(self, spark):
        rows = [(i, f"alpha beta gamma delta doc{i} epsilon zeta") for i in range(20)]
        rows += [(100, "x y z w v u"), (101, "x y z w v u"), (102, "x y z q r s")]
        docs = _docs(spark, rows)
        a = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()
        }
        b = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.2, hash_grams=True).collect()
        }
        assert a == b and (100, 101) in a


class TestSimHashBucketCap:
    def test_degenerate_cluster_dropped_distinct_pair_survives(self, spark):
        # VERDICT r2 item 3: 300 byte-identical docs share every block bucket
        # (300² candidate blowup without a cap); with the cap those buckets are
        # dropped while a distinct duplicate pair in its own buckets survives
        rows = [(i, "the same templated boilerplate text body repeated") for i in range(300)]
        rows += [(1000, "a genuinely different document about morton codes"),
                 (1001, "a genuinely different document about morton codes")]
        docs = _docs(spark, rows)
        out = D.simhash_hamming_pairs(
            docs, max_hamming=3, bands=4, max_bucket_size=50
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in out} == {(1000, 1001)}
        assert out[0]["hamming"] == 0

    def test_cap_off_keeps_all_pairs(self, spark):
        rows = [(i, "identical text body") for i in range(12)]
        docs = _docs(spark, rows)
        out = D.simhash_hamming_pairs(docs, max_hamming=1, bands=4).collect()
        assert len(out) == 12 * 11 // 2  # uncapped: full clique recovered


class TestDuplicatedWindows:
    """Substring-level duplication signal (duplicated_window_stats — the Lee
    et al. 2022 span-dedup measurement): cross-doc windows flag, internal
    repetition does not, short docs get zeros, hash families agree."""

    def _corpus(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
        return _docs(spark, [
            (0, f"unique zero prefix words here now {shared}"),
            (1, f"another one distinct head tokens again {shared}"),
            (2, "entirely fresh content with no overlap anywhere in corpus today ok"),
            (3, "loop loop loop loop loop loop loop loop loop loop"),  # internal only
            (4, "short doc"),  # < window tokens
        ])

    def test_cross_doc_windows_flagged(self, spark):
        out = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_fraction"])
            for r in D.duplicated_window_stats(
                self._corpus(spark), window=8
            ).collect()
        }
        # docs 0 and 1 share exactly the one 8-token suffix window
        assert out[0][1] == 1 and out[1][1] == 1
        assert out[0][0] == 7 and 0 < out[0][2] < 1  # 14 tokens → 7 windows
        # fresh doc: no dup windows
        assert out[2][1] == 0 and out[2][2] == 0.0
        # internal repetition is NOT cross-doc duplication (and distinct
        # windows collapse: 10×'loop' → one distinct window)
        assert out[3] == (1, 0, 0.0)
        # short doc: zero windows, fraction 0
        assert out[4] == (0, 0, 0.0)

    def test_hash_families_agree(self, spark):
        corpus = self._corpus(spark)
        fast = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
            for r in D.duplicated_window_stats(corpus, window=8).collect()
        }
        md5 = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
            for r in D.duplicated_window_stats(
                corpus, window=8, hash_family="md5"
            ).collect()
        }
        assert fast == md5

    def test_exact_duplicate_docs_fully_flagged(self, spark):
        docs = _docs(spark, [
            (0, "one two three four five six seven eight nine ten"),
            (1, "one two three four five six seven eight nine ten"),
        ])
        out = D.duplicated_window_stats(docs, window=8).collect()
        assert all(r["dup_fraction"] == 1.0 for r in out)

    def test_window_batch_matches_per_doc_loop(self):
        """The flat-buffer window stage against the per-doc loop it replaced:
        same hashes in the same order, on a sliced batch with NULL, empty and
        short rows."""
        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng(7)
        vocab = rng.integers(-2**63, 2**63 - 1, size=5, dtype=np.int64)
        th = [list(vocab[rng.integers(0, 5, size=L)]) for L in rng.integers(0, 30, size=40)]
        th[3], th[8] = None, []
        batch = pa.RecordBatch.from_arrays(
            [pa.array(range(40)), pa.array(th, pa.list_(pa.int64()))], names=["id", "th"]
        ).slice(2)

        def loop(t, window):
            if t is None or len(t) < window:
                return []
            a = np.asarray(t, dtype=np.int64).astype(np.uint64)
            h = np.zeros(a.size - window + 1, dtype=np.uint64)
            for k in range(window):
                h *= np.uint64(0x9E3779B97F4A7C15)
                h += a[k : k + h.size]
            return np.unique(h).astype(np.int64).tolist()

        for window in (1, 4, 8):
            out = D._window_hash_batch(batch, window).to_pydict()
            assert out["id"] == list(range(2, 40))
            assert out["ws"] == [loop(t, window) for t in th[2:]]

    def test_fast_path_matches_md5_on_generated_corpus(self, spark):
        """The vectorized Arrow window-hash stage (r7: numpy polynomial
        combine replacing the interpreted 16-arg xxhash64 expression) must
        produce the same per-doc counts as the pure-JVM md5 oracle path on a
        realistic generated corpus — window identity is the token sequence,
        independent of the hash family."""
        corpus = generate_text_corpus(spark, 300, seed=3, n_words=25, dup_every=7)
        fast = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_fraction"])
            for r in D.duplicated_window_stats(corpus, window=8).collect()
        }
        md5 = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_fraction"])
            for r in D.duplicated_window_stats(
                corpus, window=8, hash_family="md5"
            ).collect()
        }
        assert fast == md5


class TestIntIdColumn:
    """The Arrow stages hand back the caller's id type: an ``int`` id column
    comes back ``int`` with its values unchanged, never widened to ``long``."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(i, f"shared body of words here for doc number {i % 3}") for i in range(6)],
            "doc_id int, text string",
        )

    def test_minhash_signatures(self, spark):
        sig = D.minhash_signatures_df(
            self._docs(spark), n=3, num_hashes=8, hash_family="xxhash64"
        )
        assert sig.schema["id"].dataType.simpleString() == "int"
        assert sorted(r["id"] for r in sig.collect()) == list(range(6))

    def test_duplicated_window_stats(self, spark):
        out = D.duplicated_window_stats(self._docs(spark), window=4)
        assert out.schema["doc_id"].dataType.simpleString() == "int"
        assert sorted(r["doc_id"] for r in out.collect()) == list(range(6))


class TestFuzzyDedup:
    def test_connected_components_chain_and_star(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)],
            "id_a long, id_b long",
        )
        comp = {r["node"]: r["comp"] for r in D.connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10}

    def test_connected_components_raises_past_max_iters(self, spark, monkeypatch):
        # a 6-node path needs ~5 propagation rounds; max_iters=1 must refuse
        # loudly rather than return split components (distributed loop forced:
        # the driver union-find shortcut always converges)
        import pytest

        monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", -1)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="converge"):
            D.connected_components(edges, max_iters=1)

    def test_fuzzy_dedup_assign_end_to_end(self, spark):
        # 3 exact copies + 1 near copy (one appended token) cluster to the min
        # id; an unrelated doc stays its own canonical
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (5, base),
            (9, base),
            (2, base),
            (7, base + " extra"),
            (30, "совершенно other content that shares zero grams at all"),
        ]
        docs = _docs(spark, rows)
        out = {
            r["doc_id"]: r["canonical_id"]
            for r in D.fuzzy_dedup_assign(docs, n=3, num_hashes=8, bands=4, threshold=0.5).collect()
        }
        assert out == {5: 2, 9: 2, 2: 2, 7: 2, 30: 30}

    def test_fuzzy_keep_one_per_cluster(self, spark):
        from pyspark.sql import functions as F

        rows = [(i, "identical body of text here okay") for i in range(6)] + [
            (100, "another unique document body entirely different")
        ]
        docs = _docs(spark, rows)
        assign = D.fuzzy_dedup_assign(docs, n=2, num_hashes=8, bands=4, threshold=0.9)
        kept = assign.filter(F.col("doc_id") == F.col("canonical_id"))
        assert sorted(r["doc_id"] for r in kept.collect()) == [0, 100]


class TestFuzzyDedupScaleGuards:
    def test_exact_prepass_collapses_identical_cluster(self, spark):
        # 2000 byte-identical docs: the exact pre-pass must reduce them to ONE
        # LSH participant — without it the bucket self-join is 2000² rows.
        # Completes fast AND assigns every copy to the min id.
        from pyspark.sql import functions as F

        rows = [(i, "the very same boilerplate body of text") for i in range(2000)]
        rows.append((9999, "something else entirely unrelated here"))
        docs = _docs(spark, rows)
        out = D.fuzzy_dedup_assign(docs, n=2, num_hashes=8, bands=4, threshold=0.9)
        agg = out.groupBy("canonical_id").count().collect()
        got = {r["canonical_id"]: r["count"] for r in agg}
        assert got == {0: 2000, 9999: 1}

    def test_candidate_bucket_cap(self, spark):
        # near-identical (NOT byte-identical) templated docs survive the exact
        # pre-pass; max_bucket_size bounds their bucket self-join
        rows = [(i, f"template body shared words everywhere {i}") for i in range(300)]
        rows += [(1000, "unique pair one alpha beta gamma"), (1001, "unique pair one alpha beta gamma delta")]
        docs = _docs(spark, rows)
        pairs = D.minhash_candidate_pairs(
            docs, n=2, num_hashes=8, bands=4, max_bucket_size=50
        ).collect()
        assert len(pairs) <= 50 * 50 * 4  # bounded, never ~300²
        # the planted distinct pair occupies its own (non-hot) buckets, so the
        # cap must NOT cost it: recall loss is confined to degenerate buckets
        assert (1000, 1001) in {(p["id_a"], p["id_b"]) for p in pairs}

    @pytest.mark.parametrize("cap", [None, 400])
    def test_hot_bucket_pairs_match_self_join(self, spark, cap):
        # a 300-id hot bucket plus ordinary buckets: the generated pairs must
        # be exactly the brute-force (band, bucket) self-join's pair set, in
        # both cap modes (a cap above the hot size keeps every bucket)
        import random
        from itertools import combinations

        # one bucket per (doc, band), as minhash_lsh_buckets emits; band 1's
        # bucket 7 is not band 0's hot bucket 7
        rng = random.Random(5)
        rows = [(i, 0, 7) for i in rng.sample(range(10_000), 300)]
        rows += [(i, 0, rng.randrange(8, 60)) for i in range(10_000, 10_100)]
        rows += [(i, band, rng.randrange(60)) for band in (1, 2) for i in range(400)]
        buckets: dict = {}
        for i, band, bucket in rows:
            buckets.setdefault((band, bucket), set()).add(i)
        want = {p for ids in buckets.values() for p in combinations(sorted(ids), 2)}
        b = spark.createDataFrame(rows, "id long, band int, bucket long")
        got = [
            (r["id_a"], r["id_b"])
            for r in D.candidate_pairs_from_buckets(b, max_bucket_size=cap).collect()
        ]
        assert len(got) == len(set(got))
        assert set(got) == want


class TestConnectedComponentsTelemetry:
    @pytest.mark.parametrize("reliable", [False, True])
    def test_empty_edge_set_records_one_round(self, spark, tmp_path, reliable):
        edges = spark.createDataFrame([], "id_a long, id_b long")
        metrics: list[dict] = []
        comp = D.connected_components(
            edges, metrics=metrics,
            reliable_dir=str(tmp_path / "cc") if reliable else None,
        )
        assert comp.count() == 0
        assert len(metrics) == 1
        assert metrics[0]["round"] == 0 and metrics[0]["changed"] == 0


class TestConnectedComponentsLongChain:
    # the distributed loop is forced in these (CC_DRIVER_MAX_EDGES = -1):
    # their purpose is the loop's pointer-jumping convergence, which the
    # driver union-find shortcut would bypass

    def test_200_node_path_converges_via_pointer_jumping(self, spark, monkeypatch):
        # a revision-chain component (each doc a near-dup of the previous):
        # plain min propagation needs ~200 rounds; pointer jumping must reach
        # the fixpoint well inside max_iters=25 (O(log n))
        monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", -1)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "id_a long, id_b long"
        )
        comp = D.connected_components(edges, max_iters=25).collect()
        assert len(comp) == 201
        assert all(r["comp"] == 0 for r in comp)

    def test_reversed_ids_chain(self, spark, monkeypatch):
        # min at the FAR end of the chain (worst case for min propagation)
        monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", -1)
        edges = spark.createDataFrame(
            [(200 - i, 200 - i - 1) for i in range(200)], "id_a long, id_b long"
        )
        comp = D.connected_components(edges, max_iters=25).collect()
        assert all(r["comp"] == 0 for r in comp)

    def test_driver_shortcut_matches_distributed_loop(self, spark, monkeypatch):
        """The driver union-find (r7 small-graph shortcut) must produce the
        same (node, comp) labels as the distributed fixpoint loop on a random
        multi-component graph with chains, stars, and self-contained pairs."""
        import random

        rng = random.Random(23)
        edge_rows = [(i, i + 1) for i in range(0, 40)]  # chain
        edge_rows += [(100, 100 + k) for k in range(1, 8)]  # star
        edge_rows += [(rng.randint(200, 260), rng.randint(200, 260)) for _ in range(60)]
        edge_rows = [(a, b) for a, b in edge_rows if a != b]
        edges = spark.createDataFrame(edge_rows, "id_a long, id_b long")
        fast = {(r["node"], r["comp"]) for r in D.connected_components(edges).collect()}
        monkeypatch.setattr(D, "CC_DRIVER_MAX_EDGES", -1)
        slow = {(r["node"], r["comp"]) for r in D.connected_components(edges).collect()}
        assert fast == slow


class TestFingerprintTextKeyEquivalence:
    """The 128-bit fingerprint key must partition docs exactly like their raw
    text (identical unless a 128-bit collision occurs — none here), checked
    against a pure-Python grouping of the texts."""

    def test_dedup_exact_modes_agree_on_random_corpora(self, spark):
        import random

        rng = random.Random(11)
        vocab = [f"w{i}" for i in range(30)]
        rows = []
        for i in range(120):
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6)))
            rows.append((i, text))  # short texts, many collisions-by-construction
        groups: dict[str, list[int]] = {}
        for i, text in rows:
            groups.setdefault(text, []).append(i)
        assert any(len(ids) >= 2 for ids in groups.values())
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        fp = {(r["doc_id"], r["text"]) for r in D.dedup_exact(docs).collect()}
        assert fp == {(min(ids), text) for text, ids in groups.items()}
        gfp = {(r["canonical_id"], r["dup_count"]) for r in D.exact_duplicates(docs).collect()}
        assert gfp == {(min(ids), len(ids)) for ids in groups.values() if len(ids) >= 2}

    def test_fuzzy_modes_agree(self, spark):
        # seven distinct texts, each repeated; distinct texts share 2 of their
        # 4 word-2-grams (Jaccard 1/3 < 0.5), so every doc maps to the min id
        # of its exact group
        rows = [(i, f"body {i % 7} shared words here") for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        a = {(r["doc_id"], r["canonical_id"]) for r in D.fuzzy_dedup_assign(
            docs, n=2, num_hashes=8, bands=4, threshold=0.5).collect()}
        assert a == {(i, i % 7) for i in range(40)}


class TestSignatureArtifactValidation:
    """lsh_buckets_from_signatures validates num_hashes against the loaded
    artifact (ADVICE r4): a short signature must fail the job, not silently
    collapse every doc into one bucket per band via NULL element_at."""

    def test_short_signature_fails_job(self, spark):
        bad = spark.createDataFrame([(1, [1, 2]), (2, [3, 4])], "id long, sig array<long>")
        with pytest.raises(Exception, match="signature length"):
            D.lsh_buckets_from_signatures(bad, num_hashes=4, bands=2).count()

    def test_short_md5_signature_fails_job(self, spark):
        bad = spark.createDataFrame([(1, ["a", "b"])], "id long, sig array<string>")
        with pytest.raises(Exception, match="signature length"):
            D.lsh_buckets_from_signatures(
                bad, num_hashes=4, bands=2, hash_family="md5"
            ).count()

    def test_non_divisible_banding_raises_at_build(self, spark):
        good = spark.createDataFrame([(1, [1, 2, 3, 4])], "id long, sig array<long>")
        with pytest.raises(ValueError, match="not divisible"):
            D.lsh_buckets_from_signatures(good, num_hashes=4, bands=3)

    def test_valid_signatures_unaffected(self, spark):
        good = spark.createDataFrame(
            [(1, [1, 2, 3, 4]), (2, [1, 2, 9, 9])], "id long, sig array<long>"
        )
        out = D.lsh_buckets_from_signatures(good, num_hashes=4, bands=2)
        assert out.count() == 4  # 2 ids × 2 bands


class TestIncrementalDedup:
    """build_dedup_index + incremental_dedup_assign: new shards assign against
    the persisted index without re-shingling the corpus."""

    def _text(self, i):
        # distinct per-doc vocabulary: docs must NOT near-match each other
        # (a shared template merges the whole corpus at threshold 0.5)
        return f"document number{i} covers topic{i} subject{i * 7} item{i * 13} widget{i * 29} gadget{i * 31}"

    def _index_docs(self, spark):
        rows = [(i, self._text(i)) for i in range(20)]
        rows += [(100 + i, self._text(i)) for i in range(5)]  # exact dups of 0-4
        return _docs(spark, rows)

    def test_three_match_kinds(self, spark, tmp_path):
        idx_docs = self._index_docs(spark)
        D.build_dedup_index(
            idx_docs, index_dir=str(tmp_path / "ix"), n=2, num_hashes=8,
            bands=4, threshold=0.5,
        )
        shard = _docs(spark, [
            (500, self._text(3)),                                                                # exact → 3
            (501, self._text(7) + " extra"),                                                     # near → 7
            (502, "a totally fresh unmatched shard paper discussing unrelated themes entirely"), # new → self
            (503, self._text(0)),                                                                # exact → 0 (dup'd text)
        ])
        out = {
            r["doc_id"]: (r["canonical_id"], r["match_kind"])
            for r in D.incremental_dedup_assign(
                shard, idx_docs, index_dir=str(tmp_path / "ix"), n=2,
                num_hashes=8, bands=4, threshold=0.5,
            ).collect()
        }
        assert out[500] == (3, "exact")
        assert out[501] == (7, "near")
        assert out[502] == (502, "new")
        assert out[503] == (0, "exact")  # canonical of the 0/100 exact group

    def test_near_match_prefers_highest_jaccard(self, spark, tmp_path):
        idx_docs = _docs(spark, [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta unrelated trailer"),
        ])
        D.build_dedup_index(
            idx_docs, index_dir=str(tmp_path / "ix"), n=2, num_hashes=8,
            bands=4, threshold=0.3,
        )
        shard = _docs(spark, [(900, "alpha beta gamma delta epsilon zeta eta theta iota")])
        r = D.incremental_dedup_assign(
            shard, idx_docs, index_dir=str(tmp_path / "ix"), n=2, num_hashes=8,
            bands=4, threshold=0.3,
        ).collect()[0]
        # doc 1 overlaps on 7 of 9 grams vs doc 2's smaller overlap
        assert r["canonical_id"] in (1, 2) and r["match_kind"] == "near"
        assert r["canonical_id"] == 1

    def test_mismatched_threshold_fails_loudly(self, spark, tmp_path):
        # ADVICE r6: a silently different Jaccard threshold changes
        # assignment semantics — the manifest now validates it too
        idx_docs = self._index_docs(spark)
        D.build_dedup_index(
            idx_docs, index_dir=str(tmp_path / "ix"), n=2, num_hashes=8,
            bands=4, threshold=0.5,
        )
        shard = _docs(spark, [(800, "some new document text with enough words here")])
        with pytest.raises(ValueError, match="was built with"):
            D.incremental_dedup_assign(
                shard, idx_docs, index_dir=str(tmp_path / "ix"), n=2,
                num_hashes=8, bands=4, threshold=0.8,
            )

    def test_mismatched_banding_fails_loudly(self, spark, tmp_path):
        idx_docs = self._index_docs(spark)
        D.build_dedup_index(
            idx_docs, index_dir=str(tmp_path / "ix"), n=2, num_hashes=8,
            bands=4, threshold=0.5,
        )
        shard = _docs(spark, [(800, "some new document text with enough words here")])
        # the params manifest rejects the mismatch up front…
        with pytest.raises(ValueError, match="was built with"):
            D.incremental_dedup_assign(
                shard, idx_docs, index_dir=str(tmp_path / "ix"), n=2,
                num_hashes=16, bands=4, threshold=0.5,
            )
        # …a CORRUPT manifest propagates instead of silently skipping
        # validation (only a MISSING manifest is treated as pre-manifest)
        import shutil

        shutil.rmtree(tmp_path / "ix" / "params")
        (tmp_path / "ix" / "params").mkdir()
        (tmp_path / "ix" / "params" / "part-0.parquet").write_bytes(b"not parquet")
        with pytest.raises(Exception):
            D.validate_index_params(
                spark, str(tmp_path / "ix"), n=2, num_hashes=8, bands=4,
                hash_family="xxhash64",
            )
        # …and a pre-manifest index (no params table) still fails on the
        # signature-length guard instead of silently mis-bucketing
        shutil.rmtree(tmp_path / "ix" / "params")
        with pytest.raises(Exception, match="signature length"):
            D.incremental_dedup_assign(
                shard, idx_docs, index_dir=str(tmp_path / "ix"), n=2,
                num_hashes=16, bands=4, threshold=0.5,
            ).collect()
