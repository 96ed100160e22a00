"""Document table: deterministic generation, span invariant, flagship pipeline."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import rastr_spark  # noqa: F401
from rastr_spark.geometry import Geometry
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.plans.flagship import doc_zonal_stats, tile_zone_partials
from rastr_spark.sources.documents import (
    assert_span_invariant,
    explode_spans,
    generate_documents,
    media_refs,
    span_fingerprint,
)
from rastr_spark.tiles import RasterFrame


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, 200, seed=42, n_tile_rows=4, n_tile_cols=4).cache()


class TestGenerator:
    def test_deterministic_across_parallelism(self, spark, docs):
        again = generate_documents(spark, 200, seed=42, n_tile_rows=4, n_tile_cols=4).repartition(7)
        assert_span_invariant(docs, again)

    def test_schema_and_interleaving(self, docs):
        s = explode_spans(docs)
        kinds = {r["kind"] for r in s.select("kind").distinct().collect()}
        assert kinds == {"text", "media"}
        media = s.filter(F.col("kind") == "media")
        assert media.filter(F.col("media_ref").isNull()).count() == 0
        assert media.filter(F.col("text").isNotNull()).count() == 0
        text = s.filter(F.col("kind") == "text")
        assert text.filter(F.col("text").isNull()).count() == 0

    def test_text_spans_decode_as_geometry(self, docs):
        row = (
            explode_spans(docs).filter(F.col("kind") == "text").select("text").first()
        )
        g = Geometry.decode(row["text"])
        assert g.kind == "polygon" and len(g.xy) == 5

    def test_media_refs_resolve(self, docs):
        refs = media_refs(docs)
        r = refs.agg(F.max("tile_row"), F.max("tile_col"), F.min("tile_row")).collect()[0]
        assert r[0] <= 3 and r[1] <= 3 and r[2] >= 0

    def test_zipf_skew_present(self, docs):
        counts = media_refs(docs).groupBy("tile_row", "tile_col").count().collect()
        ns = sorted((r["count"] for r in counts), reverse=True)
        assert ns[0] >= 3 * ns[-1]  # hot tiles are much hotter than cold

    def test_invariant_detects_mutation(self, spark, docs):
        mutated = docs.select(
            "doc_id", F.slice("spans", 1, 1).alias("spans")
        )
        with pytest.raises(AssertionError):
            assert_span_invariant(docs, mutated)


class TestFlagship:
    @pytest.fixture(scope="class")
    def raster(self, spark):
        # 16×16 grid of value = row index, cell 32.0 → world 512×512, tiles 4×4
        meta = RasterMeta(32.0, "EPSG:2193", Affine(32, 0, 0, 0, -32, 512), 16, 16, tile_size=4)
        arr = np.tile(np.arange(16.0)[:, None], (1, 16))
        return RasterFrame.from_numpy(spark, arr, meta)

    @pytest.fixture(scope="class")
    def zones(self):
        return [
            ("top", Geometry.box(0, 256, 512, 512)),
            ("bottom", Geometry.box(0, 0, 512, 256)),
            ("all", Geometry.box(0, 0, 512, 512)),
        ]

    def test_tile_zone_partials(self, raster, zones):
        parts = tile_zone_partials(raster, zones)
        agg = {r["zone_id"]: r for r in parts.groupBy("zone_id").agg(F.sum("cnt").alias("n"), F.sum("s").alias("s")).collect()}
        assert agg["all"]["n"] == 256
        assert agg["top"]["n"] == 128 and agg["bottom"]["n"] == 128
        # top half = rows 0..7 (y from 512 down), values 0..7
        assert agg["top"]["s"] == sum(r * 16 for r in range(8))

    def test_doc_zonal_stats_matches_unsalted(self, spark, docs, raster, zones, shuffle_join):
        salted = doc_zonal_stats(docs, raster, zones, salt_threshold=5)
        unsalted = doc_zonal_stats(docs, raster, zones, salt_threshold=None)
        a = {(r["zone_id"], r["doc_id"]): (r["cell_count"], r["sum"]) for r in salted.collect()}
        b = {(r["zone_id"], r["doc_id"]): (r["cell_count"], r["sum"]) for r in unsalted.collect()}
        assert a == b and len(a) > 0

    def test_flagship_values(self, spark, docs, raster, zones):
        # independently verify one doc's stats
        out = doc_zonal_stats(docs, raster, zones, salt_threshold=None)
        row = out.filter((F.col("zone_id") == "all")).orderBy("doc_id").first()
        doc_id = row["doc_id"]
        tiles = media_refs(docs).filter(F.col("doc_id") == doc_id).collect()
        # each tile is 4×4 cells; value = global row index; count = 16 per tile ref
        expected_count = 16 * len(tiles)
        expected_sum = 0.0
        for t in tiles:
            rows = range(t["tile_row"] * 4, t["tile_row"] * 4 + 4)
            expected_sum += sum(r * 4 for r in rows)
        assert row["cell_count"] == expected_count
        assert row["sum"] == pytest.approx(expected_sum)

    def test_docs_unchanged_by_pipeline(self, spark, docs, raster, zones):
        # span-sequence invariant: running the flagship does not mutate the doc table
        before = span_fingerprint(docs).collect()
        doc_zonal_stats(docs, raster, zones, salt_threshold=5).count()
        assert_span_invariant(docs, docs)
        after = span_fingerprint(docs).collect()
        assert sorted(map(tuple, before)) == sorted(map(tuple, after))


class TestBpePretokens:
    def test_bpe_counts_punct_and_digits(self, spark):
        from pyspark.sql import functions as F

        from rastr_spark.functions.text import bpe_token_count, token_count

        rows = [
            (0, "hello world"),            # 2 pre-tokens
            (1, "it's 2024, folks!"),      # it |'s | 2024|,| folks|! = 6
            (2, "a  b"),                   # double space: 'a', ' b' (+ws dropped)
            (3, ""),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["bpe"], r["ws"])
            for r in d.select(
                "doc_id",
                bpe_token_count(F.col("text")).alias("bpe"),
                token_count(F.col("text")).alias("ws"),
            ).collect()
        }
        assert out[0] == (2, 2)
        assert out[1] == (6, 3)   # BPE charges punctuation/digit runs separately
        assert out[2] == (2, 2)
        assert out[3] == (0, 0)


    def test_vertical_tab_portable(self, spark):
        # \x0B is whitespace to Java's \s but NOT to RE2's — the explicit
        # whitespace class must make both engines lex it as whitespace
        import duckdb
        from pyspark.sql import functions as F

        from rastr_spark.functions.text import _WS, BPE_PRETOKEN_RE, bpe_token_count

        txt = "one\x0btwo three"
        d = spark.createDataFrame([(0, txt)], "doc_id long, text string")
        spark_n = d.select(bpe_token_count(F.col("text")).alias("n")).collect()[0]["n"]
        sql = (
            "SELECT len(list_filter(regexp_extract_all(?, '"
            + BPE_PRETOKEN_RE.replace("'", "''")
            + f"', 1), t -> NOT regexp_matches(t, '^[{_WS}]+$')))"
        )
        duck_n = duckdb.connect().execute(sql, [txt]).fetchone()[0]
        assert spark_n == duck_n == 3
