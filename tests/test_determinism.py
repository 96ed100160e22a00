"""North-rule bit-identity contracts: tile assignments and join output rows must be
bit-identical regardless of input partitioning/parallelism (BASELINE.json), plus the
reference's dtype-preservation matrix (tests/conftest.py:29-62) across operators."""

import math
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

import rastr_spark  # noqa: F401
from rastr_spark.geometry import Geometry
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.plans.flagship import doc_zonal_stats
from rastr_spark.sources.documents import generate_documents, text_span_geometries
from rastr_spark.tiles import RasterFrame


def tile_table(rf):
    return sorted(
        (r["tile_row"], r["tile_col"], r["cell_id"], tuple(r["values"]))
        for r in rf.df.collect()
    )


class TestBitIdentity:
    def test_tile_assignment_invariant_to_partitioning(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 8), 8, 8, tile_size=3)
        cells = spark.range(64).select(
            (F.col("id") / 8).cast("int").alias("row"),
            (F.col("id") % 8).cast("int").alias("col"),
            (F.col("id") * 1.5).alias("value"),
        )
        a = RasterFrame.from_cells(cells.repartition(1), meta)
        b = RasterFrame.from_cells(cells.repartition(13), meta)
        assert tile_table(a) == tile_table(b)  # bit-identical incl. cell_id

    def test_flagship_rows_invariant_to_parallelism(self, spark, shuffle_join):
        meta = RasterMeta(32.0, "EPSG:2193", Affine(32, 0, 0, 0, -32, 512), 16, 16, tile_size=4)
        rf = RasterFrame.from_numpy(spark, np.arange(256.0).reshape(16, 16), meta)
        docs = generate_documents(spark, 300, seed=42, n_tile_rows=4, n_tile_cols=4)
        zones = [("a", Geometry.box(0, 0, 512, 512)), ("b", Geometry.box(0, 0, 256, 256))]

        def rows(d, r):
            return sorted(
                (x["zone_id"], x["doc_id"], x["cell_count"], x["sum"], x["min"], x["max"])
                for x in doc_zonal_stats(d, r, zones, salt_threshold=50).collect()
            )

        r1 = rows(docs.repartition(2), rf)
        r2 = rows(docs.repartition(17), RasterFrame(rf.df.repartition(5), rf.meta, rf.raster_id))
        assert r1 == r2


DTYPE_OPS = [
    ("abs", lambda rf: rf.abs()),
    ("add", lambda rf: rf + 0.1),
    ("clamp", lambda rf: rf.clamp(1.5, 3.5)),
    ("fillna", lambda rf: rf.fillna(0.0)),
    ("blur", lambda rf: rf.blur(0.5)),
    ("sobel", lambda rf: rf.sobel()),
    ("dilate", lambda rf: rf.dilate(1.0)),
    ("resample", lambda rf: rf.resample(0.5)),
    ("crop", lambda rf: rf.crop(rf.bounds())),
    ("pad", lambda rf: rf.pad(1.0)),
]


class TestDtypePreservation:
    """reference tests/conftest.py:29-62: ops preserve float16/32/64 semantics."""

    @pytest.mark.parametrize("name,op", DTYPE_OPS, ids=[n for n, _ in DTYPE_OPS])
    @pytest.mark.parametrize("dtype", ["float32", "float64"])
    def test_op_preserves_dtype(self, spark, name, op, dtype):
        arr = np.array([[1, 2], [3, 4]], dtype=dtype)
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2, dtype=dtype)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        out = op(rf)
        assert out.meta.dtype == dtype
        assert out.to_numpy().dtype == np.dtype(dtype)

    def test_float16_add_rounding(self, spark):
        # the actual reduced-precision arithmetic, not just the tag
        arr = np.array([[1, 2], [3, 4]], dtype=np.float16)
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2, dtype="float16")
        out = (RasterFrame.from_numpy(spark, arr, meta) + 0.1).to_numpy()
        np.testing.assert_array_equal(out, arr + np.float16(0.1))


class TestTextSpanGeometries:
    def test_decode_bbox(self, spark):
        docs = generate_documents(spark, 50, seed=42, n_tile_rows=4, n_tile_cols=4, world_size=512.0)
        g = text_span_geometries(docs)
        rows = g.collect()
        assert len(rows) > 0
        for r in rows[:20]:
            assert r["geom_kind"] == "polygon"
            assert r["xmin"] < r["xmax"] and r["ymin"] < r["ymax"]
            # bbox must match the decoded Geometry exactly
            geom = Geometry.decode(r["geom_encoded"])
            bb = geom.bbox()
            assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == bb

    def test_span_positions_preserved(self, spark):
        docs = generate_documents(spark, 30, seed=42, n_tile_rows=4, n_tile_cols=4)
        g = text_span_geometries(docs)
        # every (doc_id, pos) pair unique — geometry rows trace back to spans
        assert g.count() == g.select("doc_id", "pos").distinct().count()


class TestSaltingSpreadsHotKeys:
    def test_hot_tile_gets_multiple_salts(self, spark, monkeypatch, shuffle_join):
        from rastr_spark.plans.flagship import (
            SALT_SAMPLE_FRACTION,
            _join_refs_partials,
            media_refs,
        )

        # 500 docs all referencing ONE tile → ultra-hot key
        docs = spark.createDataFrame(
            [(f"d{i}", [("media", None, "li/0/0", 0)]) for i in range(500)],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        refs = media_refs(docs)
        partials = spark.createDataFrame(
            [(0, 0, "z", 1, 1.0, 0.0, 1.0, 1.0)],
            "tile_row int, tile_col int, zone_id string, cnt long, s double, m2 double, mn double, mx double",
        )
        # the salted refs side is the left input of the join keyed on salt
        joins = []
        orig = type(refs).join

        def spy(self, other, on=None, how=None):
            joins.append((self, list(on or [])))
            return orig(self, other, on, how)

        monkeypatch.setattr(type(refs), "join", spy)
        out = _join_refs_partials(refs, partials, salt_threshold=100, partials_rows_bound=1)
        salted = [df for df, on in joins if "salt" in on]
        assert len(salted) == 1, [on for _, on in joins]
        n_salt = math.ceil(refs.sample(fraction=SALT_SAMPLE_FRACTION, seed=7).count()
                           / SALT_SAMPLE_FRACTION / 100)
        assert n_salt >= 4
        # the hot key fans out across ceil(count/threshold) sub-keys
        assert salted[0].select("salt").distinct().count() == n_salt
        # the replicated partials rows meet each ref exactly once
        rows = out.collect()
        assert len(rows) == 500 and {r["cell_count"] for r in rows} == {1}


class TestQuantileVariants:
    def test_multi_q_and_approx(self, spark):
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.operators.aggregates import rf_quantile
        from rastr_spark.tiles import RasterFrame

        arr = np.arange(1.0, 101.0).reshape(10, 10)
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 10), 10, 10, tile_size=4)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        exact = rf_quantile(rf, [0.25, 0.5, 0.9])
        np.testing.assert_allclose(exact, np.quantile(arr, [0.25, 0.5, 0.9]))
        approx = rf_quantile(rf, [0.25, 0.5, 0.9], exact=False)
        np.testing.assert_allclose(approx, exact, rtol=0.05)


class TestOracleSqlStable:
    """oracle_sql() is a pure function of the code: no per-process path or
    hash-seed-dependent order leaks into the SQL a separate DuckDB process
    replays."""

    REPO = Path(__file__).resolve().parents[1]

    def _run(self, code, **env):
        base = {k: v for k, v in os.environ.items() if k != "RASTR_SPARK_ORACLE_ART_DIR"}
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=self.REPO, env={**base, **env},
            capture_output=True, text=True, timeout=120,
        )
        assert out.returncode == 0, out.stderr
        return out.stdout

    def test_byte_identical_across_processes(self):
        code = "import json, __spark_entry__ as E; print(json.dumps(E.oracle_sql()))"
        a = self._run(code, PYTHONHASHSEED="1")
        b = self._run(code, PYTHONHASHSEED="2")
        assert a and a == b

    def test_import_leaves_artifact_dir_alone(self, tmp_path):
        # the artifact dir is shared by default: only a process that WRITES
        # artifacts may remove it at exit, never one that reads oracle_sql()
        (tmp_path / "keep").write_text("x")
        self._run(
            "import __spark_entry__ as E; E.oracle_sql()",
            RASTR_SPARK_ORACLE_ART_DIR=str(tmp_path),
        )
        assert (tmp_path / "keep").exists()
