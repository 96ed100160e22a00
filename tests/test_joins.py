"""PIP join (clip/replace_polygon), sample lookup join, zonal stats, kNN, mosaic.

Clip fixtures mirror reference tests/rastr/test_raster.py:2955-3046 (TestClip);
sample mirrors test_raster.py:302-481; mosaic mirrors tests/rastr/test_io.py:249-263.
"""

import numpy as np
import pytest

import rastr_spark  # noqa: F401
from rastr_spark.geometry import Geometry
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.operators.joins import knn_join, mosaic, zonal_stats
from rastr_spark.tiles import RasterFrame


@pytest.fixture
def grid4(spark):
    """4×4 values 1..16, cell 1.0, north-up from y=4 (centres at .5 offsets)."""
    meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 4), 4, 4, tile_size=2)
    return RasterFrame.from_numpy(spark, np.arange(1.0, 17.0).reshape(4, 4), meta)


class TestClip:
    def test_clip_half(self, grid4):
        # left half: x in [0,2] → cols 0,1 kept
        out = grid4.clip(Geometry.box(0, 0, 2, 4)).to_numpy()
        expected = np.arange(1.0, 17.0).reshape(4, 4)
        expected[:, 2:] = np.nan
        np.testing.assert_array_equal(out, expected)

    def test_clip_multipolygon(self, grid4):
        g = Geometry.multipolygon([Geometry.box(0, 3, 1, 4), Geometry.box(3, 0, 4, 1)])
        out = grid4.clip(g).to_numpy()
        assert out[0, 0] == 1.0 and out[3, 3] == 16.0
        assert np.isnan(out).sum() == 14

    def test_clip_rejects_linestring(self, grid4):
        with pytest.raises(TypeError):
            grid4.clip(Geometry.linestring([(0, 0), (1, 1)]))

    def test_clip_bad_strategy(self, grid4):
        with pytest.raises(NotImplementedError):
            grid4.clip(Geometry.box(0, 0, 2, 2), strategy="areas")

    def test_clip_nothing_inside(self, grid4):
        out = grid4.clip(Geometry.box(100, 100, 200, 200)).to_numpy()
        assert np.isnan(out).all()

    def test_clip_hole(self, grid4):
        g = Geometry.polygon([(0, 0), (4, 0), (4, 4), (0, 4)], holes=[[(1, 1), (3, 1), (3, 3), (1, 3)]])
        out = grid4.clip(g).to_numpy()
        # centre 2×2 block (rows 1-2, cols 1-2) is inside the hole → NaN
        assert np.isnan(out[1:3, 1:3]).all()
        assert np.isnan(out).sum() == 4


class TestReplacePolygon:
    def test_single(self, grid4):
        out = grid4.replace_polygon(Geometry.box(0, 2, 2, 4), 0.0).to_numpy()
        expected = np.arange(1.0, 17.0).reshape(4, 4)
        expected[0:2, 0:2] = 0.0
        np.testing.assert_array_equal(out, expected)

    def test_dict(self, grid4):
        out = grid4.replace_polygon(
            {Geometry.box(0, 2, 2, 4): 0.0, Geometry.box(2, 0, 4, 2): -1.0}
        ).to_numpy()
        assert (out[0:2, 0:2] == 0.0).all() and (out[2:4, 2:4] == -1.0).all()

    def test_dict_with_value_raises(self, grid4):
        with pytest.raises(ValueError):
            grid4.replace_polygon({Geometry.box(0, 0, 1, 1): 0.0}, 5.0)

    def test_missing_value_raises(self, grid4):
        with pytest.raises(ValueError):
            grid4.replace_polygon(Geometry.box(0, 0, 1, 1))


class TestSample:
    def test_cell_centres(self, grid4):
        vals = grid4.sample([(0.5, 3.5), (3.5, 0.5), (1.5, 2.5)])
        np.testing.assert_array_equal(vals, [1.0, 16.0, 6.0])

    def test_singleton(self, grid4):
        assert grid4.sample((0.5, 3.5)) == 1.0

    def test_out_of_bounds_nan(self, grid4):
        vals = grid4.sample([(-1.0, -1.0), (0.5, 3.5), (100.0, 100.0)])
        assert np.isnan(vals[0]) and vals[1] == 1.0 and np.isnan(vals[2])

    def test_nan_raises(self, grid4):
        with pytest.raises(ValueError):
            grid4.sample([(np.nan, 1.0)])

    def test_nan_ignore_preserves_order(self, grid4):
        vals = grid4.sample([(0.5, 3.5), (np.nan, 1.0), (3.5, 0.5)], na_action="ignore")
        assert vals[0] == 1.0 and np.isnan(vals[1]) and vals[2] == 16.0

    def test_empty(self, grid4):
        assert len(grid4.sample([])) == 0

    def test_masked_value_nan(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, np.array([[np.nan, 2.0]]), meta)
        vals = rf.sample([(0.5, 0.5), (1.5, 0.5)])
        assert np.isnan(vals[0]) and vals[1] == 2.0

    def test_sample_df_preserves_colliding_caller_columns(self, spark, grid4):
        # ADVICE r1: caller columns named like the internal working columns
        # (values/tile_row/_row/...) must survive untouched
        from rastr_spark.operators.joins import sample_df

        pts = spark.createDataFrame(
            [(0.5, 3.5, "keep", 7, 8, 9), (3.5, 0.5, "keep2", 70, 80, 90)],
            "x double, y double, values string, tile_row long, _row long, _tw long",
        )
        out = sample_df(grid4, pts).orderBy("x").collect()
        assert [r["value"] for r in out] == [1.0, 16.0]
        assert [r["values"] for r in out] == ["keep", "keep2"]
        assert [r["tile_row"] for r in out] == [7, 70]
        assert [r["_row"] for r in out] == [8, 80]
        assert [r["_tw"] for r in out] == [9, 90]


class TestZonalStats:
    def test_two_zones(self, grid4):
        zones = [("left", Geometry.box(0, 0, 2, 4)), ("right", Geometry.box(2, 0, 4, 4))]
        out = {r["zone_id"]: r for r in zonal_stats(grid4, zones).collect()}
        arr = np.arange(1.0, 17.0).reshape(4, 4)
        left = arr[:, :2].ravel()
        assert out["left"]["count"] == 8
        assert out["left"]["sum"] == left.sum()
        assert out["left"]["mean"] == pytest.approx(left.mean())
        assert out["left"]["std"] == pytest.approx(left.std())
        assert out["left"]["min"] == 1.0 and out["left"]["max"] == 14.0
        assert out["right"]["count"] == 8

    def test_nan_ignored(self, spark):
        arr = np.array([[1.0, np.nan], [3.0, 4.0]])
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        out = zonal_stats(rf, [("all", Geometry.box(0, 0, 2, 2))]).collect()[0]
        assert out["count"] == 3 and out["sum"] == 8.0

    def test_zone_outside(self, grid4):
        out = zonal_stats(grid4, [("far", Geometry.box(50, 50, 60, 60))]).collect()
        assert out == []  # no partials → zone absent (caller left-joins zone table)

    def test_overlapping_zones(self, grid4):
        zones = [("all", Geometry.box(0, 0, 4, 4)), ("corner", Geometry.box(0, 3, 1, 4))]
        out = {r["zone_id"]: r for r in zonal_stats(grid4, zones).collect()}
        assert out["all"]["count"] == 16
        assert out["corner"]["count"] == 1 and out["corner"]["sum"] == 1.0

    @pytest.mark.parametrize("transform", [Affine(2.0, 0, 10, 0, -2.0, 120), Affine(-1.5, 0, 90, 0, 1.5, -7)])
    def test_partials_match_numpy_recompute(self, spark, transform):
        # NaN-holed 53×41 raster in 8-cell tiles (ragged right and bottom
        # edges): every (tile, zone) partial against a brute-force recompute
        # from the whole grid's cell centres
        from rastr_spark.geometry import points_in_geometry
        from rastr_spark.plans.flagship import tile_zone_partials

        rng = np.random.RandomState(17)
        arr = rng.normal(3.0, 2.0, (53, 41))
        arr[rng.rand(53, 41) < 0.1] = np.nan
        t = transform
        meta = RasterMeta(2.0, "EPSG:2193", t, 53, 41, tile_size=8)
        rf = RasterFrame.from_numpy(spark, arr, meta)

        def at(c, r):
            return (t.a * c + t.c, t.e * r + t.f)

        zones = [
            ("tri", Geometry.polygon([at(0.5, 0.5), at(30.5, 5.5), at(10.5, 40)])),
            ("donut", Geometry.polygon([at(5, 5), at(35, 5), at(35, 45), at(5, 45)],
                                       [[at(15, 15), at(25, 15), at(25, 30), at(15, 30)]])),
            ("parts", Geometry.multipolygon([Geometry.polygon([at(0, 0), at(3, 0), at(3, 3)]),
                                             Geometry.box(*at(38, 53), *at(41, 50))])),
        ]
        got = {
            (r["tile_row"], r["tile_col"], r["zone_id"]): r
            for r in tile_zone_partials(rf, zones).collect()
        }
        cg, rg = np.meshgrid(np.arange(41) + 0.5, np.arange(53) + 0.5)
        px, py = t.forward(cg.ravel(), rg.ravel())
        want = {}
        for zid, g in zones:
            inside = points_in_geometry(px, py, g).reshape(53, 41) & ~np.isnan(arr)
            for tr in range(7):
                for tc in range(6):
                    win = (slice(tr * 8, tr * 8 + 8), slice(tc * 8, tc * 8 + 8))
                    v = arr[win][inside[win]]
                    if v.size:
                        want[(tr, tc, zid)] = v
        assert set(got) == set(want)
        for key, v in want.items():
            r = got[key]
            assert (r["cnt"], r["mn"], r["mx"]) == (v.size, v.min(), v.max()), key
            assert r["s"] == pytest.approx(v.sum(), rel=1e-12, abs=1e-12), key
            assert r["m2"] == pytest.approx(((v - v.mean()) ** 2).sum(), rel=1e-12, abs=1e-12), key

    def test_std_stable_at_large_offset(self, spark):
        # 1e6 ± 1e-3 over 16 tiles: Σv² − (Σv)²/n cancels to noise at this
        # offset; the per-partial m2 merge keeps np.nanstd's answer
        rng = np.random.RandomState(11)
        arr = 1e6 + rng.uniform(-1e-3, 1e-3, (64, 64))
        arr[rng.rand(64, 64) < 0.05] = np.nan
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 64), 64, 64, tile_size=16)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        zones = [("all", Geometry.box(0, 0, 64, 64)), ("left", Geometry.box(0, 0, 24, 64))]
        out = {r["zone_id"]: r for r in zonal_stats(rf, zones).collect()}
        assert out["all"]["std"] == pytest.approx(np.nanstd(arr), rel=1e-6)
        assert out["left"]["std"] == pytest.approx(np.nanstd(arr[:, :24]), rel=1e-6)
        assert out["all"]["count"] == int((~np.isnan(arr)).sum())


class TestKnn:
    def test_knn_basic(self, spark):
        pts = spark.createDataFrame(
            [(float(i), 0.0) for i in range(10)], "x double, y double"
        )
        qs = spark.createDataFrame([(1, 2.2, 0.0), (2, 7.9, 0.0)], "query_id int, x double, y double")
        out = knn_join(pts, qs, 2, cell_size=1.0).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["x_nn"]))
        assert sorted(by_q[1]) == [(1, 2.0), (2, 3.0)]
        assert sorted(by_q[2]) == [(1, 8.0), (2, 7.0)]

    def test_knn_far_query_resolves_via_expansion(self, spark):
        pts = spark.createDataFrame([(0.0, 0.0), (1.0, 0.0)], "x double, y double")
        qs = spark.createDataFrame([(1, 50.0, 50.0)], "query_id int, x double, y double")
        out = knn_join(pts, qs, 1, cell_size=1.0, max_rounds=6).collect()
        assert len(out) == 1 and out[0]["x_nn"] == 1.0

    def test_knn_tie_break_deterministic(self, spark):
        pts = spark.createDataFrame([(1.0, 0.0), (-1.0, 0.0)], "x double, y double")
        qs = spark.createDataFrame([(1, 0.0, 0.0)], "query_id int, x double, y double")
        out = knn_join(pts, qs, 1, cell_size=2.0).collect()
        assert out[0]["x_nn"] == -1.0  # equal distance → smaller x wins

    def test_shell_offsets_probe_only_new_cells(self):
        # round 2 probes 7²−3² = 40 cells, not 49 (VERDICT r2 item 5); shells
        # partition the final square exactly
        from rastr_spark.operators.joins import _shell_offsets

        assert len(_shell_offsets(1, 0)) == 9
        assert len(_shell_offsets(3, 1)) == 49 - 9
        assert len(_shell_offsets(9, 3)) == 361 - 49
        union = set(_shell_offsets(1, 0)) | set(_shell_offsets(3, 1)) | set(_shell_offsets(9, 3))
        full = {(a, b) for a in range(-9, 10) for b in range(-9, 10)}
        assert union == full

    def test_knn_one_driver_action_per_round(self, spark, monkeypatch):
        # VERDICT r3 item 4: the per-round emptiness check must ride the resolve
        # aggregate's job — exactly ONE driver action (collect) per non-final
        # round, and no isEmpty() action at all
        # patch the CONCRETE class (Spark 4: pyspark.sql.classic overrides the
        # public facade's methods, so patching pyspark.sql.DataFrame is a no-op)
        from pyspark.sql.classic.dataframe import DataFrame

        calls = {"collect": 0}
        orig_collect = DataFrame.collect

        def counting_collect(self):
            calls["collect"] += 1
            return orig_collect(self)

        def forbidden_isempty(self):
            raise AssertionError("knn_join must not run a per-round isEmpty action")

        monkeypatch.setattr(DataFrame, "collect", counting_collect)
        monkeypatch.setattr(DataFrame, "isEmpty", forbidden_isempty)
        pts = spark.createDataFrame([(0.0, 0.0), (1.0, 0.0)], "x double, y double")
        qs = spark.createDataFrame([(1, 50.0, 50.0)], "query_id int, x double, y double")
        out = knn_join(pts, qs, 1, cell_size=1.0, max_rounds=6)
        # query at ~dist 70 resolves at radius 81 = 5th round → 5 resolve aggs
        assert calls["collect"] == 5
        monkeypatch.setattr(DataFrame, "collect", orig_collect)
        assert out.collect()[0]["x_nn"] == 1.0

    def test_knn_multi_round_matches_brute_force(self, spark):
        # queries spread so some resolve in round 1 and some need expansion;
        # shell probing + carried candidates must equal the brute-force answer
        import math

        pts = [(float(i % 7) * 3.1, float(i * i % 11) * 2.7) for i in range(25)]
        qs = [(i, float(i) * 4.0 - 10.0, float((i * 3) % 13)) for i in range(8)]
        pdf = spark.createDataFrame(pts, "x double, y double")
        qdf = spark.createDataFrame(qs, "query_id int, x double, y double")
        out = knn_join(pdf, qdf, 3, cell_size=2.0, max_rounds=6).collect()
        got = {}
        for r in out:
            got.setdefault(r["query_id"], []).append((r["rank"], r["x_nn"], r["y_nn"]))
        for qid, qx, qy in qs:
            want = sorted(
                ((math.sqrt((px - qx) ** 2 + (py - qy) ** 2), px, py) for px, py in pts)
            )[:3]
            assert sorted(got[qid]) == [(i + 1, px, py) for i, (_, px, py) in enumerate(want)]


class TestMosaic:
    def test_first_wins(self, spark):
        meta_a = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        a = RasterFrame.from_numpy(spark, np.array([[1.0, np.nan], [3.0, 4.0]]), meta_a, raster_id="a")
        meta_b = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 1, 0, -1, 2), 2, 2, tile_size=2)
        b = RasterFrame.from_numpy(spark, np.array([[10.0, 20.0], [30.0, 40.0]]), meta_b, raster_id="b")
        out = mosaic([a, b])
        assert out.meta.shape == (2, 3)
        arr = out.to_numpy()
        # a wins where valid; a's NaN at (0,1) filled by b's (0,0)=10; col 2 from b
        np.testing.assert_array_equal(arr, [[1.0, 10.0, 20.0], [3.0, 4.0, 40.0]])

    def test_disjoint_union_extent(self, spark):
        meta_a = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 1, tile_size=2)
        a = RasterFrame.from_numpy(spark, np.array([[1.0]]), meta_a, raster_id="a")
        meta_b = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 2, 0, -1, 1), 1, 1, tile_size=2)
        b = RasterFrame.from_numpy(spark, np.array([[2.0]]), meta_b, raster_id="b")
        out = mosaic([a, b])
        arr = out.to_numpy()
        assert arr.shape == (1, 3)
        assert arr[0, 0] == 1.0 and np.isnan(arr[0, 1]) and arr[0, 2] == 2.0

    def test_crs_mismatch(self, spark):
        meta_a = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 1, tile_size=2)
        a = RasterFrame.from_numpy(spark, np.array([[1.0]]), meta_a)
        meta_b = meta_a.with_(crs="EPSG:4326")
        b = RasterFrame.from_numpy(spark, np.array([[2.0]]), meta_b)
        with pytest.raises(ValueError):
            mosaic([a, b])


class TestSamplePolymorphism:
    def test_geometry_point_singleton(self, grid4):
        from rastr_spark.geometry import Geometry

        assert grid4.sample(Geometry.point(0.5, 3.5)) == 1.0

    def test_geometry_point_list(self, grid4):
        from rastr_spark.geometry import Geometry

        vals = grid4.sample([Geometry.point(0.5, 3.5), Geometry.point(3.5, 0.5)])
        np.testing.assert_array_equal(vals, [1.0, 16.0])

    def test_non_point_geometry_rejected(self, grid4):
        from rastr_spark.geometry import Geometry

        with pytest.raises(NotImplementedError):
            grid4.sample(Geometry.linestring([(0, 0), (1, 1)]))


class TestMosaicReferenceGoldens:
    def test_overlapping_first_wins_exact(self, spark):
        """Exact mirror of reference tests/rastr/test_io.py:249-263: fully
        overlapping rasters — the first (by order/stem) wins everywhere."""
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        first = RasterFrame.from_numpy(spark, np.ones((2, 2)), meta, raster_id="a_first")
        second = RasterFrame.from_numpy(spark, np.full((2, 2), 2.0), meta, raster_id="z_second")
        out = mosaic([first, second])
        np.testing.assert_allclose(out.to_numpy(), np.ones((2, 2)))

    def test_vertical_stack(self, spark):
        """Mirror of test_io.py vertical-stack case: two abutting rasters merge to
        a (4, 2) grid anchored at the top raster's transform."""
        t_top = Affine(1, 0, 0, 0, -1, 4)
        t_bot = Affine(1, 0, 0, 0, -1, 2)
        top = RasterFrame.from_numpy(
            spark, np.array([[1.0, 2.0], [3.0, 4.0]]),
            RasterMeta(1.0, "EPSG:2193", t_top, 2, 2, tile_size=2), raster_id="t",
        )
        bottom = RasterFrame.from_numpy(
            spark, np.array([[5.0, 6.0], [7.0, 8.0]]),
            RasterMeta(1.0, "EPSG:2193", t_bot, 2, 2, tile_size=2), raster_id="b",
        )
        out = mosaic([top, bottom])
        assert out.meta.shape == (4, 2)
        assert out.meta.transform == t_top
        np.testing.assert_allclose(out.to_numpy(), [[1, 2], [3, 4], [5, 6], [7, 8]])
