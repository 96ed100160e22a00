"""Elementwise + aggregation + geometric operator goldens, mirrored from the
reference test suite (tests/rastr/test_raster.py; FIXTURES.md §3)."""

import numpy as np
import pytest

import rastr_spark  # noqa: F401 — attaches operators
from rastr_spark.meta import Affine, Bounds, RasterMeta
from rastr_spark.tiles import RasterFrame


class TestArithmetic:
    def test_add_scalar(self, example_raster):
        np.testing.assert_array_equal((example_raster + 1.0).to_numpy(), [[2, 3], [4, 5]])

    def test_radd(self, example_raster):
        np.testing.assert_array_equal((1.0 + example_raster).to_numpy(), [[2, 3], [4, 5]])

    def test_mul_scalar(self, example_raster):
        np.testing.assert_array_equal((example_raster * 2.0).to_numpy(), [[2, 4], [6, 8]])

    def test_div_scalar(self, example_raster):
        np.testing.assert_array_equal((example_raster / 2.0).to_numpy(), [[0.5, 1], [1.5, 2]])

    def test_right_div_quirk(self, example_raster):
        # reference quirk: 2.0 / raster == raster / 2.0 (test_raster.py:889-905)
        np.testing.assert_array_equal((2.0 / example_raster).to_numpy(), [[0.5, 1], [1.5, 2]])

    def test_sub_and_neg(self, example_raster):
        np.testing.assert_array_equal((example_raster - 1.0).to_numpy(), [[0, 1], [2, 3]])
        np.testing.assert_array_equal((-example_raster).to_numpy(), [[-1, -2], [-3, -4]])
        np.testing.assert_array_equal((10.0 - example_raster).to_numpy(), [[9, 8], [7, 6]])

    def test_raster_raster_add(self, example_raster):
        out = (example_raster + example_raster).to_numpy()
        np.testing.assert_array_equal(out, [[2, 4], [6, 8]])

    def test_raster_raster_mul(self, example_raster):
        np.testing.assert_array_equal((example_raster * example_raster).to_numpy(), [[1, 4], [9, 16]])

    def test_raster_raster_div(self, example_raster):
        np.testing.assert_array_equal((example_raster / example_raster).to_numpy(), [[1, 1], [1, 1]])

    def test_mismatched_meta_raises(self, example_raster, small_raster):
        with pytest.raises(ValueError):
            _ = example_raster + small_raster

    def test_nan_propagates(self, stats_raster_nans):
        out = (stats_raster_nans + 1.0).to_numpy()
        assert np.isnan(out[0, 2]) and np.isnan(out[1, 1])
        assert out[0, 0] == 2.0


class TestMathOps:
    def test_abs(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, np.array([[-1.0, 2.0], [-3.0, np.nan]]), meta)
        out = rf.abs().to_numpy()
        np.testing.assert_array_equal(out[:1], [[1.0, 2.0]])
        assert out[1, 0] == 3.0 and np.isnan(out[1, 1])

    def test_log_exp(self, example_raster):
        np.testing.assert_allclose(example_raster.log().to_numpy(), np.log([[1, 2], [3, 4]]))
        np.testing.assert_allclose(example_raster.exp().to_numpy(), np.exp([[1, 2], [3, 4]]))

    def test_log_nonpositive_ieee(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 3, tile_size=3)
        rf = RasterFrame.from_numpy(spark, np.array([[0.0, -1.0, 1.0]]), meta)
        out = rf.log().to_numpy()
        assert out[0, 0] == -np.inf and np.isnan(out[0, 1]) and out[0, 2] == 0.0

    def test_clamp(self, example_raster):
        np.testing.assert_array_equal(example_raster.clamp(2, 3).to_numpy(), [[2, 2], [3, 3]])
        np.testing.assert_array_equal(example_raster.clamp(a_min=2).to_numpy(), [[2, 2], [3, 4]])
        np.testing.assert_array_equal(example_raster.clamp(a_max=3).to_numpy(), [[1, 2], [3, 3]])

    def test_fillna(self, stats_raster_nans):
        out = stats_raster_nans.fillna(0.0).to_numpy()
        expected = np.arange(1.0, 10.0).reshape(3, 3)
        expected[0, 2] = 0.0
        expected[1, 1] = 0.0
        np.testing.assert_array_equal(out, expected)

    def test_replace_scalar(self, example_raster):
        np.testing.assert_array_equal(
            example_raster.replace(1.0, 9.0).to_numpy(), [[9, 2], [3, 4]]
        )

    def test_replace_dict_not_chained(self, spark):
        # non-chained: {1→2, 2→3} must NOT turn 1 into 3 (src/rastr/raster.py:1046-1062)
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 3, tile_size=3)
        rf = RasterFrame.from_numpy(spark, np.array([[1.0, 2.0, 5.0]]), meta)
        np.testing.assert_array_equal(rf.replace({1.0: 2.0, 2.0: 3.0}).to_numpy(), [[2, 3, 5]])

    def test_replace_nan_key(self, stats_raster_nans):
        out = stats_raster_nans.replace(np.nan, -1.0).to_numpy()
        assert out[0, 2] == -1.0 and out[1, 1] == -1.0

    def test_replace_errors(self, example_raster):
        with pytest.raises(ValueError):
            example_raster.replace({1.0: 2.0}, 3.0)
        with pytest.raises(ValueError):
            example_raster.replace(1.0)

    def test_apply_raw(self, example_raster):
        out = example_raster.apply(lambda a: a * 2 + 1).to_numpy()
        np.testing.assert_array_equal(out, [[3, 5], [7, 9]])

    def test_apply_per_cell(self, example_raster):
        out = example_raster.apply(lambda v: v**2, raw=False).to_numpy()
        np.testing.assert_array_equal(out, [[1, 4], [9, 16]])

    def test_normalize(self, example_raster):
        np.testing.assert_allclose(
            example_raster.normalize().to_numpy(), [[0, 1 / 3], [2 / 3, 1]]
        )

    def test_normalize_custom_range(self, example_raster):
        np.testing.assert_allclose(
            example_raster.normalize(vmin=2.0, vmax=4.0).to_numpy(), [[0, 0], [0.5, 1]]
        )

    def test_normalize_degenerate(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, np.array([[5.0, 5.0]]), meta)
        np.testing.assert_array_equal(rf.normalize().to_numpy(), [[0.0, 0.0]])

    def test_clamp_preserves_nan_both_dtype_paths(self, spark):
        # Spark's NaN-is-largest ordering made the JVM a_max branch turn NaN into
        # a_max (ADVICE r1); np.clip keeps NaN. Both dtype paths must agree.
        for dtype in ("float64", "float32"):
            meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 3, tile_size=3, dtype=dtype)
            rf = RasterFrame.from_numpy(spark, np.array([[1.0, np.nan, 5.0]], dtype=dtype), meta)
            out = rf.clamp(a_min=2.0, a_max=3.0).to_numpy()
            assert out[0, 0] == 2.0 and np.isnan(out[0, 1]) and out[0, 2] == 3.0, dtype
            out_max = rf.clamp(a_max=3.0).to_numpy()
            assert out_max[0, 0] == 1.0 and np.isnan(out_max[0, 1]) and out_max[0, 2] == 3.0, dtype

    def test_normalize_preserves_nan_both_dtype_paths(self, spark):
        # F.least(NaN, 1.0) == 1.0 in Spark; reference np.clip keeps NaN (ADVICE r1).
        for dtype in ("float64", "float32"):
            meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 3, tile_size=3, dtype=dtype)
            rf = RasterFrame.from_numpy(spark, np.array([[1.0, np.nan, 5.0]], dtype=dtype), meta)
            out = rf.normalize().to_numpy()
            assert out[0, 0] == 0.0 and np.isnan(out[0, 1]) and out[0, 2] == 1.0, dtype
            out2 = rf.normalize(vmin=0.0, vmax=10.0).to_numpy()
            assert np.isnan(out2[0, 1]), dtype
            np.testing.assert_allclose([out2[0, 0], out2[0, 2]], [0.1, 0.5], rtol=1e-6)

    def test_dtype_preserved_float16(self, spark):
        # reference preserves dtype (tests/conftest.py:29-62): 0.1 in f16 ≠ 0.1 in f64
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2, dtype="float16")
        arr = np.array([[1, 2], [3, 4]], dtype=np.float16)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        out = rf + 0.1
        assert out.meta.dtype == "float16"
        np.testing.assert_array_equal(out.to_numpy(), arr + np.float16(0.1))


class TestEquality:
    def test_equals_self(self, example_raster):
        assert example_raster.equals(example_raster)

    def test_not_equals_after_op(self, example_raster):
        assert not example_raster.equals(example_raster + 1.0)

    def test_nan_not_equal(self, stats_raster_nans):
        # np.array_equal without equal_nan: NaN != NaN
        assert not stats_raster_nans.equals(stats_raster_nans)


class TestStats:
    """reference test_raster.py stats on 3×3 fixtures (values 1..9)."""

    def test_basic(self, stats_raster):
        s = stats_raster.stats()
        assert s["max"] == 9.0 and s["min"] == 1.0 and s["mean"] == 5.0 and s["sum"] == 45.0
        assert s["std"] == pytest.approx(np.std(np.arange(1.0, 10.0)))

    def test_nan_ignoring(self, stats_raster_nans):
        arr = np.arange(1.0, 10.0).reshape(3, 3)
        arr[0, 2] = np.nan
        arr[1, 1] = np.nan
        assert stats_raster_nans.max() == np.nanmax(arr)
        assert stats_raster_nans.min() == np.nanmin(arr)
        assert stats_raster_nans.mean() == pytest.approx(np.nanmean(arr))
        assert stats_raster_nans.std() == pytest.approx(np.nanstd(arr))
        assert stats_raster_nans.sum() == np.nansum(arr)

    def test_all_nan(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, np.full((2, 2), np.nan), meta)
        s = rf.stats()
        assert np.isnan(s["max"]) and np.isnan(s["mean"]) and np.isnan(s["std"])
        assert s["sum"] == 0.0  # reference raster.py:982

    def test_std_small_spread_large_mean(self, spark):
        # 1e4 ± 1e-3: sqrt(E[x²] − mean²) cancels catastrophically here (5 %
        # off); the aggregate must stay at np.nanstd to 1e-6
        rng = np.random.RandomState(0)
        arr = 1e4 + rng.uniform(-1e-3, 1e-3, (128, 128))
        arr[rng.rand(128, 128) < 0.05] = np.nan
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 128), 128, 128, tile_size=32)
        s = RasterFrame.from_numpy(spark, arr, meta).stats()
        assert s["std"] == pytest.approx(np.nanstd(arr), rel=1e-6)
        assert s["mean"] == pytest.approx(np.nanmean(arr), rel=1e-12)
        assert s["count"] == int((~np.isnan(arr)).sum())

    def test_quantile_median(self, stats_raster, stats_raster_nans):
        assert stats_raster.quantile(0.5) == 5.0
        assert stats_raster.quantile(0.25) == np.quantile(np.arange(1.0, 10.0), 0.25)
        arr = np.arange(1.0, 10.0).reshape(3, 3)
        arr[0, 2] = np.nan
        arr[1, 1] = np.nan
        assert stats_raster_nans.median() == np.nanmedian(arr)
        assert stats_raster_nans.quantile(0.1) == pytest.approx(np.nanquantile(arr, 0.1))

    def test_quantile_bounds(self, stats_raster):
        with pytest.raises(ValueError):
            stats_raster.quantile(1.5)

    def test_unique(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 3, tile_size=2)
        rf = RasterFrame.from_numpy(spark, np.array([[3.0, 1.0, 3.0], [np.nan, 1.0, 2.0]]), meta)
        u = rf.unique()
        np.testing.assert_array_equal(u[:3], [1.0, 2.0, 3.0])
        assert np.isnan(u[3]) and len(u) == 4


class TestCrop:
    def test_fully_within_bounds_identity(self, base_raster):
        out = base_raster.crop(base_raster.bounds())
        np.testing.assert_array_equal(out.to_numpy(), base_raster.to_numpy())
        assert out.meta.transform == base_raster.meta.transform

    def test_crop_y_only(self, base_raster):
        minx, miny, maxx, maxy = base_raster.bounds()
        cs = base_raster.meta.cell_size
        out = base_raster.crop((minx, miny + cs, maxx, maxy - cs))
        assert out.meta.shape == (2, 4)
        assert out.meta.transform == Affine(10, 0, 0, 0, -10, 100 - cs)
        np.testing.assert_array_equal(out.to_numpy(), np.arange(1.0, 17.0).reshape(4, 4)[1:3, :])

    def test_crop_x_only(self, base_raster):
        minx, miny, maxx, maxy = base_raster.bounds()
        cs = base_raster.meta.cell_size
        out = base_raster.crop((minx + cs, miny, maxx - cs, maxy))
        assert out.meta.shape == (4, 2)
        assert out.meta.transform == Affine(10, 0, minx + cs, 0, -10, 100)

    def test_underflow_crops_border_cells(self, base_raster):
        minx, miny, maxx, maxy = base_raster.bounds()
        s = base_raster.meta.cell_size / 10
        out = base_raster.crop((minx + s, miny + s, maxx - s, maxy - s))
        assert out.meta.shape == (2, 2)
        np.testing.assert_array_equal(out.to_numpy(), [[6.0, 7.0], [10.0, 11.0]])

    def test_overflow_doesnt_crop(self, base_raster):
        minx, miny, maxx, maxy = base_raster.bounds()
        s = base_raster.meta.cell_size / 10
        out = base_raster.crop((minx + s, miny + s, maxx - s, maxy - s), strategy="overflow")
        assert out.meta.shape == (4, 4)

    def test_empty_crop_raises(self, base_raster):
        with pytest.raises(ValueError):
            base_raster.crop((1e6, 1e6, 2e6, 2e6))

    def test_bad_bounds(self, base_raster):
        with pytest.raises(ValueError):
            base_raster.crop((0, 0, 1))

    def test_bad_strategy(self, base_raster):
        with pytest.raises(NotImplementedError):
            base_raster.crop(base_raster.bounds(), strategy="nope")


class TestPad:
    def test_pad_nan(self, small_raster):
        out = small_raster.pad(5.0)
        assert out.meta.shape == (4, 4)
        arr = out.to_numpy()
        assert np.isnan(arr[0]).all() and np.isnan(arr[:, 0]).all()
        np.testing.assert_array_equal(arr[1:3, 1:3], [[1, 2], [3, 4]])
        assert out.bounds() == Bounds(-5.0, -5.0, 15.0, 15.0)

    def test_pad_value_and_ceil(self, small_raster):
        out = small_raster.pad(6.0, value=0.0)  # ceil(6/5) = 2 cells
        assert out.meta.shape == (6, 6)
        arr = out.to_numpy()
        assert arr[0, 0] == 0.0
        np.testing.assert_array_equal(arr[2:4, 2:4], [[1, 2], [3, 4]])


class TestTrim:
    def test_trim_nan(self, spark):
        arr = np.full((4, 4), np.nan)
        arr[1, 1] = 5.0
        arr[2, 2] = 6.0
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 4), 4, 4, tile_size=2)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        out = rf.trim_nan()
        assert out.meta.shape == (2, 2)
        got = out.to_numpy()
        assert got[0, 0] == 5.0 and got[1, 1] == 6.0
        assert out.meta.transform == Affine(1, 0, 1, 0, -1, 3)

    def test_trim_zeros(self, spark):
        arr = np.zeros((3, 3))
        arr[1, 1] = 7.0
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 3), 3, 3, tile_size=2)
        out = RasterFrame.from_numpy(spark, arr, meta).trim_zeros()
        assert out.meta.shape == (1, 1)
        assert out.to_numpy()[0, 0] == 7.0

    def test_all_nan_raises(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, np.full((2, 2), np.nan), meta)
        with pytest.raises(ValueError):
            rf.trim_nan()


class TestTaperBorder:
    def test_taper_to_zero(self, spark):
        # 5×5 ones, cell 1.0, taper width 2.0 → edge cells 0, ring-1 cells 0.5, centre 1
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 5), 5, 5, tile_size=3)
        rf = RasterFrame.from_numpy(spark, np.ones((5, 5)), meta)
        out = rf.taper_border(2.0).to_numpy()
        assert out[0, 0] == 0.0 and out[0, 2] == 0.0
        assert out[1, 1] == 0.5 and out[1, 2] == 0.5
        assert out[2, 2] == 1.0

    def test_taper_limit(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 5), 5, 5, tile_size=5)
        rf = RasterFrame.from_numpy(spark, np.ones((5, 5)) * 3.0, meta)
        out = rf.taper_border(2.0, limit=1.0).to_numpy()
        assert out[0, 0] == 1.0
        assert out[1, 1] == 2.0
        assert out[2, 2] == 3.0
