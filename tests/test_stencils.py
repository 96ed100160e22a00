"""Stencil operators: halo exchange, blur, sobel, dilate, extrapolate, resample.

Numerics verified against the reference's recorded goldens (skimage sobel golden
test_raster.py:1878-1906) and independently-computed scipy-equivalent results on
tiny grids (scipy itself is absent; weights/modes re-derived per stencils.py).
"""

import numpy as np
import pytest

import rastr_spark  # noqa: F401
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.operators import resample as _resample  # attaches .resample
from rastr_spark.operators import stencils  # attaches stencil ops
from rastr_spark.operators.stencils import _corr1d, _disk, _gaussian_weights, _symmetric_fill
from rastr_spark.tiles import RasterFrame


def make_rf(spark, arr, tile_size=2, cell=1.0, dtype=None):
    arr = np.asarray(arr, dtype=dtype or np.float64)
    meta = RasterMeta(
        cell, "EPSG:2193", Affine(cell, 0, 0, 0, -cell, arr.shape[0] * cell),
        arr.shape[0], arr.shape[1], tile_size=tile_size, dtype=arr.dtype.name,
    )
    return RasterFrame.from_numpy(spark, arr, meta)


def ref_gaussian(arr, sigma):
    """Driver-side reference: scipy.ndimage.gaussian_filter(mode='reflect') re-derived."""
    radius = int(4.0 * sigma + 0.5)
    w = _gaussian_weights(sigma, radius)
    a = np.pad(arr, radius, mode="symmetric")
    t = _corr1d(a, w, axis=0)
    t = _corr1d(t, w, axis=1)
    return t[radius:-radius, radius:-radius]


class TestSobel:
    def test_reference_golden(self, spark):
        # exact mirror of reference test_raster.py:1878-1906
        arr = np.arange(1.0, 10.0).reshape(3, 3)
        rf = make_rf(spark, arr, tile_size=2, cell=2.0)
        out = rf.sobel().to_numpy()
        expected = (
            np.array(
                [
                    [2.23607, 2.54951, 2.23607],
                    [4.30116, 4.47214, 4.30116],
                    [2.23607, 2.54951, 2.23607],
                ]
            )
            / 2.0
        )
        np.testing.assert_almost_equal(out, expected, decimal=5)

    def test_constant_raster_zero_gradient(self, spark):
        rf = make_rf(spark, np.full((4, 4), 7.0), tile_size=2)
        np.testing.assert_allclose(rf.sobel().to_numpy(), 0.0)

    def test_tile_boundary_invisible(self, spark):
        """Stencil across tile boundaries must equal the single-tile result."""
        rng = np.random.RandomState(3)
        arr = rng.rand(6, 6)
        small_tiles = make_rf(spark, arr, tile_size=2).sobel().to_numpy()
        one_tile = make_rf(spark, arr, tile_size=6).sobel().to_numpy()
        np.testing.assert_allclose(small_tiles, one_tile, rtol=1e-12)


class TestBlur:
    def test_matches_reference_kernel(self, spark):
        rng = np.random.RandomState(5)
        arr = rng.rand(6, 6) * 10
        rf = make_rf(spark, arr, tile_size=3)
        out = rf.blur(1.0).to_numpy()
        np.testing.assert_allclose(out, ref_gaussian(arr, 1.0), rtol=1e-10)

    def test_mean_approx_preserved_variance_reduced(self, spark):
        rng = np.random.RandomState(7)
        arr = rng.rand(8, 8)
        rf = make_rf(spark, arr, tile_size=4)
        out = rf.blur(1.0).to_numpy()
        assert out.std() < arr.std()
        assert abs(out.mean() - arr.mean()) < 0.05

    def test_sigma_in_world_units(self, spark):
        # cell 2.0, sigma 2.0 → cell_sigma 1.0 ≡ cell 1.0, sigma 1.0
        rng = np.random.RandomState(9)
        arr = rng.rand(6, 6)
        out_a = make_rf(spark, arr, tile_size=3, cell=2.0).blur(2.0).to_numpy()
        out_b = make_rf(spark, arr, tile_size=3, cell=1.0).blur(1.0).to_numpy()
        np.testing.assert_allclose(out_a, out_b, rtol=1e-12)

    def test_preserve_nan_mask(self, spark):
        # mirror of reference test_raster.py:1943-1967
        arr = np.full((5, 5), np.nan)
        arr[1:4, 1:4] = np.arange(1.0, 10.0).reshape(3, 3)
        rf = make_rf(spark, arr, tile_size=3)
        out = rf.blur(0.5, preserve_nan=True).to_numpy()
        np.testing.assert_array_equal(np.isnan(out), np.isnan(arr))
        assert np.isfinite(out[2, 2])

    def test_no_nan_plain_blur(self, spark):
        arr = np.arange(16.0).reshape(4, 4)
        out = make_rf(spark, arr, tile_size=2).blur(1.0, preserve_nan=True).to_numpy()
        np.testing.assert_allclose(out, ref_gaussian(arr, 1.0), rtol=1e-10)

    def test_tile_boundary_invisible(self, spark):
        rng = np.random.RandomState(11)
        arr = rng.rand(8, 8)
        a = make_rf(spark, arr, tile_size=4).blur(0.8).to_numpy()
        b = make_rf(spark, arr, tile_size=8).blur(0.8).to_numpy()
        np.testing.assert_allclose(a, b, rtol=1e-12)

    def test_fused_nan_path_matches_composed_pipeline(self, spark):
        """The fused preserve_nan round (r7: local NN fill + reflect + blur +
        restore in one stencil pass) must be BIT-identical to the composed
        extrapolate → blur(preserve_nan=False) → restore-mask pipeline it
        replaced, on layouts covering scattered NaN, a deep blob, and a NaN
        band on the grid edge (reflection reads filled cells there)."""
        from pyspark.sql import functions as F

        from rastr_spark.operators.elementwise import _binary
        from rastr_spark.operators.stencils import extrapolate

        rng = np.random.RandomState(13)
        layouts = {}
        scattered = rng.rand(12, 12) * 5
        scattered[rng.rand(12, 12) < 0.1] = np.nan
        layouts["scattered"] = scattered
        blob = rng.rand(12, 12)
        blob[3:9, 4:10] = np.nan  # 6×6 blob: interior deeper than the proof margin
        layouts["blob"] = blob
        band = rng.rand(12, 12)
        band[:3, :] = np.nan  # NaN band on the reflected grid edge
        layouts["edge-band"] = band
        for name, arr in layouts.items():
            for sigma in (0.5, 1.0):
                rf = make_rf(spark, arr, tile_size=4)
                composed = _binary(
                    rf,
                    extrapolate(rf).blur(sigma, preserve_nan=False),
                    lambda o, b: F.when(F.isnan(o), F.lit(float("nan"))).otherwise(b),
                    lambda o, b: np.where(np.isnan(o), np.nan, b),
                ).to_numpy()
                fused = rf.blur(sigma, preserve_nan=True).to_numpy()
                np.testing.assert_array_equal(fused, composed, err_msg=f"{name} σ={sigma}")


class TestSymmetricFill:
    def test_halo_wider_than_band_matches_np_symmetric(self):
        # ADVICE r1: a single mirror read still-NaN halo rows when halo > band;
        # the index fold must reproduce numpy's repeated 'symmetric' padding
        # (== scipy.ndimage mode='reflect')
        a = np.arange(6.0).reshape(2, 3)
        h = 5
        padded = np.full((2 + 2 * h, 3 + 2 * h), np.nan)
        padded[h : h + 2, h : h + 3] = a
        valid = np.zeros_like(padded, dtype=bool)
        valid[h : h + 2, h : h + 3] = True
        out = _symmetric_fill(padded, valid)
        np.testing.assert_array_equal(out, np.pad(a, h, mode="symmetric"))

    def test_blur_radius_exceeding_grid(self, spark):
        # 4×4 grid, σ=2 → radius 8 > grid: must equal the reference kernel
        arr = np.arange(16.0).reshape(4, 4)
        rf = make_rf(spark, arr, tile_size=2)
        out = rf.blur(2.0).to_numpy()
        np.testing.assert_allclose(out, ref_gaussian(arr, 2.0), rtol=1e-9)


class TestDilate:
    def test_simple_max_spread(self, spark):
        arr = np.zeros((5, 5))
        arr[2, 2] = 9.0
        out = make_rf(spark, arr, tile_size=3).dilate(1.0).to_numpy()
        # disk(1) = plus-shape: centre + 4-neighbours get 9
        expected = np.zeros((5, 5))
        expected[2, 2] = 9.0
        expected[1, 2] = expected[3, 2] = expected[2, 1] = expected[2, 3] = 9.0
        np.testing.assert_array_equal(out, expected)

    def test_radius_ceil(self, spark):
        # radius 0.5 at cell 1.0 → ceil to 1 cell
        arr = np.zeros((3, 3))
        arr[1, 1] = 5.0
        out = make_rf(spark, arr, tile_size=3).dilate(0.5).to_numpy()
        assert out[0, 1] == 5.0

    def test_nan_preserved_and_not_spread(self, spark):
        # hypothesis contract (reference test_raster.py:2126-2209): NaN mask preserved
        arr = np.array([[np.nan, 1.0, 2.0], [3.0, np.nan, 4.0], [5.0, 6.0, 7.0]])
        out = make_rf(spark, arr, tile_size=2).dilate(1.0).to_numpy()
        np.testing.assert_array_equal(np.isnan(out), np.isnan(arr))
        assert out[2, 1] >= 6.0  # monotone non-decreasing
        valid = ~np.isnan(arr)
        assert np.nansum(out) >= np.nansum(arr)
        assert np.nanmin(out) >= np.nanmin(arr)

    def test_all_nan_short_circuit(self, spark):
        arr = np.full((2, 2), np.nan)
        out = make_rf(spark, arr, tile_size=2).dilate(1.0).to_numpy()
        assert np.isnan(out).all()

    def test_edge_no_wraparound(self, spark):
        # padding with min-1 means border cells only see real data
        arr = np.array([[9.0, 0.0], [0.0, 0.0]])
        out = make_rf(spark, arr, tile_size=2).dilate(1.0).to_numpy()
        np.testing.assert_array_equal(out, [[9.0, 9.0], [9.0, 0.0]])

    def test_tile_boundary_invisible(self, spark):
        rng = np.random.RandomState(13)
        arr = rng.rand(6, 6)
        a = make_rf(spark, arr, tile_size=2).dilate(2.0).to_numpy()
        b = make_rf(spark, arr, tile_size=6).dilate(2.0).to_numpy()
        np.testing.assert_array_equal(a, b)


class TestExtrapolate:
    def test_fill_simple(self, spark):
        arr = np.array([[1.0, np.nan], [np.nan, np.nan]])
        out = make_rf(spark, arr, tile_size=2).extrapolate().to_numpy()
        np.testing.assert_array_equal(out, [[1.0, 1.0], [1.0, 1.0]])

    def test_nearest_semantics(self, spark):
        arr = np.array([[1.0, np.nan, np.nan, 5.0]])
        out = make_rf(spark, arr, tile_size=4).extrapolate().to_numpy()
        # (0,1) nearest is (0,0)=1; (0,2) nearest is (0,3)=5
        np.testing.assert_array_equal(out, [[1.0, 1.0, 5.0, 5.0]])

    def test_tie_break_lowest_index(self, spark):
        # cell (0,1) equidistant from (0,0)=1 and (0,2)=3 → lowest index wins → 1
        arr = np.array([[1.0, np.nan, 3.0]])
        out = make_rf(spark, arr, tile_size=3).extrapolate().to_numpy()
        assert out[0, 1] == 1.0
        # vertical tie: (1,0) between (0,0)=7 and (2,0)=9 → row 0 wins
        arr2 = np.array([[7.0], [np.nan], [9.0]])
        out2 = make_rf(spark, arr2, tile_size=3).extrapolate().to_numpy()
        assert out2[1, 0] == 7.0

    def test_euclidean_not_chebyshev(self, spark):
        # donor at euclid sqrt(2) vs euclid 2: diagonal wins
        arr = np.full((3, 3), np.nan)
        arr[0, 0] = 4.0  # diagonal to (1,1): sqrt2
        arr[1, 2] = 8.0  # lateral to (1, 0): 2.0... check cell (1,1): donors (0,0) d=sqrt2, (1,2) d=1
        out = make_rf(spark, arr, tile_size=3).extrapolate().to_numpy()
        assert out[1, 1] == 8.0  # distance 1 beats sqrt(2)
        assert out[0, 1] == 4.0  # d=1 from (0,0) beats d=sqrt2 from (1,2)

    def test_all_nan_unchanged(self, spark):
        arr = np.full((2, 2), np.nan)
        out = make_rf(spark, arr, tile_size=2).extrapolate().to_numpy()
        assert np.isnan(out).all()

    def test_cross_tile_fill(self, spark):
        # value must travel across tile boundaries (halo rounds)
        arr = np.full((1, 8), np.nan)
        arr[0, 0] = 42.0
        out = make_rf(spark, arr, tile_size=2).extrapolate().to_numpy()
        np.testing.assert_array_equal(out, np.full((1, 8), 42.0))

    def test_bad_method(self, spark):
        arr = np.ones((2, 2))
        with pytest.raises(NotImplementedError):
            make_rf(spark, arr, tile_size=2).extrapolate(method="linear")


def ref_bilinear(arr, new_h, new_w):
    H, W = arr.shape
    sy = (np.arange(new_h) + 0.5) * H / new_h - 0.5
    sx = (np.arange(new_w) + 0.5) * W / new_w - 0.5
    y0 = np.clip(np.floor(sy), 0, H - 1).astype(int)
    x0 = np.clip(np.floor(sx), 0, W - 1).astype(int)
    y1 = np.clip(y0 + 1, 0, H - 1)
    x1 = np.clip(x0 + 1, 0, W - 1)
    wy = np.clip(sy - y0, 0, 1)[:, None]
    wx = np.clip(sx - x0, 0, 1)[None, :]
    return (
        arr[np.ix_(y0, x0)] * (1 - wy) * (1 - wx)
        + arr[np.ix_(y0, x1)] * (1 - wy) * wx
        + arr[np.ix_(y1, x0)] * wy * (1 - wx)
        + arr[np.ix_(y1, x1)] * wy * wx
    )


class TestResample:
    def test_upsample_shape_and_transform(self, spark, base_raster):
        out = base_raster.resample(5.0)
        assert out.meta.cell_size == 5.0
        assert out.meta.shape == (8, 8)
        t = out.meta.transform
        assert abs(abs(t.a) - 5.0) < 0.1 and abs(abs(t.e) - 5.0) < 0.1
        assert (t.c, t.f) == (0.0, 100.0)  # top-left anchor preserved

    def test_downsample_shape(self, spark, base_raster):
        out = base_raster.resample(20.0)
        assert out.meta.shape == (2, 2)

    def test_values_match_reference_bilinear(self, spark, base_raster):
        out = base_raster.resample(5.0)
        expected = ref_bilinear(np.arange(1.0, 17.0).reshape(4, 4), 8, 8)
        np.testing.assert_allclose(out.to_numpy(), expected, rtol=1e-12)

    def test_identity_cell_size(self, spark, base_raster):
        out = base_raster.resample(10.0)
        np.testing.assert_allclose(out.to_numpy(), base_raster.to_numpy())

    def test_tile_boundary_invisible(self, spark):
        rng = np.random.RandomState(17)
        arr = rng.rand(8, 8)
        meta_small = RasterMeta(2.0, "EPSG:2193", Affine(2, 0, 0, 0, -2, 16), 8, 8, tile_size=2)
        meta_big = meta_small.with_(tile_size=8)
        a = RasterFrame.from_numpy(spark, arr, meta_small).resample(1.5).to_numpy()
        b = RasterFrame.from_numpy(spark, arr, meta_big).resample(1.5).to_numpy()
        np.testing.assert_allclose(a, b, rtol=1e-12)

    def test_bad_method(self, spark, base_raster):
        with pytest.raises(NotImplementedError):
            base_raster.resample(5.0, method="cubic")

    @pytest.mark.parametrize(
        "n,tile,factor", [(70, 16, 1 / 0.3), (70, 16, 2.0), (94, 16, 0.5), (94, 4, 1 / 7), (70, 4, 1 / 40),
                          (94, 16, 1 / 1.7), (9, 4, 4.0), (5, 8, 0.5)],
    )
    def test_scatter_ranges_equal_the_gather_windows(self, spark, n, tile, factor):
        # the (output tile, input tile) pairs the driver plans per axis are
        # exactly those whose closed-form source window, evaluated by Spark
        # per output tile, covers the input tile; (70, 4, 1/40) leaves input
        # tiles that no output tile reads
        from pyspark.sql import functions as F

        from rastr_spark.operators.resample import _scatter_ranges

        N = int(np.ceil(n * factor))
        scale = n / N
        o = F.col("o")
        ot = F.least(F.lit(tile), F.lit(N) - o * tile).cast("int")
        first = F.greatest(F.floor((o * tile + 0.5) * scale - 0.5) - 1, F.lit(0)).cast("int")
        last = F.least(F.ceil((o * tile + ot - 0.5) * scale - 0.5) + 1, F.lit(n - 1)).cast("int")
        rows = spark.range(-(-N // tile)).select(F.col("id").cast("int").alias("o")).select(
            "o", F.explode(F.sequence((first / tile).cast("int"), (last / tile).cast("int"))).alias("t")
        )
        want = {(r["o"], r["t"]) for r in rows.collect()}
        lo, hi = _scatter_ranges(-(-n // tile), -(-N // tile), n, N, scale, tile)
        got = {(int(u), t) for t in range(lo.size) for u in range(lo[t], hi[t] + 1)}
        assert got == want
        if (n, tile, factor) == (70, 4, 1 / 40):
            assert (lo > hi).any(), "no input tile was left unread"


class TestDilateProperties:
    """Port of the reference's Hypothesis dilate contract (test_raster.py:2126-2209),
    exercised over a deterministic example matrix instead of hypothesis strategies."""

    @pytest.mark.parametrize("seed", range(4))
    def test_invariants(self, spark, seed):
        rng = np.random.RandomState(seed)
        arr = rng.rand(5, 5) * 10
        nan_mask = rng.rand(5, 5) < 0.3
        arr[nan_mask] = np.nan
        if np.isnan(arr).all():
            arr[0, 0] = 1.0
        rf = make_rf(spark, arr, tile_size=3)
        out = rf.dilate(1.5).to_numpy()
        # NaN mask preserved
        np.testing.assert_array_equal(np.isnan(out), np.isnan(arr))
        # sum and min non-decreasing
        assert np.nansum(out) >= np.nansum(arr) - 1e-9
        if np.isfinite(arr).any():
            assert np.nanmin(out) >= np.nanmin(arr) - 1e-9


class TestReferenceGoldensExact:
    def test_taper_border_reference_example(self, spark):
        """Exact mirror of reference test_raster.py:2896-2932: 5×5 1..25, cell 2.0,
        width 2.5 → border 0, ring-1 scaled by 1/f (f = 1.25), centre untouched."""
        arr = np.arange(1.0, 26.0).reshape(5, 5)
        rf = make_rf(spark, arr, tile_size=3, cell=2.0)
        f = 2.5 / 2.0
        out = rf.taper_border(2.5).to_numpy()
        expected = np.array(
            [
                [0, 0, 0, 0, 0],
                [0, 7 / f, 8 / f, 9 / f, 0],
                [0, 12 / f, 13, 14 / f, 0],
                [0, 17 / f, 18 / f, 19 / f, 0],
                [0, 0, 0, 0, 0],
            ]
        )
        np.testing.assert_allclose(out, expected)

    def test_extrapolate_reference_fillna(self, spark):
        """Exact mirror of reference test_raster.py:2293-2308: [[nan,2],[3,4]] →
        [[2,2],[3,4]] (tie at distance 1 → row-major lowest index donor (0,1))."""
        arr = np.array([[np.nan, 2.0], [3.0, 4.0]])
        out = make_rf(spark, arr, tile_size=2).extrapolate(method="nearest").to_numpy()
        np.testing.assert_array_equal(out, [[2.0, 2.0], [3.0, 4.0]])

    def test_extrapolate_no_nan_identity(self, spark):
        arr = np.array([[1.0, 2.0], [3.0, 4.0]])
        out = make_rf(spark, arr, tile_size=2).extrapolate().to_numpy()
        np.testing.assert_array_equal(out, arr)

    def test_extrapolate_preserves_dtype_float16(self, spark):
        arr = np.array([[np.nan, 2], [3, 4]], dtype=np.float16)
        out = make_rf(spark, arr, tile_size=2, dtype=np.float16).extrapolate()
        assert out.meta.dtype == "float16"
        assert out.to_numpy().dtype == np.float16


class TestNNFillKernelLargeRadius:
    """The h > 32 path: exact two-pass column-scan nearest-donor search must
    match the brute-force (distance, row, col) reference — including ties —
    and beat the old per-NaN-cell Python loop by ≥5× on a half-NaN tile
    (VERDICT r3 item 3)."""

    @staticmethod
    def _brute(padded, th, tw, h):
        core = padded[h : h + th, h : h + tw]
        out = core.copy()
        dr_, dc_ = np.nonzero(~np.isnan(padded))
        if len(dr_) == 0:
            return out
        vals = padded[dr_, dc_]
        for r, c in zip(*np.nonzero(np.isnan(core))):
            d2 = (dr_ - (r + h)) ** 2 + (dc_ - (c + h)) ** 2
            best = d2.min()
            if best <= h * h:
                cand = np.nonzero(d2 == best)[0]
                order = np.lexsort((dc_[cand], dr_[cand]))
                out[r, c] = vals[cand[order[0]]]
        return out

    def test_matches_brute_force_with_ties(self):
        from rastr_spark.operators.stencils import _nn_fill

        rng = np.random.default_rng(7)
        for _ in range(15):
            th = tw = int(rng.integers(4, 16))
            h = int(rng.integers(33, 56))
            padded = np.full((th + 2 * h, tw + 2 * h), np.nan)
            nd = int(rng.integers(1, 20))
            rr = rng.integers(0, th + 2 * h, nd)
            cc = rng.integers(0, tw + 2 * h, nd)
            # integer donor coords at random spots → plenty of exact d² ties
            padded[rr, cc] = rng.integers(0, 5, nd).astype(float)
            got = _nn_fill(padded.copy(), None, (0, 0, th, tw, h))
            want = self._brute(padded.copy(), th, tw, h)
            np.testing.assert_array_equal(got, want)

    def test_half_nan_256_tile_at_least_5x_faster_than_loop(self):
        import time

        from rastr_spark.operators.stencils import _nn_fill

        rng = np.random.default_rng(3)
        th = tw = 256
        h = 40
        padded = np.full((th + 2 * h, tw + 2 * h), np.nan)
        core_vals = rng.random((th, tw))
        hole = rng.random((th, tw)) < 0.5  # ~50% NaN core
        core_vals[hole] = np.nan
        padded[h : h + th, h : h + tw] = core_vals

        def old_loop(padded, th, tw, h_):
            core = padded[h_ : h_ + th, h_ : h_ + tw]
            out = core.copy()
            nan_mask = np.isnan(core)
            donor_r, donor_c = np.nonzero(~np.isnan(padded))
            dvals = padded[donor_r, donor_c]
            nan_r, nan_c = np.nonzero(nan_mask)
            for i in range(len(nan_r)):
                pr, pc = nan_r[i] + h_, nan_c[i] + h_
                d2 = (donor_r - pr) ** 2 + (donor_c - pc) ** 2
                best = d2.min()
                if best <= h_ * h_:
                    cand = np.nonzero(d2 == best)[0]
                    order = np.lexsort((donor_c[cand], donor_r[cand]))
                    out[nan_r[i], nan_c[i]] = dvals[cand[order[0]]]
            return out

        t0 = time.perf_counter()
        want = old_loop(padded.copy(), th, tw, h)
        t_loop = time.perf_counter() - t0
        t0 = time.perf_counter()
        got = _nn_fill(padded.copy(), None, (0, 0, th, tw, h))
        t_scan = time.perf_counter() - t0
        np.testing.assert_array_equal(got, want)
        assert t_scan * 5 <= t_loop, f"scan {t_scan:.3f}s vs loop {t_loop:.3f}s"


class TestTargetedHalo:
    """halo_messages_targeted must produce exactly the ring-builder messages
    restricted to the target set (different generator, identical messages) —
    the late-round extrapolate scale path (VERDICT r4 item 8)."""

    def _rf(self, spark):
        import numpy as np

        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.tiles import RasterFrame

        rng = np.random.RandomState(5)
        H = W = 48
        arr = rng.rand(H, W)
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=16)
        return RasterFrame.from_numpy(spark, arr, meta)

    def test_messages_match_ring_builder(self, spark):
        from pyspark.sql import functions as F

        from rastr_spark.operators.stencils import halo_messages, halo_messages_targeted

        rf = self._rf(spark)
        targets = spark.createDataFrame(
            [(0, 0), (1, 2), (2, 1)], "tile_row int, tile_col int"
        )
        for h in (3, 20, 48):  # within-tile, multi-ring, full-grid radii
            ring = {
                (r["tile_row"], r["tile_col"], r["gr0"], r["gc0"], r["n_rows"], r["n_cols"], tuple(r["strip"]))
                for r in halo_messages(rf, h)
                .join(targets, ["tile_row", "tile_col"], "left_semi")
                .collect()
            }
            tgt = {
                (r["tile_row"], r["tile_col"], r["gr0"], r["gc0"], r["n_rows"], r["n_cols"], tuple(r["strip"]))
                for r in halo_messages_targeted(
                    rf, targets.withColumn("h", F.lit(h))
                ).collect()
            }
            assert ring == tgt, f"h={h}"

    def test_builders_match_numpy_oracle(self, spark):
        # every (target tile, source tile) pair whose window and tile overlap,
        # cut straight from the dense array — independent of both builders
        import numpy as np

        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.operators.stencils import halo_messages, halo_messages_targeted
        from rastr_spark.tiles import RasterFrame, tile_spans

        H, W, T = 27, 23, 10  # edge tiles on both axes
        arr = np.random.RandomState(9).rand(H, W)
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=T)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        a = rf.to_numpy()

        def oracle(tr, tc, h):
            r0, c0 = tr * T, tc * T
            rs, re = r0 - h, r0 + min(T, H - r0) + h
            cs, ce = c0 - h, c0 + min(T, W - c0) + h
            msgs = set()
            for _, _, sr0, sc0, sth, stw in tile_spans(meta):
                g0, g1 = max(rs, sr0), min(re, sr0 + sth)
                k0, k1 = max(cs, sc0), min(ce, sc0 + stw)
                if g1 > g0 and k1 > k0:
                    strip = tuple(a[g0:g1, k0:k1].ravel())
                    msgs.add((tr, tc, g0, k0, g1 - g0, k1 - k0, strip))
            return msgs

        def got(df):
            return {
                (r["tile_row"], r["tile_col"], r["gr0"], r["gc0"], r["n_rows"], r["n_cols"], tuple(r["strip"]))
                for r in df.collect()
            }

        tiles = [(tr, tc) for tr, tc, *_ in tile_spans(meta)]
        for h in (1, T - 1, T, T + 1, 40):  # 40 > the grid's span on both axes
            want = set().union(*(oracle(tr, tc, h) for tr, tc in tiles))
            assert got(halo_messages(rf, h)) == want, f"ring h={h}"
        # targeted: a subset of tiles, each at its own radius
        per = [(0, 0, 1), (1, 2, T - 1), (2, 1, T), (2, 2, T + 1), (1, 0, 40)]
        targets = spark.createDataFrame(per, "tile_row int, tile_col int, h int")
        want = set().union(*(oracle(tr, tc, h) for tr, tc, h in per))
        assert got(halo_messages_targeted(rf, targets)) == want


_LAYOUTS = ("scattered", "sparse9", "blob", "column", "nanrows", "allnan", "nonan")


def _layout(name, H=70, W=94):
    """The seven extrapolate layouts on a 70×94 grid (edge tiles on both axes
    at 16-cell tiles), plus a single corner donor."""
    rng = np.random.RandomState(11)
    if name in ("scattered", "blob", "nanrows", "nonan"):
        arr = rng.rand(H, W)
    else:
        arr = np.full((H, W), np.nan)
    if name == "scattered":
        arr[rng.rand(H, W) < 0.05] = np.nan
    elif name == "sparse9":
        pts = rng.choice(H * W, 9, replace=False)
        arr[pts // W, pts % W] = rng.rand(9) * 10
    elif name == "blob":
        yy, xx = np.mgrid[:H, :W]
        arr[(yy - 30) ** 2 + (xx - 50) ** 2 < 22**2] = np.nan
    elif name == "column":
        arr[:, 3] = np.arange(H) + 1.0
    elif name == "nanrows":
        arr[10:14] = np.nan
        arr[40:60] = np.nan
    elif name == "corner":
        arr[0, 0] = 5.0
    return arr


def _brute_nn(arr):
    """(filled, dist): the nearest-donor fill by brute force (Euclidean index
    distance, ties → lowest (row, col)) and each NaN cell's nearest-donor
    distance (NaN at donors; unchanged when there is no donor)."""
    out, dist = arr.copy(), np.full(arr.shape, np.nan)
    donors = np.argwhere(~np.isnan(arr))  # row-major = (row, col) order
    holes = np.argwhere(np.isnan(arr))
    if not donors.size:
        return out, dist
    for blk in np.array_split(holes, max(1, len(holes) // 256)):
        d2 = ((blk[:, None, :] - donors[None, :, :]) ** 2).sum(-1)
        j = d2.argmin(1)  # first minimum = lowest (row, col)
        out[blk[:, 0], blk[:, 1]] = arr[donors[j, 0], donors[j, 1]]
        dist[blk[:, 0], blk[:, 1]] = np.sqrt(d2[np.arange(len(blk)), j])
    return out, dist


class TestExtrapolateCappedRounds:
    def test_mostly_nan_exact_vs_brute(self, spark):
        # sparse donors on a multi-tile grid: the census radii + the one
        # exact-radius round must stay EXACT
        import numpy as np

        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.operators.stencils import extrapolate
        from rastr_spark.tiles import RasterFrame

        rng = np.random.RandomState(3)
        H = W = 64
        arr = np.full((H, W), np.nan)
        pts = rng.choice(H * W, 12, replace=False)
        arr[pts // W, pts % W] = rng.rand(12) * 10
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=16)
        out = extrapolate(RasterFrame.from_numpy(spark, arr, meta)).to_numpy()

        donors = np.argwhere(~np.isnan(arr))
        for r in range(H):
            for c in range(W):
                if not np.isnan(arr[r, c]):
                    assert out[r, c] == arr[r, c]
                    continue
                d = (donors[:, 0] - r) ** 2 + (donors[:, 1] - c) ** 2
                cand = donors[d == d.min()]
                cand = cand[np.lexsort((cand[:, 1], cand[:, 0]))]
                assert out[r, c] == arr[cand[0, 0], cand[0, 1]], (r, c)
        assert not np.isnan(out).any()

    def test_summary_plan_single_stencil_round(self, spark, monkeypatch):
        # the donor-summary plan must finish in EXACTLY 1 stencil round for
        # any donor layout (flags + summary are JVM map passes, then one
        # exact-radius targeted round) — counted via stencil_apply /
        # _sparse_nn_fill invocations (r7: a mostly-NaN raster takes the
        # sparse broadcast-donor round instead of the dense strip gather;
        # either way the plan must run exactly one round)
        import numpy as np

        import rastr_spark.operators.stencils as st
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.tiles import RasterFrame

        calls = []
        orig = st.stencil_apply
        orig_sparse = st._sparse_nn_fill

        def spy(rf, h, kernel, **kw):
            calls.append(("dense", h))
            return orig(rf, h, kernel, **kw)

        def spy_sparse(rf, radii, donors):
            calls.append(("sparse", None))
            return orig_sparse(rf, radii, donors)

        monkeypatch.setattr(st, "stencil_apply", spy)
        monkeypatch.setattr(st, "_sparse_nn_fill", spy_sparse)
        H = W = 128
        arr = np.full((H, W), np.nan)
        arr[0, 0] = 7.0  # single donor: every cell's fill needs radius ≈ 181
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=16)
        out = st.extrapolate(RasterFrame.from_numpy(spark, arr, meta)).to_numpy()
        assert (out == 7.0).all()
        # one round; this single-donor layout has a huge dense-window volume,
        # so it must pick the sparse broadcast-donor round
        assert calls == [("sparse", None)], calls

    def test_gather_gate_branches_agree(self, spark, monkeypatch):
        # the exact-radius round's two gather representations: a mostly-NaN
        # raster takes the broadcast-donor sparse round; with the donor bound
        # forced below any count it takes the dense strip round — bit-equal
        import numpy as np

        import rastr_spark.operators.stencils as st
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.tiles import RasterFrame

        rng = np.random.RandomState(13)
        H, W = 72, 88
        arr = np.full((H, W), np.nan)
        pts = rng.choice(H * W, 10, replace=False)
        arr[pts // W, pts % W] = rng.rand(10) * 10
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=16)
        rf = RasterFrame.from_numpy(spark, arr, meta)

        rounds = []
        orig, orig_sparse = st.stencil_apply, st._sparse_nn_fill
        monkeypatch.setattr(
            st, "stencil_apply", lambda *a, **kw: rounds.append("dense") or orig(*a, **kw)
        )
        monkeypatch.setattr(
            st, "_sparse_nn_fill", lambda *a: rounds.append("sparse") or orig_sparse(*a)
        )
        sparse = st.extrapolate(rf).to_numpy()
        monkeypatch.setattr(st, "SPARSE_GATHER_MAX_DONORS", -1)
        dense = st.extrapolate(rf).to_numpy()
        assert rounds == ["sparse", "dense"], rounds
        assert not np.isnan(sparse).any()
        np.testing.assert_array_equal(dense, sparse)

    def test_exact_radius_is_tight_per_tile(self, spark):
        # the per-tile radii must bound the true worst-case nearest-donor
        # distance from above WITHOUT collapsing to the grid diagonal: a
        # donor column at c=0 means the all-NaN tiles to its right need ~their
        # distance to the column, not the diagonal
        import rastr_spark.operators.stencils as st

        H = W = 64
        arr = np.full((H, W), np.nan)
        arr[:, 0] = np.arange(H, dtype=float)  # donor column at c=0
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=16)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        tr, tc, h = st._census_radii(st._tile_census(rf).toArrow(), meta)
        radii = dict(zip(zip(tr.tolist(), tc.tolist()), h.tolist()))
        assert set(radii) == {(r, c) for r in range(4) for c in range(4)}, radii
        for (r, c), h_ in radii.items():
            if c == 0:
                continue  # the donor column's tiles take their NaN-run bound
            # true worst case: the tile's far-column cell to the donor column,
            # same row (the donor column is full) → distance = far col index
            true_worst = c * 16 + 15
            assert h_ >= true_worst, (r, c, h_)
            # tight within a tile diagonal of slack (rep = centre-nearest
            # donor of the best tile, ±half a tile in each axis)
            assert h_ <= true_worst + 24, (r, c, h_)

    @pytest.mark.parametrize("layout", [*_LAYOUTS, "corner"])
    def test_radii_sound_and_fill_exact(self, spark, layout):
        # the seven 70×94 layouts plus a single corner donor: every NaN
        # tile's radius covers the largest nearest-donor distance of its NaN
        # cells, and the fill equals the brute-force nearest-donor fill
        import rastr_spark.operators.stencils as st

        arr = _layout(layout)
        H, W = arr.shape
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=16)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        want, dist = _brute_nn(arr)
        census = st._tile_census(rf).toArrow()
        if np.isnan(arr).any() and not np.isnan(arr).all():
            tr, tc, h = st._census_radii(census, meta)
            for r, c, h_ in zip(tr, tc, h):
                worst = np.nanmax(dist[r * 16 : (r + 1) * 16, c * 16 : (c + 1) * 16])
                assert h_ >= worst, (layout, r, c, h_, worst)
        np.testing.assert_array_equal(st.extrapolate(rf).to_numpy(), want)

    def test_census_radii_never_build_the_target_rep_product(self):
        # a synthetic 256×256-tile census, every tile mostly NaN (no run bound)
        # with one rep: n_need × n_reps is 2³² pairs; the ring blocks must stay
        # within a few dozen MB and give the brute-force global-min radius
        import tracemalloc

        import pyarrow as pa

        import rastr_spark.operators.stencils as st

        n, T = 256, 16
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, n * T), n * T, n * T, tile_size=T)
        rng = np.random.RandomState(2)
        tr, tc = np.divmod(np.arange(n * n, dtype=np.int32), n)
        rep_r = tr * T + rng.randint(0, T, n * n).astype(np.int32)
        rep_c = tc * T + rng.randint(0, T, n * n).astype(np.int32)
        i32 = lambda v: pa.array(np.broadcast_to(np.int32(v), tr.shape))  # noqa: E731
        census = pa.table({
            "tile_row": tr, "tile_col": tc,
            "n_nan": i32(T * T - 1).cast(pa.int64()), "n_donors": i32(1).cast(pa.int64()),
            "max_run": pa.nulls(n * n, pa.int32()),
            "rmin": i32(0), "rmax": i32(T - 1), "cmin": i32(0), "cmax": i32(T - 1),
            "rep_r": pa.ListArray.from_arrays(np.arange(n * n + 1, dtype=np.int32), rep_r),
            "rep_c": pa.ListArray.from_arrays(np.arange(n * n + 1, dtype=np.int32), rep_c),
        })
        tracemalloc.start()
        try:
            got_r, got_c, h = st._census_radii(census, meta)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 64 * 2**20, f"peak {peak / 2**20:.0f} MiB"
        np.testing.assert_array_equal(got_r, tr)
        np.testing.assert_array_equal(got_c, tc)
        for i in np.random.RandomState(3).choice(n * n, 32, replace=False):
            r0, c0 = tr[i] * T, tc[i] * T
            dr = np.maximum(np.abs(r0 - rep_r), np.abs(r0 + T - 1 - rep_r)).astype(np.int64)
            dc = np.maximum(np.abs(c0 - rep_c), np.abs(c0 + T - 1 - rep_c)).astype(np.int64)
            assert h[i] == int(np.ceil(np.sqrt((dr * dr + dc * dc).min()))), i

    def test_dense_with_scattered_holes_uses_run_bound(self, spark):
        # the dense-raster-with-small-holes shape (every tile flagged, donors
        # everywhere): the per-tile radius must come from the NaN-run bound
        # (hole-sized), not the rep bound (~half a tile diagonal) — the shape
        # blur's preserve_nan pre-pass hits on real rasters
        import numpy as np

        import rastr_spark.operators.stencils as st
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.tiles import RasterFrame

        rng = np.random.RandomState(7)
        H = W = 64
        arr = rng.rand(H, W)
        holes = rng.choice(H * W, 40, replace=False)  # ~1% scattered NaN
        arr[holes // W, holes % W] = np.nan
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=16)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        census = st._tile_census(rf).collect()
        runs = [r["max_run"] for r in census if r["n_nan"]]
        # every flagged tile has a VALID hole-sized run bound → the donor
        # reps are never joined for this shape
        assert runs and all(m is not None and m <= 8 for m in runs), runs
        # and the fill itself stays exact
        out = rf.extrapolate().to_numpy()
        donors = np.argwhere(~np.isnan(arr))
        nan_cells = np.argwhere(np.isnan(arr))
        for r, c in nan_cells:
            d = (donors[:, 0] - r) ** 2 + (donors[:, 1] - c) ** 2
            cand = donors[d == d.min()]
            cand = cand[np.lexsort((cand[:, 1], cand[:, 0]))]
            assert out[r, c] == arr[cand[0, 0], cand[0, 1]], (r, c)

    def test_single_corner_donor_fills_entire_grid(self, spark):
        # regression: the proof radius must reach the grid DIAGONAL — with
        # max(H, W) a lone corner donor left the far corner NaN (820 cells on
        # this 64² grid before the fix)
        import numpy as np

        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.operators.stencils import extrapolate
        from rastr_spark.tiles import RasterFrame

        H = W = 64
        arr = np.full((H, W), np.nan)
        arr[0, 0] = 7.0
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, H), H, W, tile_size=16)
        out = extrapolate(RasterFrame.from_numpy(spark, arr, meta)).to_numpy()
        assert (out == 7.0).all()


class TestBenchHooks:
    def test_stencil_instrument_names_exist(self):
        # the benchmark's traced stencil run wraps these attributes by name;
        # a rename here would otherwise break only traced runs
        from perfbench.workloads import Stencil

        class Stub:
            def __init__(self):
                self.patched = []

            def patch(self, module, attr, name, *, force=True):
                assert callable(getattr(module, attr, None)), f"{module.__name__}.{attr}"
                self.patched.append(attr)

        stub = Stub()
        Stencil(None, 0).instrument(stub)
        for attr in ("stencil_apply", "halo_messages", "halo_messages_targeted", "extrapolate"):
            assert attr in stub.patched, stub.patched
