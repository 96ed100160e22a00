"""Core data-model tests: tile round-trip, morton index, meta/affine, geometry kernels."""

import numpy as np
import pytest

from rastr_spark.geometry import (
    Geometry,
    catmull_rom_smooth,
    centre_mask,
    distance_to_geometry,
    points_in_geometry,
    points_in_rings,
    segmentize_line,
)
from rastr_spark.grid import k_ring, morton_decode, morton_encode, point_grid, point_grid_shape
from rastr_spark.meta import Affine, Bounds, RasterMeta
from rastr_spark.tiles import RasterFrame


class TestAffine:
    def test_forward_inverse_roundtrip(self):
        t = Affine(10, 0, 5, 0, -10, 100)
        cols = np.array([0.5, 1.5, 3.0])
        rows = np.array([0.5, 2.5, 1.0])
        x, y = t.forward(cols, rows)
        c2, r2 = t.inverse(x, y)
        np.testing.assert_allclose(c2, cols)
        np.testing.assert_allclose(r2, rows)

    def test_mul_identity(self):
        t = Affine(2, 0, 3, 0, -2, 7)
        i = Affine(1, 0, 0, 0, 1, 0)
        assert t * i == t

    def test_bounds_neg_e(self):
        # reference bounds ≡ rasterio array_bounds (src/rastr/raster.py:549-553)
        meta = RasterMeta(10.0, "EPSG:2193", Affine(10, 0, 0, 0, -10, 100), 4, 4, tile_size=2)
        assert meta.bounds() == Bounds(0.0, 60.0, 40.0, 100.0)

    def test_cell_centres(self):
        meta = RasterMeta(2.0, "EPSG:2193", Affine(2, 0, 0, 0, 2, 0), 2, 2, tile_size=2)
        x, y = meta.cell_centres(np.array([0]), np.array([0]))
        assert (x[0], y[0]) == (1.0, 1.0)


class TestMorton:
    def test_roundtrip(self):
        r = np.array([0, 1, 5, 1000, 12345])
        c = np.array([0, 2, 5, 999, 54321])
        z = morton_encode(r, c)
        r2, c2 = morton_decode(z)
        np.testing.assert_array_equal(r, r2)
        np.testing.assert_array_equal(c, c2)

    def test_locality(self):
        # adjacent cells share high bits at coarse levels
        z1 = morton_encode(np.array([4]), np.array([4]))[0]
        z2 = morton_encode(np.array([5]), np.array([5]))[0]
        assert z1 >> 4 == z2 >> 4

    def test_k_ring(self):
        center = int(morton_encode(np.array([3]), np.array([3]))[0])
        ring = set(k_ring(center, 1).tolist())
        assert len(ring) == 9
        assert center in ring


class TestTilesRoundtrip:
    @pytest.mark.parametrize("shape,tsz", [((2, 2), 2), ((3, 3), 2), ((5, 7), 3), ((1, 9), 4)])
    def test_from_to_numpy(self, spark, shape, tsz):
        rng = np.random.RandomState(7)
        arr = rng.rand(*shape)
        arr[0, 0] = np.nan
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, shape[0]), *shape, tile_size=tsz)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        np.testing.assert_array_equal(rf.to_numpy(), arr)

    def test_cells_explode(self, spark):
        arr = np.array([[1.0, 2.0], [3.0, np.nan]])
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        rows = {(r["row"], r["col"]): r["value"] for r in rf.cells().collect()}
        assert rows[(0, 0)] == 1.0 and rows[(1, 0)] == 3.0
        assert np.isnan(rows[(1, 1)])
        assert len(rf.cells(drop_nan=True).collect()) == 3

    def test_from_cells_dense(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 4), 4, 4, tile_size=2)
        cells = spark.createDataFrame([(0, 0, 5.0), (3, 3, 7.0)], "row int, col int, value double")
        rf = RasterFrame.from_cells(cells, meta)
        out = rf.to_numpy()
        assert out[0, 0] == 5.0 and out[3, 3] == 7.0
        assert np.isnan(out).sum() == 14

    def test_full_and_example(self, spark):
        meta = RasterMeta(2.0, "EPSG:2193", Affine(2, 0, 0, 0, 2, 0), 5, 5, tile_size=2)
        rf = RasterFrame.full(spark, meta, 3.5)
        out = rf.to_numpy()
        assert out.shape == (5, 5) and (out == 3.5).all()
        ex = RasterFrame.example(spark)
        assert ex.meta.shape == (256, 256)
        # peaks formula spot value at centre-ish
        arr = ex.to_numpy()
        x = np.linspace(-3, 3, 256)
        xx, yy = np.meshgrid(x, x)
        expected = (np.exp(-(xx**2) - yy**2) * np.sin(3 * np.sqrt(xx**2 + yy**2))).astype(np.float32)
        np.testing.assert_array_equal(arr, expected)

    def test_alignment_precondition(self, spark, example_raster, small_raster):
        with pytest.raises(ValueError):
            example_raster.check_aligned(small_raster)

    def test_set_crs(self, example_raster):
        with pytest.raises(ValueError):
            example_raster.set_crs("EPSG:4326")
        rf = example_raster.set_crs("EPSG:4326", allow_override=True)
        assert rf.meta.crs == "EPSG:4326"


class TestGroupMap:
    """``tiles.group_map``: one Python call per Arrow batch over a sorted
    stream, every group handed to ``fn`` whole and exactly once."""

    SCHEMA = "a int, b int, n long, total long, lo long, hi long"

    @staticmethod
    def _want(rows):
        want = {}
        for a, b, v in rows:
            n, t, lo, hi = want.get((a, b), (0, 0, v, v))
            want[(a, b)] = (n + 1, t + v, min(lo, v), max(hi, v))
        return want

    def _run(self, spark, rows, conf):
        import pyarrow as pa

        from rastr_spark.tiles import group_map

        def summary(groups):  # nested: a worker cannot import this test module
            rows = [
                (a, b, g.num_rows, sum(v := g.column("v").to_pylist()), min(v), max(v))
                for (a, b), g in groups
            ]
            cols = list(zip(*rows))
            return pa.RecordBatch.from_arrays(
                [pa.array(cols[0], pa.int32()), pa.array(cols[1], pa.int32())]
                + [pa.array(c, pa.int64()) for c in cols[2:]],
                names=["a", "b", "n", "total", "lo", "hi"],
            )

        prev = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            df = spark.createDataFrame(rows, "a int, b int, v long")
            out = group_map(df, ["a", "b"], summary, self.SCHEMA)
            got = out.collect()
            p = out._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
        assert "MapInArrow" in p and "FlatMapGroups" not in p, p
        keys = [(r["a"], r["b"]) for r in got]
        assert len(keys) == len(set(keys)), "a group was handed to fn more than once"
        return {(r["a"], r["b"]): (r["n"], r["total"], r["lo"], r["hi"]) for r in got}

    @pytest.mark.parametrize("per_batch", [1, 2, 7])
    def test_groups_span_batch_boundaries(self, spark, per_batch):
        rng = np.random.RandomState(per_batch)
        rows = [
            (int(a), int(b), int(v))
            for a in range(5)
            for b in range(4)
            for v in rng.randint(-50, 50, size=1 + (a * 4 + b) % 9)
        ]
        rng.shuffle(rows)
        got = self._run(spark, rows, {"spark.sql.execution.arrow.maxRecordsPerBatch": str(per_batch)})
        assert got == self._want(rows)

    def test_empty_partitions(self, spark):
        # two groups over 8 shuffle partitions, without AQE coalescing: most
        # partitions reach the kernel empty; an empty input yields no row
        conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "8"}
        rows = [(0, 0, 1), (3, 1, 2), (0, 0, 5)]
        assert self._run(spark, rows, conf) == self._want(rows)
        assert self._run(spark, [], conf) == {}

    def test_one_group_larger_than_many_batches(self, spark):
        rows = [(1, 2, v) for v in range(1000)] + [(0, 0, 7), (2, 0, 3)]
        got = self._run(spark, rows, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"})
        assert got == self._want(rows)
        assert got[(1, 2)] == (1000, sum(range(1000)), 0, 999)


class TestGeometry:
    def test_encode_decode(self):
        g = Geometry.polygon([(0, 0), (4, 0), (4, 4), (0, 4)], holes=[[(1, 1), (2, 1), (2, 2), (1, 2)]])
        g2 = Geometry.decode(g.encode())
        assert g2.kind == "polygon"
        np.testing.assert_array_equal(g.coords, g2.coords)
        np.testing.assert_array_equal(g.ring_offsets, g2.ring_offsets)

    def test_pip_square_with_hole(self):
        g = Geometry.polygon([(0, 0), (4, 0), (4, 4), (0, 4)], holes=[[(1, 1), (3, 1), (3, 3), (1, 3)]])
        px = np.array([0.5, 2.0, 3.5, 5.0])
        py = np.array([0.5, 2.0, 3.5, 5.0])
        np.testing.assert_array_equal(points_in_geometry(px, py, g), [True, False, True, False])

    def test_pip_concave(self):
        # horseshoe
        g = Geometry.polygon([(0, 0), (6, 0), (6, 6), (4, 6), (4, 2), (2, 2), (2, 6), (0, 6)])
        assert points_in_geometry(np.array([1.0]), np.array([5.0]), g)[0]
        assert not points_in_geometry(np.array([3.0]), np.array([5.0]), g)[0]
        assert points_in_geometry(np.array([3.0]), np.array([1.0]), g)[0]

    def test_multipolygon(self):
        g = Geometry.multipolygon([Geometry.box(0, 0, 1, 1), Geometry.box(2, 2, 3, 3)])
        got = points_in_geometry(np.array([0.5, 2.5, 1.5]), np.array([0.5, 2.5, 1.5]), g)
        np.testing.assert_array_equal(got, [True, True, False])

    def test_distance(self):
        g = Geometry.box(0, 0, 2, 2)
        d = distance_to_geometry(np.array([1.0, 3.0, 1.0]), np.array([1.0, 1.0, -2.0]), g)
        np.testing.assert_allclose(d, [0.0, 1.0, 2.0])

    def test_segmentize(self):
        out = segmentize_line(np.array([[0.0, 0.0], [0.0, 10.0]]), 3.0)
        assert len(out) == 5  # 4 equal parts of 2.5
        np.testing.assert_allclose(np.diff(out[:, 1]), 2.5)

    def test_catmull_rom_preserves_endpoints(self):
        xy = np.array([[0.0, 0.0], [1.0, 2.0], [3.0, 1.0], [4.0, 4.0]])
        sm = catmull_rom_smooth(xy, 8)
        np.testing.assert_allclose(sm[0], xy[0])
        np.testing.assert_allclose(sm[-1], xy[-1])
        assert len(sm) > len(xy)

    def test_catmull_rom_closed_ring_stays_closed(self):
        # reference contract (tests/rastr/gis/test_smooth.py:21-29): smoothing a
        # closed line must keep first == last
        xy = np.array([[0.0, 0.0], [1.0, 2.0], [2.0, 0.0], [0.0, 0.0]])
        sm = catmull_rom_smooth(xy, 8)
        np.testing.assert_allclose(sm[0], sm[-1])
        assert len(sm) > len(xy)


def _raycast_windows(geom, meta, r0s, c0s, th, tw):
    """The arbitrary-point PIP on every window's cell centres, built the way
    the operators built them before the scanline kernel."""
    t = meta.transform
    out = []
    for r0, c0 in zip(r0s, c0s):
        colg = float(c0) + np.arange(tw, dtype=np.float64)[None, :] + 0.5
        rowg = float(r0) + np.arange(th, dtype=np.float64)[:, None] + 0.5
        px, py = np.broadcast_arrays(t.a * colg + t.b * rowg + t.c, t.d * colg + t.e * rowg + t.f)
        out.append(points_in_rings(px.ravel(), py.ravel(), list(geom.rings())).reshape(th, tw))
    return np.array(out, dtype=bool).reshape(len(r0s), th, tw)


class TestCentreMask:
    """geometry.centre_mask (scanline per grid row) is bit-identical to
    points_in_rings (ray cast per cell centre)."""

    @staticmethod
    def _random_case(rng, it):
        H, W, T = int(rng.integers(5, 40)), int(rng.integers(5, 40)), int(rng.integers(2, 12))
        a = float(rng.choice([1.0, 0.5, 2.5, -1.0, -0.75]))  # a < 0 mirrors the columns
        e = float(rng.choice([-1.0, -0.5, 1.0, 1.5]))  # e > 0 puts row 0 at the bottom
        t = Affine(a, 0.0, rng.uniform(-10, 10), 0.0, e, rng.uniform(-10, 10))
        meta = RasterMeta(1.0, "EPSG:2193", t, H, W, tile_size=T)

        def ring(k):
            c, r = rng.uniform(-2, W + 2, k), rng.uniform(-2, H + 2, k)
            if it % 3 == 1:  # vertices on cell centres
                c, r = np.floor(c) + 0.5, np.floor(r) + 0.5
            elif it % 3 == 2:  # vertices on cell edges and corners
                c, r = np.round(c), np.round(r)
            return np.column_stack([t.a * c + t.c, t.e * r + t.f])

        polys = [
            Geometry.polygon(ring(int(rng.integers(3, 12))),
                             [ring(int(rng.integers(3, 6)))] if rng.random() < 0.4 else [])
            for _ in range(int(rng.integers(1, 3)))
        ]
        geom = polys[0] if len(polys) == 1 else Geometry.multipolygon(polys)
        return geom, meta

    def test_bit_identical_to_raycast_on_random_polygons(self):
        from rastr_spark.tiles import tile_spans

        rng = np.random.default_rng(20)
        for it in range(300):
            geom, meta = self._random_case(rng, it)
            shapes: dict = {}
            for _, _, r0, c0, th, tw in tile_spans(meta):  # ragged edge tiles group apart
                shapes.setdefault((th, tw), []).append((r0, c0))
            for (th, tw), origins in shapes.items():
                r0s, c0s = np.array(origins).T
                pick = rng.random(len(origins)) < 0.8
                pick[0] = True
                got = centre_mask(geom, meta, r0s[pick], c0s[pick], th, tw)
                want = _raycast_windows(geom, meta, r0s[pick], c0s[pick], th, tw)
                assert got.shape == want.shape == (pick.sum(), th, tw)
                np.testing.assert_array_equal(got, want, err_msg=f"case {it}, window {th}x{tw}")

    def test_edges_through_centres_follow_the_half_open_rule(self):
        # a box whose every edge runs through a row or column of centres: the
        # half-open rule keeps the bottom/left centres and drops top/right
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 8), 8, 8, tile_size=8)
        geom = Geometry.box(1.5, 1.5, 5.5, 5.5)
        got = centre_mask(geom, meta, [0], [0], 8, 8)[0]
        np.testing.assert_array_equal(got, _raycast_windows(geom, meta, [0], [0], 8, 8)[0])
        assert got.sum() == 16

    def test_rotated_transform_takes_the_raycast_branch(self, monkeypatch):
        import rastr_spark.geometry as G

        calls = []
        orig = G.points_in_rings
        monkeypatch.setattr(G, "points_in_rings", lambda *a: calls.append(1) or orig(*a))
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1.0, 0.3, 0, -0.2, -1.0, 10), 10, 9, tile_size=4)
        geom = Geometry.polygon([(1, 1), (7, 2), (6, 8), (2, 6)], [[(3, 3), (4, 3), (4, 4)]])
        got = centre_mask(geom, meta, [0, 4, 8], [4, 0, 4], 2, 4)
        assert calls == [1]
        monkeypatch.undo()
        np.testing.assert_array_equal(got, _raycast_windows(geom, meta, [0, 4, 8], [4, 0, 4], 2, 4))

    def test_degenerate_and_empty_inputs(self):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 4), 4, 4, tile_size=2)
        sliver = Geometry("polygon", np.array([0.0, 0, 3, 3, 0, 0]), np.array([0, 3]), np.array([0, 1]))
        assert not centre_mask(sliver, meta, [0, 2], [0, 2], 2, 2).any()
        assert centre_mask(Geometry.box(0, 0, 4, 4), meta, [], [], 2, 2).shape == (0, 2, 2)
        # a NaN vertex: its edges' crossing x is NaN, which no centre lies left of
        nan_vertex = Geometry.polygon([(0.2, 0.2), (3.7, 0.4), (np.nan, 2.0), (3.6, 3.8), (0.3, 3.5)])
        np.testing.assert_array_equal(
            centre_mask(nan_vertex, meta, [0, 2], [0, 2], 2, 2),
            _raycast_windows(nan_vertex, meta, [0, 2], [0, 2], 2, 2),
        )
        with pytest.raises(ValueError):
            centre_mask(Geometry.point(1, 1), meta, [0], [0], 2, 2)


class TestFishnet:
    def test_point_grid_shape_isclose_guard(self):
        # fishnet.py:49-57 round-vs-ceil
        assert point_grid_shape((0, 0, 10, 10), 2.0) == (5, 5)
        assert point_grid_shape((0, 0, 10.0000000001, 10), 2.0) == (5, 5)
        assert point_grid_shape((0, 0, 10.1, 10), 2.0) == (5, 6)

    def test_point_grid_half_cell_offsets(self):
        gx, gy = point_grid((0, 0, 4, 2), 2.0)
        assert set(zip(gx.tolist(), gy.tolist())) == {(1.0, 1.0), (3.0, 1.0)}
