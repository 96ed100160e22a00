"""Constructors: point-cloud interpolation (own Delaunay), contours, rasterize,
distance raster, vectorize/fishnet, contour extraction.

Fixtures mirror the reference test suite (tests/rastr/test_create.py; FIXTURES.md §4),
incl. the demo point cloud (src/scripts/demo_point_cloud.py:3-10) and validation
error paths (create.py:483-523, 400-427).
"""

import numpy as np
import pandas as pd
import pytest

import rastr_spark  # noqa: F401
from rastr_spark.geometry import Geometry
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.operators.interpolate import (
    InterpolationError,
    barycentric_interpolate,
    delaunay,
    interpn_kernel,
    raster_distance_from_polygon,
    raster_from_contours,
    raster_from_point_cloud,
)
from rastr_spark.operators.rasterize import (
    MissingColumnsError,
    NonNumericColumnsError,
    OverlappingGeometriesError,
    rasterize_gdf,
    rasterize_z_gdf,
    validate_no_overlapping_geometries,
)
from rastr_spark.tiles import RasterFrame, tile_spans


class TestDelaunay:
    def test_square(self):
        pts = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
        tris = delaunay(pts)
        assert len(tris) == 2
        # triangles cover the unit square
        area = 0.0
        for t in tris:
            a, b, c = pts[t]
            area += abs((b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])) / 2
        assert area == pytest.approx(1.0)

    def test_collinear_raises(self):
        pts = np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [3.0, 3.0]])
        with pytest.raises(InterpolationError):
            delaunay(pts)

    def test_random_delaunay_property(self):
        rng = np.random.RandomState(0)
        pts = rng.rand(30, 2) * 10
        tris = delaunay(pts)
        # empty-circumcircle property (allowing boundary tolerance)
        for t in tris:
            a, b, c = pts[t]
            d = 2 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1]) + c[0] * (a[1] - b[1]))
            ux = ((a @ a) * (b[1] - c[1]) + (b @ b) * (c[1] - a[1]) + (c @ c) * (a[1] - b[1])) / d
            uy = ((a @ a) * (c[0] - b[0]) + (b @ b) * (a[0] - c[0]) + (c @ c) * (b[0] - a[0])) / d
            r2 = (a[0] - ux) ** 2 + (a[1] - uy) ** 2
            others = np.setdiff1d(np.arange(len(pts)), t)
            d2 = (pts[others, 0] - ux) ** 2 + (pts[others, 1] - uy) ** 2
            assert (d2 >= r2 - 1e-9).all()

    def test_interpolation_exact_on_plane(self):
        rng = np.random.RandomState(1)
        pts = rng.rand(20, 2) * 4
        z = 2.0 * pts[:, 0] - 3.0 * pts[:, 1] + 1.0
        qx = rng.rand(50) * 2 + 1
        qy = rng.rand(50) * 2 + 1
        got = interpn_kernel(pts, z, xi=np.column_stack([qx, qy]))
        # outside the convex hull → NaN (scipy semantics); inside → exact plane
        finite = np.isfinite(got)
        assert finite.sum() >= 45
        np.testing.assert_allclose(
            got[finite], (2.0 * qx - 3.0 * qy + 1.0)[finite], rtol=1e-9
        )

    def test_nan_outside_hull(self):
        pts = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
        got = interpn_kernel(pts, np.array([1.0, 2.0, 3.0]), xi=np.array([[5.0, 5.0], [0.2, 0.2]]))
        assert np.isnan(got[0]) and np.isfinite(got[1])


class TestPointCloud:
    def test_demo_point_cloud(self, spark):
        # reference demo set (src/scripts/demo_point_cloud.py:3-10)
        x = [10, 1, 1.5, 3, 30, 5]
        y = [0, 1, 1.5, 5, 7, 9]
        z = [10, 20, 30, 40, 50, 60]
        rf = raster_from_point_cloud(spark, x, y, z, crs="EPSG:2193", cell_size=2.0, tile_size=4)
        arr = rf.to_numpy()
        assert rf.meta.cell_size == 2.0
        assert np.isfinite(arr).any() and np.isnan(arr).any()
        # values at data points ≈ data values (cell-centre discretization tolerance)
        v = rf.sample([(1.0, 1.0)])  # near (1, 1, z=20)
        assert np.isfinite(v[0])

    def test_exact_at_plane(self, spark):
        # planar point cloud → every interpolated cell is exactly on the plane
        xs, ys = np.meshgrid(np.arange(5.0), np.arange(5.0))
        x, y = xs.ravel(), ys.ravel()
        z = 3.0 * x + 2.0 * y
        rf = raster_from_point_cloud(spark, x, y, z, crs="EPSG:2193", cell_size=1.0, tile_size=3)
        arr = rf.to_numpy()
        cx, cy = rf.meta.cell_centres(
            np.repeat(np.arange(rf.meta.height), rf.meta.width),
            np.tile(np.arange(rf.meta.width), rf.meta.height),
        )
        expected = (3.0 * cx + 2.0 * cy).reshape(rf.meta.shape)
        inside = ~np.isnan(arr)
        np.testing.assert_allclose(arr[inside], expected[inside], rtol=1e-9)

    def test_too_few_points(self, spark):
        with pytest.raises(ValueError):
            raster_from_point_cloud(spark, [0, 1], [0, 1], [1, 2], crs="EPSG:2193", cell_size=1.0)

    def test_duplicate_triple_dedup(self, spark):
        rf = raster_from_point_cloud(
            spark, [0, 0, 1, 0], [0, 0, 0, 1], [1, 1, 2, 3], crs="EPSG:2193", cell_size=0.5, tile_size=4
        )
        assert np.isfinite(rf.to_numpy()).any()

    def test_same_xy_different_z_raises(self, spark):
        with pytest.raises(ValueError, match="Duplicate"):
            raster_from_point_cloud(
                spark, [0, 0, 1], [0, 0, 1], [1, 2, 3], crs="EPSG:2193", cell_size=1.0
            )

    def test_collinear_raises(self, spark):
        with pytest.raises(InterpolationError):
            raster_from_point_cloud(
                spark, [0, 1, 2], [0, 1, 2], [1, 2, 3], crs="EPSG:2193", cell_size=1.0
            )


class TestContoursConstructor:
    def test_parallel_contours(self, spark):
        # FIXTURES.md §4: parallel linestrings valued [10, 20, 10]
        geoms = [
            Geometry.linestring([(0, 0), (10, 0)]),
            Geometry.linestring([(0, 5), (10, 5)]),
            Geometry.linestring([(0, 10), (10, 10)]),
        ]
        rf = raster_from_contours(
            spark, [10.0, 20.0, 10.0], geoms, crs="EPSG:2193", cell_size=1.0, tile_size=8
        )
        arr = rf.to_numpy()
        finite = arr[np.isfinite(arr)]
        assert finite.min() >= 10.0 - 1e-9 and finite.max() <= 20.0 + 1e-9
        # mid-band interpolates between 10 and 20
        mid = rf.sample([(5.0, 2.5)])[0]
        assert 10.0 < mid < 20.0

    def test_snap_to_levels(self, spark):
        geoms = [
            Geometry.linestring([(0, 0), (10, 0)]),
            Geometry.linestring([(0, 4), (10, 4)]),
        ]
        rf = raster_from_contours(spark, [1.0, 2.0], geoms, crs="EPSG:2193", cell_size=1.0, tile_size=8)
        arr = rf.to_numpy()
        # cells on the contour lines snap to exactly 1.0 / 2.0
        assert (np.isclose(arr[np.isfinite(arr)], 1.0) | np.isclose(arr[np.isfinite(arr)], 2.0)).any()

    def test_single_value_raises(self, spark):
        with pytest.raises(ValueError, match="distinct"):
            raster_from_contours(
                spark, [5.0, 5.0],
                [Geometry.linestring([(0, 0), (1, 0)]), Geometry.linestring([(0, 1), (1, 1)])],
                crs="EPSG:2193", cell_size=1.0,
            )

    def test_length_mismatch(self, spark):
        with pytest.raises(ValueError, match="same length"):
            raster_from_contours(
                spark, [1.0], [Geometry.linestring([(0, 0), (1, 0)]), Geometry.linestring([(0, 1), (1, 1)])],
                crs="EPSG:2193", cell_size=1.0,
            )


class TestRasterize:
    def _meta(self, cell=1.0):
        return RasterMeta(cell, "EPSG:2193", Affine(cell, 0, 0, 0, -cell, 0), 1, 1, tile_size=8)

    def test_polygon_burn(self, spark):
        gdf = pd.DataFrame(
            {"geometry": [Geometry.box(0, 0, 2, 2)], "value": [7.0]}
        )
        (rf,) = rasterize_gdf(spark, gdf, raster_meta=self._meta(), target_cols=["value"])
        arr = rf.to_numpy()
        assert (arr[np.isfinite(arr)] == 7.0).all()
        assert np.isfinite(arr).sum() == 4  # 2×2 cells with centres inside

    def test_point_burn(self, spark):
        gdf = pd.DataFrame(
            {"geometry": [Geometry.point(0.5, 0.5), Geometry.point(2.5, 2.5)], "value": [10.0, 20.0]}
        )
        (rf,) = rasterize_gdf(spark, gdf, raster_meta=self._meta(), target_cols=["value"])
        vals = rf.to_numpy()
        got = set(vals[np.isfinite(vals)].tolist())
        assert got == {10.0, 20.0}

    def test_line_burn_spans_cells(self, spark):
        gdf = pd.DataFrame(
            {"geometry": [Geometry.linestring([(0, 0), (4, 4)])], "value": [5.0]}
        )
        (rf,) = rasterize_gdf(spark, gdf, raster_meta=self._meta(0.5), target_cols=["value"])
        arr = rf.to_numpy()
        assert np.isfinite(arr).sum() > 3

    def test_multiple_columns(self, spark):
        gdf = pd.DataFrame(
            {"geometry": [Geometry.box(0, 0, 2, 2)], "a": [1.0], "b": [2.0]}
        )
        ra, rb = rasterize_gdf(spark, gdf, raster_meta=self._meta(), target_cols=["a", "b"])
        assert (ra.to_numpy()[np.isfinite(ra.to_numpy())] == 1.0).all()
        assert (rb.to_numpy()[np.isfinite(rb.to_numpy())] == 2.0).all()

    def test_missing_column_raises(self, spark):
        gdf = pd.DataFrame({"geometry": [Geometry.box(0, 0, 1, 1)], "value": [1.0]})
        with pytest.raises(MissingColumnsError):
            rasterize_gdf(spark, gdf, raster_meta=self._meta(), target_cols=["missing"])

    def test_non_numeric_raises(self, spark):
        gdf = pd.DataFrame({"geometry": [Geometry.box(0, 0, 1, 1)], "text_col": ["x"]})
        with pytest.raises(NonNumericColumnsError):
            rasterize_gdf(spark, gdf, raster_meta=self._meta(), target_cols=["text_col"])

    def test_overlapping_raises(self, spark):
        gdf = pd.DataFrame(
            {"geometry": [Geometry.box(0, 0, 2, 2), Geometry.box(1, 1, 3, 3)], "value": [1.0, 2.0]}
        )
        with pytest.raises(OverlappingGeometriesError):
            rasterize_gdf(spark, gdf, raster_meta=self._meta(0.5), target_cols=["value"])

    def test_overlap_validator_bbox_pruned_at_scale(self, spark):
        # 1k disjoint scattered boxes on a 4096² grid: bbox pruning keeps the
        # validator to O(touched tiles × local geoms), not n_tiles × n_geoms × T²
        import time

        meta = RasterMeta(
            1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 4096), 4096, 4096, tile_size=256
        )
        geoms = []
        for k in range(1000):
            x = (k % 32) * 128.0 + 10.0
            y = (k // 32) * 128.0 + 10.0
            geoms.append(Geometry.box(x, y, x + 50.0, y + 50.0))
        t0 = time.time()
        validate_no_overlapping_geometries(spark, geoms, meta)  # no raise
        took = time.time() - t0
        assert took < 60, f"validator took {took:.1f}s — pruning regressed"
        # still detects a genuine overlap among the same scattered set
        with pytest.raises(OverlappingGeometriesError):
            validate_no_overlapping_geometries(
                spark, geoms + [Geometry.box(15.0, 15.0, 40.0, 40.0)], meta
            )

    def test_touching_passes(self, spark):
        gdf = pd.DataFrame(
            {"geometry": [Geometry.box(0, 0, 2, 2), Geometry.box(2, 0, 4, 2)], "value": [1.0, 2.0]}
        )
        (rf,) = rasterize_gdf(spark, gdf, raster_meta=self._meta(0.5), target_cols=["value"])
        vals = rf.to_numpy()
        assert {1.0, 2.0} <= set(vals[np.isfinite(vals)].tolist())


class TestRasterizeZ:
    def test_triangle_mean(self, spark):
        # 3-D triangle: z at vertices; inside cells interpolate the plane
        tri = Geometry.polygon([(0, 0), (4, 0), (0, 4)])
        z = np.array([0.0, 4.0, 4.0, 0.0])  # closed ring: z per ring vertex
        rf = rasterize_z_gdf(spark, [tri], [z], cell_size=1.0, crs="EPSG:2193", agg="mean", tile_size=8)
        arr = rf.to_numpy()
        assert np.isfinite(arr).any()
        finite = arr[np.isfinite(arr)]
        assert finite.min() >= -1e-9 and finite.max() <= 4.0 + 1e-9

    def test_overlap_agg(self, spark):
        t1 = Geometry.polygon([(0, 0), (4, 0), (0, 4)])
        z1 = np.array([0.0, 0.0, 0.0, 0.0])
        t2 = Geometry.polygon([(0, 0), (4, 0), (0, 4)])
        z2 = np.array([2.0, 2.0, 2.0, 2.0])
        mean_rf = rasterize_z_gdf(spark, [t1, t2], [z1, z2], cell_size=1.0, crs="EPSG:2193", agg="mean", tile_size=8)
        arr = mean_rf.to_numpy()
        vals = arr[np.isfinite(arr)]
        np.testing.assert_allclose(vals, 1.0)
        max_rf = rasterize_z_gdf(spark, [t1, t2], [z1, z2], cell_size=1.0, crs="EPSG:2193", agg="max", tile_size=8)
        np.testing.assert_allclose(max_rf.to_numpy()[np.isfinite(max_rf.to_numpy())], 2.0)

    def test_triangulates_each_geometry_once(self, spark, monkeypatch):
        # a 40-vertex ring over 36 tiles, a triangle and a collinear (skipped)
        # line: one Delaunay call per geometry, none inside the tile kernel,
        # and every cell bit-equal to interpolating each geometry over the
        # whole grid at once
        from rastr_spark.operators import interpolate, rasterize

        t = np.linspace(0, 2 * np.pi, 41)[:-1]
        ring = Geometry.polygon(np.column_stack([12 + 11.5 * np.cos(t), 12 + 11.5 * np.sin(t)]))
        tri = Geometry.polygon([(2, 3), (20, 5), (9, 21)])
        line = Geometry.linestring(np.array([(1.0, 1.0), (5.0, 5.0), (9.0, 9.0)]))
        geoms = [ring, tri, line]
        zs = [np.append(np.sin(3 * t), 0.0), np.array([1.0, 4.0, 2.0, 1.0]), np.array([0.0, 1.0, 2.0])]
        calls, kernels = [], []
        orig_delaunay, orig_generate = interpolate.delaunay, RasterFrame.generate_tiles

        def counting(points):
            calls.append(len(points))
            return orig_delaunay(points)

        def capture(spark_, meta, fn, *, raster_id):
            kernels.append((meta, fn))
            return orig_generate(spark_, meta, fn, raster_id=raster_id)

        monkeypatch.setattr(interpolate, "delaunay", counting)
        monkeypatch.setattr(rasterize, "delaunay", counting, raising=False)
        monkeypatch.setattr(RasterFrame, "generate_tiles", staticmethod(capture))
        rf = rasterize_z_gdf(spark, geoms, zs, cell_size=1.0, crs="EPSG:2193", agg="mean", tile_size=4)
        (meta, fn), = kernels
        assert meta.n_tile_rows * meta.n_tile_cols == 36
        n_build = len(calls)
        for _, _, r0, c0, th, tw in tile_spans(meta):
            fn(r0, c0, th, tw)
        assert n_build == len(geoms) and len(calls) == n_build, (n_build, len(calls))
        monkeypatch.undo()

        px, py = meta.cell_centres(*np.mgrid[: meta.height, : meta.width].reshape(2, -1))
        cnt, s = np.zeros(px.shape), np.zeros(px.shape)
        for g, z in zip(geoms, zs):
            try:
                zi = interpn_kernel(g.xy, z, xi=np.column_stack((px, py)))
            except InterpolationError:
                continue
            ok = ~np.isnan(zi)
            cnt[ok] += 1
            s[ok] += zi[ok]
        with np.errstate(invalid="ignore", divide="ignore"):
            want = np.where(cnt > 0, s / cnt, np.nan).reshape(meta.shape)
        got = rf.to_numpy()
        assert np.isfinite(got).sum() > 300
        assert got.tobytes() == want.tobytes()

    def test_empty_raises(self, spark):
        with pytest.raises(ValueError, match="empty"):
            rasterize_z_gdf(spark, [], [], cell_size=1.0, crs="EPSG:2193")

    def test_2d_raises(self, spark):
        with pytest.raises(ValueError, match="not 3D"):
            rasterize_z_gdf(spark, [Geometry.box(0, 0, 1, 1)], [None], cell_size=1.0, crs="EPSG:2193")


class TestDistanceRaster:
    def test_distances(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 0), 1, 1, tile_size=8)
        poly = Geometry.box(4, 4, 6, 6)
        extent = Geometry.box(0, 0, 10, 10)
        rf = raster_distance_from_polygon(spark, poly, raster_meta=meta, extent_polygon=extent)
        arr = rf.to_numpy()
        assert rf.meta.shape == (10, 10)
        # cells inside the polygon → NaN; adjacent cell centre 0.5 from boundary
        r, c = rf.meta.world_to_index(np.array([5.0]), np.array([5.0]))
        assert np.isnan(arr[r[0], c[0]])
        r, c = rf.meta.world_to_index(np.array([3.5]), np.array([5.5]))
        assert arr[r[0], c[0]] == pytest.approx(0.5)

    def test_geographic_crs_rejected(self, spark):
        meta = RasterMeta(1.0, "EPSG:4326", Affine(1, 0, 0, 0, -1, 0), 1, 1, tile_size=8)
        with pytest.raises(ValueError, match="geographic"):
            raster_distance_from_polygon(
                spark, Geometry.box(0, 0, 1, 1), raster_meta=meta, extent_polygon=Geometry.box(0, 0, 2, 2)
            )

    def test_extent_xor_snap(self, spark):
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 0), 1, 1, tile_size=8)
        with pytest.raises(ValueError):
            raster_distance_from_polygon(spark, Geometry.box(0, 0, 1, 1), raster_meta=meta)


class TestVectorize:
    def test_fishnet_gdf(self, spark, example_raster):
        rows = example_raster.as_geodataframe().collect()
        assert len(rows) == 4
        by_rc = {(r["row"], r["col"]): r for r in rows}
        c = by_rc[(0, 0)]
        assert (c["x"], c["y"]) == (1.0, 1.0)
        assert (c["xmin"], c["ymin"], c["xmax"], c["ymax"]) == (0.0, 0.0, 2.0, 2.0)
        assert c["value"] == 1.0

    def test_contour_ramp(self, spark):
        # vertical ramp: contour at 2.5 is a horizontal line (in index space)
        arr = np.tile(np.arange(5.0)[:, None], (1, 5))
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 5), 5, 5, tile_size=3)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        gdf = rf.contour([2.5], smoothing=False)
        assert list(gdf["level"]) == [2.5]
        g = gdf["geometry"][0]
        xy = g.xy
        # contour row index = 2.5 → y = 5 - (2.5 + 0.5) = 2.0
        np.testing.assert_allclose(xy[:, 1], 2.0, atol=1e-9)
        assert xy[:, 0].min() <= 1.0 and xy[:, 0].max() >= 4.0

    def test_contour_crosses_tiles(self, spark):
        arr = np.tile(np.arange(6.0)[:, None], (1, 6))
        a = RasterFrame.from_numpy(
            spark, arr, RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 6), 6, 6, tile_size=2)
        ).contour([2.5], smoothing=False)
        b = RasterFrame.from_numpy(
            spark, arr, RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 6), 6, 6, tile_size=6)
        ).contour([2.5], smoothing=False)
        ga, gb = a["geometry"][0], b["geometry"][0]
        # same set of points regardless of tiling
        sa = set(map(tuple, np.round(ga.xy, 6).tolist()))
        sb = set(map(tuple, np.round(gb.xy, 6).tolist()))
        assert sa == sb

    def test_dissolve_one_row_per_level(self, spark):
        ex = RasterFrame.example(spark)
        gdf = ex.contour([0.0, 0.5], smoothing=False)
        assert list(gdf.columns) == ["level", "geometry"]
        assert list(gdf["level"]) == sorted(set(gdf["level"]))
        assert len(gdf) <= 2

    def test_contour_distributed_stitch_large_grid(self, spark):
        # a single isoline crossing 16 tiles of a 1024² grid must come back as ONE
        # stitched polyline spanning the full width — segments come from one
        # sorted halo stream (tiles.group_map) and the stitch runs inside
        # groupBy(level).applyInPandas, never on the driver
        N, TS = 1024, 256
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, N), N, N, tile_size=TS)
        rf = RasterFrame.generate_tiles(
            spark, meta, lambda r0, c0, th, tw: np.repeat(np.arange(r0, r0 + th, dtype=float), tw),
            raster_id="ramp",
        )
        lines = rf.contour_lines([511.5], smoothing=False).collect()
        assert len(lines) == 1  # one polyline despite 16-tile extraction
        xs = np.asarray(lines[0]["xs"])
        ys = np.asarray(lines[0]["ys"])
        np.testing.assert_allclose(ys, N - (511.5 + 0.5), atol=1e-9)
        assert xs.min() <= 1.0 and xs.max() >= N - 2.0
        assert len(xs) >= N - 2

    def test_contour_smoothing_runs(self, spark):
        arr = np.tile(np.arange(5.0)[:, None], (1, 5))
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 5), 5, 5, tile_size=5)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        gdf = rf.contour([2.5], smoothing=True)
        assert len(gdf) == 1


class TestSpeckleRegression:
    """Real-world regression from the reference's own asset
    (tests/assets/contour_speckle.parquet; reference test_create.py:2331-2365):
    all cells in the horseshoe pocket must get ONE identical value — the
    np.isclose level-snap kills float speckle."""

    def test_float_speckling_asset(self, spark):
        import duckdb

        from rastr_spark.geometry import wkb_to_geometry

        rows = duckdb.sql(
            "SELECT Contour, geometry FROM read_parquet("
            "'/root/reference/tests/assets/contour_speckle.parquet')"
        ).fetchall()
        values = [r[0] for r in rows]
        geoms = [wkb_to_geometry(r[1]) for r in rows]
        rf = raster_from_contours(
            spark, values, geoms, crs="EPSG:2193", cell_size=1.0, tile_size=32
        )
        arr = rf.to_numpy()
        gx, gy = rf.get_xy()
        pocket = gy > 5918541.61
        vals = arr[pocket]
        uniq = np.unique(vals[~np.isnan(vals)])
        assert len(uniq) == 1  # no speckle: one snapped value in the pocket

    def test_segmentization_reference(self, spark):
        """Mirror of reference test_create.py:2367-2396: long contour lines must be
        segmentized so the left region interpolates purely from value-10 contours."""
        long_contour = Geometry.linestring([(0, 0), (0, 100)])
        protected_point = Geometry.point(1, 50)
        exposed_contour = Geometry.linestring([(-5, 45), (-5, 55)])
        rf = raster_from_contours(
            spark, [10.0, 20.0, 10.0],
            [long_contour, protected_point, exposed_contour],
            crs="EPSG:2193", cell_size=1.0, tile_size=32,
        )
        arr = rf.to_numpy()
        gx, gy = rf.get_xy()
        left = (gx < -1) & ~np.isnan(arr)
        assert np.all(arr[left] == 10.0)
