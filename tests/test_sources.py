"""Sources: checkpoint manager (resume protocol), raster I/O, streaming updates,
multimodal plumbing, packaging."""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

import rastr_spark  # noqa: F401
from rastr_spark.functions.multimodal import decode_image, frame_sample, image_features, synthesize_media
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.sources.checkpoint import CheckpointManager
from rastr_spark.sources.io import read_gsag, read_raster, write_gsag, write_raster
from rastr_spark.streaming.updates import read_update_stream, run_to_memory, windowed_tile_stats
from rastr_spark.tiles import RasterFrame


class TestCheckpoint:
    def test_run_and_resume(self, spark, tmp_path):
        cm = CheckpointManager(tmp_path / "ckpt")
        calls = []

        def build():
            calls.append(1)
            return spark.range(10).withColumn("v", F.col("id") * 2)

        r1 = cm.run_stage(spark, "stage1", "fp-abc", build)
        assert not r1.resumed and r1.metrics["rows_out"] == 10
        r2 = cm.run_stage(spark, "stage1", "fp-abc", build)
        assert r2.resumed and len(calls) == 1  # second run came from checkpoint
        assert r2.df.count() == 10

    def test_fingerprint_change_recomputes(self, spark, tmp_path):
        cm = CheckpointManager(tmp_path / "ckpt")
        calls = []

        def build():
            calls.append(1)
            return spark.range(5)

        cm.run_stage(spark, "s", "fp1", build)
        cm.run_stage(spark, "s", "fp2", build)
        assert len(calls) == 2

    def test_invalidate(self, spark, tmp_path):
        cm = CheckpointManager(tmp_path / "ckpt")
        calls = []

        def build():
            calls.append(1)
            return spark.range(3)

        cm.run_stage(spark, "s", "fp", build)
        cm.invalidate("s")
        cm.run_stage(spark, "s", "fp", build)
        assert len(calls) == 2

    def test_metrics_shape(self, spark, tmp_path):
        cm = CheckpointManager(tmp_path / "ckpt")
        r = cm.run_stage(spark, "m", "fp", lambda: spark.range(100).repartition(4))
        assert r.metrics["rows_out"] == 100
        assert r.metrics["n_partitions"] >= 1
        assert all("partition_id" in p and "rows" in p for p in r.metrics["partitions"])

    def test_cc_round_telemetry_lands_in_metrics_table(self, spark, tmp_path):
        # connected_components emits (round, changed, wall) per label round; a
        # long-running clustering job records them to the checkpoint store so
        # convergence is observable mid-run (VERDICT r3 item 8)
        from rastr_spark.functions.dedup import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(50)], "id_a long, id_b long"
        )
        rounds: list[dict] = []
        comp = connected_components(edges, max_iters=25, metrics=rounds)
        assert comp.count() == 51
        assert rounds and rounds[-1]["changed"] == 0  # fixpoint recorded
        assert all({"round", "changed", "wall_sec"} <= set(r) for r in rounds)
        cm = CheckpointManager(tmp_path / "ckpt")
        cm.record_round_metrics(spark, "cc_fuzzy", rounds, run_fp="fp-A")
        back = cm.read_round_metrics(spark)
        rows = back.orderBy("round").collect()
        assert len(rows) == len(rounds)
        assert rows[0]["stage"] == "cc_fuzzy"
        assert rows[0]["run_fp"] == "fp-A"
        assert [r["changed"] for r in rows] == [r["changed"] for r in rounds]
        # a recompute under different parameters appends under its own
        # fingerprint — telemetry from distinct runs stays distinguishable
        cm.record_round_metrics(spark, "cc_fuzzy", rounds, run_fp="fp-B")
        both = cm.read_round_metrics(spark)
        assert both.select("run_fp").distinct().count() == 2
        assert both.filter(F.col("run_fp") == "fp-A").count() == len(rounds)

    @staticmethod
    def _cc_edges(spark):
        return spark.createDataFrame(
            [(i * 37 % 1009, (i + 1) * 37 % 1009) for i in range(200)],
            "id_a long, id_b long",
        )

    def test_cc_reliable_fences_resume_mid_round(self, spark, tmp_path, monkeypatch):
        # reliable_dir swaps localCheckpoints for parquet fences: a driver
        # crash mid-clustering resumes at the last COMMITTED round instead of
        # round 0, and the result is identical to the volatile-mode run
        # (VERDICT r5 item 6)
        import pytest

        import rastr_spark.functions.dedup as dd

        # per-round fences exist only in the distributed loop: force it
        monkeypatch.setattr(dd, "CC_DRIVER_MAX_EDGES", -1)
        edges = self._cc_edges(spark)
        want = {
            (r["node"], r["comp"])
            for r in dd.connected_components(edges).collect()
        }

        rel = str(tmp_path / "cc_rounds")
        orig = dd._parquet_fence

        def crashing(df, path):
            out = orig(df, path)
            if path.endswith("labels_r2"):
                raise RuntimeError("simulated driver crash after committing round 2")
            return out

        monkeypatch.setattr(dd, "_parquet_fence", crashing)
        with pytest.raises(RuntimeError, match="simulated driver crash"):
            dd.connected_components(edges, reliable_dir=rel)

        monkeypatch.setattr(dd, "_parquet_fence", orig)
        rounds: list[dict] = []
        got = dd.connected_components(edges, reliable_dir=rel, metrics=rounds)
        assert {(r["node"], r["comp"]) for r in got.collect()} == want
        # resumed at the committed round, not from scratch
        assert rounds and rounds[0]["round"] == 2

    def test_cc_reliable_small_graph_runs_on_driver(self, spark, tmp_path):
        # below CC_DRIVER_MAX_EDGES reliable mode fences the edges and runs the
        # driver union-find: volatile-mode labels, no per-round label tables
        import rastr_spark.functions.dedup as dd

        edges = self._cc_edges(spark)
        want = {(r["node"], r["comp"]) for r in dd.connected_components(edges).collect()}
        rel = tmp_path / "cc_rounds"
        got = dd.connected_components(edges, reliable_dir=str(rel))
        assert {(r["node"], r["comp"]) for r in got.collect()} == want
        assert (rel / "edges" / "_SUCCESS").exists()
        assert not list(rel.glob("labels_r*"))


class TestRasterIO:
    def test_parquet_roundtrip(self, spark, tmp_path, base_raster):
        write_raster(base_raster, tmp_path / "r")
        back = read_raster(spark, tmp_path / "r")
        assert back.meta == base_raster.meta
        np.testing.assert_array_equal(back.to_numpy(), base_raster.to_numpy())

    def test_gsag_roundtrip(self, spark, tmp_path):
        arr = np.array([[1.0, 2.0], [np.nan, 4.0]])
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        write_gsag(rf, tmp_path / "g.grd")
        back = read_gsag(spark, tmp_path / "g.grd", tile_size=2)
        got = back.to_numpy()
        np.testing.assert_allclose(got[np.isfinite(got)], arr[np.isfinite(arr)], rtol=1e-5)
        assert np.isnan(got[1, 0])
        assert back.meta.cell_size == 1.0


class TestStreaming:
    def test_windowed_tile_stats(self, spark, tmp_path):
        src = tmp_path / "updates"
        src.mkdir()
        rows = [
            ("2024-01-01 00:00:10", 0, 0, 1.0),
            ("2024-01-01 00:00:20", 0, 1, 3.0),
            ("2024-01-01 00:01:10", 300, 300, 5.0),
            ("2024-01-01 00:00:30", 5, 5, float("nan")),
        ]
        spark.createDataFrame(rows, "ts string, row int, col int, value double").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).write.parquet(str(src / "batch1"))
        stream = read_update_stream(spark, str(src / "*"))
        stats = windowed_tile_stats(stream, tile_size=256, window="1 minute")
        q = run_to_memory(stats, "tile_stats_test")
        q.awaitTermination(60)
        out = {(r["tile_row"], r["tile_col"]): r for r in spark.sql("select * from tile_stats_test").collect()}
        assert out[(0, 0)]["cnt"] == 2 and out[(0, 0)]["mean"] == 2.0  # NaN row excluded
        assert out[(1, 1)]["cnt"] == 1 and out[(1, 1)]["s"] == 5.0


class TestStreamingDedup:
    def test_first_arrival_kept_dups_dropped(self, spark, tmp_path):
        from rastr_spark.streaming.updates import streaming_dedup_exact

        src = tmp_path / "docs_stream"
        src.mkdir()
        rows = [
            ("2024-01-01 00:00:01", 0, "alpha beta"),
            ("2024-01-01 00:00:02", 1, "alpha beta"),   # dup of 0 within watermark
            ("2024-01-01 00:00:03", 2, "gamma delta"),
            ("2024-01-01 00:00:04", 3, "alpha beta"),   # another dup
            ("2024-01-01 00:00:05", 4, "epsilon"),
        ]
        spark.createDataFrame(rows, "ts string, doc_id long, text string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).write.parquet(str(src / "b1"))
        stream = spark.readStream.schema("ts timestamp, doc_id long, text string").parquet(
            str(src / "*")
        )
        out = streaming_dedup_exact(stream, watermark="10 minutes")
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_stream_test")
            .outputMode("append")  # dedup emits first-seen rows immediately
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = {r["doc_id"]: r["text"] for r in spark.sql("select * from dedup_stream_test").collect()}
        assert set(got.values()) == {"alpha beta", "gamma delta", "epsilon"}
        # exactly one representative per distinct text (within one micro-batch
        # the survivor is an arbitrary group member — documented Spark behavior)
        assert len(got) == 3
        assert got[2] == "gamma delta" and got[4] == "epsilon"
        assert set(got) & {0, 1, 3}  # the alpha-beta survivor is one of its dups


class TestMultimodal:
    def test_decode_stub_raises(self):
        with pytest.raises(NotImplementedError):
            decode_image(b"x", 4, 4, 3)

    def test_fake_decode_deterministic(self):
        a = decode_image(b"payload", 8, 8, 3, fake=True)
        b = decode_image(b"payload", 8, 8, 3, fake=True)
        np.testing.assert_array_equal(a, b)
        assert a.shape == (8, 8, 3) and a.dtype == np.uint8

    def test_image_features_shape(self, spark):
        media = synthesize_media(spark, 30)
        feats = image_features(media, grid=4).collect()
        assert len(feats) == 10  # one third are images
        for r in feats:
            assert len(r["feature"]) == 16
            assert all(0.0 <= v <= 1.0 for v in r["feature"])

    def test_frame_sample(self, spark):
        media = synthesize_media(spark, 30)
        frames = frame_sample(media, every_n=10)
        rows = frames.groupBy("media_id").count().collect()
        assert len(rows) == 10  # videos only
        idx = frames.filter(F.col("frame_idx") % 10 != 0).count()
        assert idx == 0


class TestPackaging:
    def test_zip_builds_and_imports(self, tmp_path):
        import subprocess
        import sys
        import zipfile

        out = subprocess.run(
            [sys.executable, "scripts/package.py"], capture_output=True, text=True, cwd="/root/repo"
        )
        assert out.returncode == 0, out.stderr
        with zipfile.ZipFile("/root/repo/dist/rastr_spark.zip") as z:
            names = z.namelist()
        assert "rastr_spark/__init__.py" in names
        assert any("operators/joins.py" in n for n in names)


class TestCheckpointedFlagship:
    def test_resume_mid_join(self, spark, tmp_path):
        import numpy as np
        from rastr_spark.geometry import Geometry
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.plans.flagship import doc_zonal_stats, flagship_checkpointed
        from rastr_spark.sources.documents import generate_documents
        from rastr_spark.sources.checkpoint import CheckpointManager
        from rastr_spark.tiles import RasterFrame

        meta = RasterMeta(32.0, "EPSG:2193", Affine(32, 0, 0, 0, -32, 512), 16, 16, tile_size=4)
        rf = RasterFrame.from_numpy(spark, np.tile(np.arange(16.0)[:, None], (1, 16)), meta)
        docs = generate_documents(spark, 100, seed=42, n_tile_rows=4, n_tile_cols=4)
        zones = [("all", Geometry.box(0, 0, 512, 512)), ("top", Geometry.box(0, 256, 512, 512))]
        ckpt = str(tmp_path / "ck")

        out1, stages1 = flagship_checkpointed(
            spark, docs, rf, zones, ckpt_dir=ckpt, input_fingerprint="fp1"
        )
        r1 = {(r["zone_id"], r["doc_id"]): r["sum"] for r in out1.collect()}
        assert not any(s.resumed for s in stages1)
        assert all(s.metrics["rows_out"] >= 0 for s in stages1)

        # simulate a failure after the upstream stages: invalidate only the final
        # join stage → resume recomputes just that stage from checkpointed inputs
        CheckpointManager(ckpt).invalidate("doc_zonal")
        out2, stages2 = flagship_checkpointed(
            spark, docs, rf, zones, ckpt_dir=ckpt, input_fingerprint="fp1"
        )
        assert stages2[0].resumed and stages2[1].resumed and not stages2[2].resumed
        r2 = {(r["zone_id"], r["doc_id"]): r["sum"] for r in out2.collect()}
        assert r1 == r2

        # matches the non-checkpointed pipeline
        direct = doc_zonal_stats(docs, rf, zones, salt_threshold=None)
        r3 = {(r["zone_id"], r["doc_id"]): r["sum"] for r in direct.collect()}
        assert r1 == r3

    def test_salted_stage3_matches_unsalted_and_survives_resume(self, spark, tmp_path, shuffle_join):
        # the resumable plan is the one you'd run at 100 TB — its stage-3 join
        # must share doc_zonal_stats' salt fan-out (VERDICT r1 wrong #3)
        import numpy as np
        from rastr_spark.geometry import Geometry
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.plans.flagship import doc_zonal_stats, flagship_checkpointed
        from rastr_spark.sources.documents import generate_documents
        from rastr_spark.sources.checkpoint import CheckpointManager
        from rastr_spark.tiles import RasterFrame

        meta = RasterMeta(32.0, "EPSG:2193", Affine(32, 0, 0, 0, -32, 512), 16, 16, tile_size=4)
        rf = RasterFrame.from_numpy(spark, np.tile(np.arange(16.0)[:, None], (1, 16)), meta)
        # Zipf-skewed docs: low threshold forces the salt path on the hot tiles
        docs = generate_documents(spark, 300, seed=42, n_tile_rows=4, n_tile_cols=4)
        zones = [("all", Geometry.box(0, 0, 512, 512)), ("top", Geometry.box(0, 256, 512, 512))]

        salted, _ = flagship_checkpointed(
            spark, docs, rf, zones,
            ckpt_dir=str(tmp_path / "salted"), input_fingerprint="fp", salt_threshold=5,
        )
        rs = {(r["zone_id"], r["doc_id"]): (r["cell_count"], r["sum"]) for r in salted.collect()}
        unsalted = doc_zonal_stats(docs, rf, zones, salt_threshold=None)
        ru = {(r["zone_id"], r["doc_id"]): (r["cell_count"], r["sum"]) for r in unsalted.collect()}
        assert rs == ru and len(rs) > 0

        # kill-and-resume mid-join: invalidate stage 3, rerun WITH salting — the
        # rebuilt join reads the committed refs/partials and still matches
        CheckpointManager(str(tmp_path / "salted")).invalidate("doc_zonal")
        resumed, stages = flagship_checkpointed(
            spark, docs, rf, zones,
            ckpt_dir=str(tmp_path / "salted"), input_fingerprint="fp", salt_threshold=5,
        )
        assert stages[0].resumed and stages[1].resumed and not stages[2].resumed
        rr = {(r["zone_id"], r["doc_id"]): (r["cell_count"], r["sum"]) for r in resumed.collect()}
        assert rr == ru


class TestMosaicIO:
    def test_read_raster_mosaic_stem_order(self, spark, tmp_path):
        import numpy as np
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.sources.io import read_raster_mosaic, to_file
        from rastr_spark.tiles import RasterFrame

        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        a = RasterFrame.from_numpy(spark, np.array([[1.0, np.nan], [3.0, 4.0]]), meta, raster_id="a")
        b = RasterFrame.from_numpy(spark, np.array([[10.0, 20.0], [30.0, 40.0]]), meta, raster_id="b")
        to_file(a, tmp_path / "m" / "a_first")
        to_file(b, tmp_path / "m" / "b_second")
        out = read_raster_mosaic(spark, tmp_path / "m")
        arr = out.to_numpy()
        # stem order: a wins where valid, b fills a's NaN hole
        np.testing.assert_array_equal(arr, [[1.0, 20.0], [3.0, 4.0]])

    def test_to_file_grd_dispatch(self, spark, tmp_path):
        import numpy as np
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.sources.io import read_gsag, to_file
        from rastr_spark.tiles import RasterFrame

        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, np.array([[1.0, 2.0], [3.0, 4.0]]), meta)
        to_file(rf, tmp_path / "x.grd")
        back = read_gsag(spark, tmp_path / "x.grd", tile_size=2)
        np.testing.assert_allclose(back.to_numpy(), [[1, 2], [3, 4]], rtol=1e-5)


class TestInferCellSizeDF:
    def test_matches_driver_heuristic(self, spark):
        import numpy as np
        from rastr_spark.meta import infer_cell_size
        from rastr_spark.operators.joins import infer_cell_size_df

        rng = np.random.RandomState(11)
        pts = rng.rand(60, 2) * 100
        expected = infer_cell_size(pts[:, 0], pts[:, 1])
        df = spark.createDataFrame([(float(a), float(b)) for a, b in pts], "x double, y double")
        got = infer_cell_size_df(df)
        assert got == pytest.approx(expected, rel=1e-9)

    def test_duplicates_excluded(self, spark):
        from rastr_spark.operators.joins import infer_cell_size_df

        df = spark.createDataFrame(
            [(0.0, 0.0), (0.0, 0.0), (3.0, 0.0), (6.0, 0.0)], "x double, y double"
        )
        got = infer_cell_size_df(df)
        assert got == pytest.approx(1.5)  # NN distances [3,3,3] → p5 = 3 → /2


class TestStatefulStreaming:
    def test_running_tile_state_across_batches(self, spark, tmp_path):
        from rastr_spark.streaming.updates import read_update_stream, running_tile_state

        src = tmp_path / "upd"
        src.mkdir()
        b1 = [("2024-01-01 00:00:10", 0, 0, 1.0), ("2024-01-01 00:00:20", 0, 1, 3.0)]
        b2 = [("2024-01-01 00:01:10", 0, 0, 7.0), ("2024-01-01 00:01:20", 1, 1, 2.0),
              ("2024-01-01 00:01:30", 2, 2, float("nan"))]
        mk = lambda rows, name: spark.createDataFrame(
            rows, "ts string, row int, col int, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(str(src / name))

        got = []

        def drain():
            # foreachBatch sink supports checkpoint recovery (memory sink does not)
            q = (
                running_tile_state(
                    read_update_stream(spark, str(src / "*")), tile_size=256, policy="last"
                )
                .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        mk(b1, "b1")
        drain()
        assert len(got) == 1 and got[0]["n_cells"] == 2 and got[0]["sum_value"] == 4.0
        got.clear()
        # second incremental drain RESUMES from the state-store checkpoint:
        # (0,0) overwritten 1->7 (policy last), new cell (1,1); NaN update ignored
        mk(b2, "b2")
        drain()
        assert len(got) == 1  # only the touched tile emitted
        assert got[0]["n_cells"] == 3 and got[0]["sum_value"] == 12.0  # 7 + 3 + 2


class TestGeoTiff:
    """Pure-numpy GeoTIFF codec vs the reference's REAL asset goldens
    (reference tests/rastr/test_io.py:35-76) and RasterFrame round-trips."""

    EXPECTED_T = (0.01495024875620743, 0.0, 173.7895771144279,
                  0.0, -0.014950248756214535, -41.82587064676616)

    def _check_asset(self, rf):
        import numpy as np
        assert rf.meta.height == 2 and rf.meta.width == 2
        assert rf.meta.crs == "EPSG:4326"
        t = rf.meta.transform
        assert (t.a, t.b, t.c, t.d, t.e, t.f) == self.EXPECTED_T
        assert rf.meta.cell_size == 0.01495024875620743
        arr = rf.to_numpy()
        np.testing.assert_allclose(
            arr, [[0.39016372, 0.44069204], [0.41911235, 0.4411124]], rtol=1e-6
        )

    def test_reference_tif_asset_golden(self, spark):
        from rastr_spark.sources.io import read_file
        self._check_asset(read_file(spark, "/root/reference/tests/assets/pga_g_clipped.tif"))

    def test_reference_grd_asset_content_sniffed(self, spark):
        # the reference's .grd asset is ALSO a TIFF — GDAL dispatches on magic
        # bytes; read_file must too
        from rastr_spark.sources.io import read_file
        self._check_asset(read_file(spark, "/root/reference/tests/assets/pga_g_clipped.grd"))

    def test_reference_writer_regression_asset(self, spark):
        # the file rasterio itself wrote in the reference's writer regression
        # (tests/rastr/regression_test_data/test_write_raster_to_file.tif):
        # 2×2 [[1,2],[3,4]] float64, EPSG:2193, cell 10 — our codec must read
        # the real-GDAL artifact, not just its own output
        import numpy as np
        from rastr_spark.sources.io import read_file

        rf = read_file(
            spark, "/root/reference/tests/rastr/regression_test_data/test_write_raster_to_file.tif"
        )
        assert rf.meta.crs == "EPSG:2193"
        assert rf.meta.cell_size == 10.0
        t = rf.meta.transform
        assert (t.a, t.b, t.c, t.d, t.e, t.f) == (10.0, 0.0, 0.0, 0.0, -10.0, 0.0)
        np.testing.assert_array_equal(rf.to_numpy(), [[1.0, 2.0], [3.0, 4.0]])

    def test_tif_roundtrip_preserves_dtype_and_nan(self, spark, tmp_path):
        import numpy as np
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.sources.io import read_file, to_file
        from rastr_spark.tiles import RasterFrame

        arr = np.array([[1.5, np.nan], [3.25, 4.0]], dtype=np.float32)
        meta = RasterMeta(
            2.0, "EPSG:2193", Affine(2, 0, 100, 0, -2, 50), 2, 2, tile_size=2, dtype="float32"
        )
        rf = RasterFrame.from_numpy(spark, arr, meta)
        to_file(rf, tmp_path / "rt.tif")
        back = read_file(spark, tmp_path / "rt.tif", tile_size=2)
        assert back.meta.dtype == "float32"
        assert back.meta.crs == "EPSG:2193"
        assert back.meta.transform == meta.transform
        out = back.to_numpy()
        np.testing.assert_array_equal(np.isnan(arr), np.isnan(out))
        np.testing.assert_array_equal(arr[~np.isnan(arr)], out[~np.isnan(out)])

    def test_tif_nodata_sentinel(self, spark, tmp_path):
        import numpy as np
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.sources.io import read_file, to_file
        from rastr_spark.tiles import RasterFrame

        arr = np.array([[1.0, np.nan]])
        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 1), 1, 2, tile_size=2)
        rf = RasterFrame.from_numpy(spark, arr, meta)
        to_file(rf, tmp_path / "nd.tif", nodata=-9999.0)
        raw = (tmp_path / "nd.tif").read_bytes()
        assert b"-9999.0" in raw  # GDAL_NODATA tag carries the sentinel
        back = read_file(spark, tmp_path / "nd.tif")
        out = back.to_numpy()
        assert out[0, 0] == 1.0 and np.isnan(out[0, 1])

    def test_mosaic_of_tif_files(self, spark, tmp_path):
        import numpy as np
        from rastr_spark.meta import Affine, RasterMeta
        from rastr_spark.sources.io import read_raster_mosaic, to_file
        from rastr_spark.tiles import RasterFrame

        meta = RasterMeta(1.0, "EPSG:2193", Affine(1, 0, 0, 0, -1, 2), 2, 2, tile_size=2)
        a = RasterFrame.from_numpy(spark, np.array([[1.0, np.nan], [3.0, 4.0]]), meta, raster_id="a")
        b = RasterFrame.from_numpy(spark, np.array([[10.0, 20.0], [30.0, 40.0]]), meta, raster_id="b")
        to_file(a, tmp_path / "a_first.tif")
        to_file(b, tmp_path / "b_second.tif")
        out = read_raster_mosaic(spark, tmp_path, glob="*.tif")
        np.testing.assert_array_equal(out.to_numpy(), [[1.0, 20.0], [3.0, 4.0]])

    def test_unsupported_compression_raises(self, tmp_path):
        import struct
        import pytest
        from rastr_spark.sources.geotiff import GeoTiffFormatError, read_geotiff

        # minimal TIFF with Compression=7 (JPEG): must refuse loudly
        # (LZW and Deflate are now SUPPORTED — see TestGeoTiffDeflate/TestGeoTiffLzw)
        bo = "<"
        entries = []
        for tag, typ, val in [(256, 3, 1), (257, 3, 1), (258, 3, 32), (259, 3, 7)]:
            entries.append(struct.pack(bo + "HHI", tag, typ, 1) + struct.pack(bo + "I", val))
        buf = struct.pack(bo + "2sHI", b"II", 42, 8)
        buf += struct.pack(bo + "H", len(entries)) + b"".join(entries) + struct.pack(bo + "I", 0)
        p = tmp_path / "lzw.tif"
        p.write_bytes(buf)
        with pytest.raises(GeoTiffFormatError, match="compression"):
            read_geotiff(p)


class TestGeoTiffDeflate:
    """Deflate (zlib) read/write + predictors — VERDICT r2 item 6 + the ADVICE
    ROWS_PER_STRIP fix. Real-world GDAL .tif assets are overwhelmingly
    Deflate/LZW; Deflate is stdlib-implementable."""

    def test_deflate_twin_of_reference_golden(self, tmp_path):
        # the round-trip the VERDICT asked for: a deflate-compressed twin of the
        # reference asset's array must read back the exact golden transform+values
        import numpy as np
        from rastr_spark.sources.geotiff import read_geotiff, write_geotiff

        arr, t, epsg, _ = read_geotiff("/root/reference/tests/assets/pga_g_clipped.tif")
        write_geotiff(tmp_path / "d.tif", arr, t, f"EPSG:{epsg}", compression="deflate")
        arr2, t2, epsg2, _ = read_geotiff(tmp_path / "d.tif")
        np.testing.assert_array_equal(arr, arr2)
        assert t2 == t and epsg2 == epsg

    def test_deflate_predictor3_roundtrip_and_smaller(self, tmp_path):
        import numpy as np
        from rastr_spark.sources.geotiff import read_geotiff, write_geotiff
        from rastr_spark.meta import Affine

        # smooth float raster: fp predictor should make deflate much tighter
        g = np.linspace(0.0, 50.0, 64 * 48, dtype=np.float32).reshape(48, 64)
        g[5, 7] = np.nan
        t = Affine(2.0, 0, 100.0, 0, -2.0, 900.0)
        write_geotiff(tmp_path / "p3.tif", g, t, "EPSG:2193",
                      compression="deflate", predictor=3)
        write_geotiff(tmp_path / "p1.tif", g, t, "EPSG:2193", compression="deflate")
        back, t2, epsg, _ = read_geotiff(tmp_path / "p3.tif")
        np.testing.assert_array_equal(np.isnan(g), np.isnan(back))
        np.testing.assert_array_equal(g[~np.isnan(g)], back[~np.isnan(back)])
        assert t2 == t and epsg == 2193
        assert (tmp_path / "p3.tif").stat().st_size < (tmp_path / "p1.tif").stat().st_size

    def test_deflate_predictor2_integer_tif(self, tmp_path):
        # hand-crafted uint16 TIFF with Compression=8 + Predictor=2 (horizontal
        # differencing) — the libtiff integer-predictor layout; reader must undo
        # the diff via cumsum per row and cast ints to float16 (reference io_.py:64-67)
        import struct
        import zlib
        import numpy as np
        from rastr_spark.sources.geotiff import read_geotiff

        arr = np.array([[7, 5, 9, 260], [1000, 999, 1001, 3]], dtype=np.uint16)
        diff = arr.astype(np.int64).copy()
        diff[:, 1:] -= arr[:, :-1].astype(np.int64)
        comp = zlib.compress(diff.astype("<u2").tobytes())
        bo = "<"
        # IFD with inline values only; out-of-line doubles appended after
        h, w = arr.shape
        tags = [
            (256, 3, [w]), (257, 3, [h]), (258, 3, [16]), (259, 3, [8]),
            (262, 3, [1]), (273, 4, None), (277, 3, [1]), (278, 4, [h]),
            (279, 4, [len(comp)]), (284, 3, [1]), (317, 3, [2]), (339, 3, [1]),
            (33550, 12, [1.0, 1.0, 0.0]),
            (33922, 12, [0.0, 0.0, 0.0, 10.0, 20.0, 0.0]),
        ]
        n = len(tags)
        entries_end = 8 + 2 + 12 * n + 4
        extra = bytearray()
        ents = b""
        # first pass: compute extra size with strip offset 0
        from rastr_spark.sources.geotiff import _entry
        for tag, typ, vals in tags:
            _entry(bo, tag, typ, [0] if vals is None else vals, extra, entries_end)
        data_off = entries_end + len(extra)
        extra = bytearray()
        for tag, typ, vals in tags:
            ents += _entry(bo, tag, typ, [data_off] if vals is None else vals, extra, entries_end)
        buf = struct.pack(bo + "2sHI", b"II", 42, 8)
        buf += struct.pack(bo + "H", n) + ents + struct.pack(bo + "I", 0) + bytes(extra)
        buf += b"\x00" * (data_off - len(buf)) + comp
        (tmp_path / "p2.tif").write_bytes(buf)
        back, t, epsg, _ = read_geotiff(tmp_path / "p2.tif")
        assert back.dtype == np.float16  # int input → float16 cast
        np.testing.assert_array_equal(back.astype(np.int64), arr.astype(np.int64))
        assert (t.a, t.e, t.c, t.f) == (1.0, -1.0, 10.0, 20.0)

    def test_tall_raster_rows_per_strip_long(self, tmp_path):
        # ADVICE: ROWS_PER_STRIP was a SHORT capped at 65535 — rasters taller
        # than that silently corrupted on read-back. Now a LONG with value h.
        import numpy as np
        from rastr_spark.sources.geotiff import read_geotiff, write_geotiff
        from rastr_spark.meta import Affine

        h = 70_000
        col = np.arange(h, dtype=np.float32).reshape(h, 1)
        t = Affine(1.0, 0, 0.0, 0, -1.0, float(h))
        write_geotiff(tmp_path / "tall.tif", col, t, "EPSG:2193", compression="deflate")
        back, _, _, _ = read_geotiff(tmp_path / "tall.tif")
        assert back.shape == (h, 1)
        np.testing.assert_array_equal(back[:, 0], np.arange(h, dtype=np.float32))

    def test_uncompressed_predictor_rejected(self, tmp_path):
        import pytest
        from rastr_spark.sources.geotiff import GeoTiffFormatError, write_geotiff
        import numpy as np
        from rastr_spark.meta import Affine

        with pytest.raises(GeoTiffFormatError, match="predictor"):
            write_geotiff(tmp_path / "x.tif", np.zeros((2, 2)), Affine(1, 0, 0, 0, -1, 2),
                          "EPSG:2193", predictor=3)

    @staticmethod
    def _craft_tif(path, payload, *, bits, sample_format, predictor, h, w):
        """Minimal deflate-compressed single-strip TIFF with arbitrary
        predictor/sample-format tags (for invalid-combination tests)."""
        import struct
        from rastr_spark.sources.geotiff import _entry

        bo = "<"
        tags = [
            (256, 3, [w]), (257, 3, [h]), (258, 3, [bits]), (259, 3, [8]),
            (262, 3, [1]), (273, 4, None), (277, 3, [1]), (278, 4, [h]),
            (279, 4, [len(payload)]), (284, 3, [1]), (317, 3, [predictor]),
            (339, 3, [sample_format]),
            (33550, 12, [1.0, 1.0, 0.0]),
            (33922, 12, [0.0, 0.0, 0.0, 0.0, float(h), 0.0]),
        ]
        n = len(tags)
        entries_end = 8 + 2 + 12 * n + 4
        extra = bytearray()
        for tag, typ, vals in tags:
            _entry(bo, tag, typ, [0] if vals is None else vals, extra, entries_end)
        data_off = entries_end + len(extra)
        extra = bytearray()
        ents = b""
        for tag, typ, vals in tags:
            ents += _entry(bo, tag, typ, [data_off] if vals is None else vals, extra, entries_end)
        buf = struct.pack(bo + "2sHI", b"II", 42, 8)
        buf += struct.pack(bo + "H", n) + ents + struct.pack(bo + "I", 0) + bytes(extra)
        buf += b"\x00" * (data_off - len(buf)) + payload
        path.write_bytes(buf)

    def test_predictor2_float_rejected(self, tmp_path):
        # TIFF restricts predictor 2 to integer data; a float file claiming it
        # must raise, not silently truncate floats to garbage (ADVICE r3)
        import zlib
        import numpy as np
        import pytest
        from rastr_spark.sources.geotiff import GeoTiffFormatError, read_geotiff

        arr = np.array([[1.5, 2.5]], dtype=np.float32)
        payload = zlib.compress(arr.astype("<f4").tobytes())
        self._craft_tif(tmp_path / "bad.tif", payload, bits=32, sample_format=3,
                        predictor=2, h=1, w=2)
        with pytest.raises(GeoTiffFormatError, match="predictor 2"):
            read_geotiff(tmp_path / "bad.tif")

    def test_predictor3_integer_rejected(self, tmp_path):
        import zlib
        import numpy as np
        import pytest
        from rastr_spark.sources.geotiff import GeoTiffFormatError, read_geotiff

        arr = np.array([[1, 2]], dtype=np.uint16)
        payload = zlib.compress(arr.astype("<u2").tobytes())
        self._craft_tif(tmp_path / "bad3.tif", payload, bits=16, sample_format=1,
                        predictor=3, h=1, w=2)
        with pytest.raises(GeoTiffFormatError, match="predictor 3"):
            read_geotiff(tmp_path / "bad3.tif")


class TestGeoTiffLzw:
    """Pure-Python TIFF-LZW (TIFF 6.0 §13: MSB-first, early change) — the other
    dominant real-world GDAL compression next to deflate."""

    def test_lzw_roundtrip_reference_golden(self, tmp_path):
        import numpy as np
        from rastr_spark.sources.geotiff import read_geotiff, write_geotiff

        arr, t, epsg, _ = read_geotiff("/root/reference/tests/assets/pga_g_clipped.tif")
        write_geotiff(tmp_path / "l.tif", arr, t, f"EPSG:{epsg}", compression="lzw")
        arr2, t2, epsg2, _ = read_geotiff(tmp_path / "l.tif")
        np.testing.assert_array_equal(arr, arr2)
        assert t2 == t and epsg2 == epsg

    def test_lzw_predictor3_roundtrip_crossing_code_widths(self, tmp_path):
        # big enough that the LZW table crosses the 511/1023/2047 width bumps
        import numpy as np
        from rastr_spark.sources.geotiff import read_geotiff, write_geotiff
        from rastr_spark.meta import Affine

        g = (np.arange(128 * 100, dtype=np.float32) % 257).reshape(100, 128) / 3.0
        g[3, 4] = np.nan
        t = Affine(1.0, 0, 0.0, 0, -1.0, 100.0)
        write_geotiff(tmp_path / "lp.tif", g, t, "EPSG:2193", compression="lzw", predictor=3)
        back, t2, _, _ = read_geotiff(tmp_path / "lp.tif")
        np.testing.assert_array_equal(np.isnan(g), np.isnan(back))
        np.testing.assert_array_equal(g[~np.isnan(g)], back[~np.isnan(back)])
        assert t2 == t


class TestStreamingNearDup:
    def test_stream_docs_flagged_against_static_index(self, spark, tmp_path):
        from rastr_spark.functions.dedup import minhash_lsh_buckets
        from rastr_spark.streaming.updates import streaming_near_dup_hits

        # static reference corpus → bucket index
        ref_docs = spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta"),
             (1, "totally unrelated reference content here")],
            "doc_id long, text string",
        )
        ref_buckets = minhash_lsh_buckets(ref_docs, n=3, num_hashes=8, bands=4)

        # stream: one near-dup of ref 0, one novel doc
        src = tmp_path / "doc_stream"
        src.mkdir()
        spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "novel words never seen before anywhere else")],
            "doc_id long, text string",
        ).write.parquet(str(src / "b1"))
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src / "*"))
        hits = streaming_near_dup_hits(stream, ref_buckets, n=3, num_hashes=8, bands=4)
        q = (
            hits.writeStream.format("memory").queryName("near_dup_hits")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        got = {
            (r["stream_id"], r["ref_id"])
            for r in spark.sql("select * from near_dup_hits").collect()
        }
        assert (100, 0) in got           # exact copy collides on every band
        assert all(s != 101 for s, _ in got)  # novel doc matches nothing

    def test_stream_against_persisted_index_shares_contract(self, spark, tmp_path):
        # the streaming path consumes the SAME persisted index
        # build_dedup_index writes for the batch incremental path: reference
        # buckets recomputed from stored signatures, canonical_id carried
        # through, params manifest enforced (VERDICT r5 item 7)
        import pytest

        from rastr_spark.functions.dedup import build_dedup_index
        from rastr_spark.streaming.updates import streaming_near_dup_hits_vs_index

        ref_docs = spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta"),
             (7, "alpha beta gamma delta epsilon zeta"),   # exact dup → cluster canonical 0
             (1, "totally unrelated reference content here")],
            "doc_id long, text string",
        )
        ix = str(tmp_path / "ix")
        build_dedup_index(ref_docs, index_dir=ix, n=3, num_hashes=8, bands=4)

        src = tmp_path / "doc_stream2"
        src.mkdir()
        spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "novel words never seen before anywhere else")],
            "doc_id long, text string",
        ).write.parquet(str(src / "b1"))
        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src / "*"))

        # banding params that disagree with the index manifest fail loudly
        # BEFORE any stream starts
        with pytest.raises(ValueError, match="was built with"):
            streaming_near_dup_hits_vs_index(stream, ix, n=3, num_hashes=16, bands=4)

        hits = streaming_near_dup_hits_vs_index(stream, ix, n=3, num_hashes=8, bands=4)
        q = (
            hits.writeStream.format("memory").queryName("near_dup_ix_hits")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        got = {
            (r["stream_id"], r["ref_id"], r["canonical_id"])
            for r in spark.sql("select * from near_dup_ix_hits").collect()
        }
        # the index stores signatures for the cluster REP (min id 0), tagged
        # with its canonical; the exact-copy stream doc collides with it
        assert (100, 0, 0) in got
        assert all(s != 101 for s, _, _ in got)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:

    class TestLzwProperties:
        @given(data=st.binary(min_size=0, max_size=30_000))
        @settings(max_examples=60, deadline=None)
        def test_roundtrip_identity(self, data):
            from rastr_spark.sources.geotiff import _lzw_decode, _lzw_encode

            assert _lzw_decode(_lzw_encode(data)) == data

        @given(
            word=st.binary(min_size=1, max_size=6),
            reps=st.integers(1, 20_000),
        )
        @settings(max_examples=30, deadline=None)
        def test_repetitive_streams_cross_width_bumps(self, word, reps):
            # repetitive inputs grow the code table fastest — exercises the
            # 511/1023/2047 early-change boundaries and the table-full clear
            from rastr_spark.sources.geotiff import _lzw_decode, _lzw_encode

            data = (word * reps)[:40_000]
            assert _lzw_decode(_lzw_encode(data)) == data

        def test_eoi_at_early_change_boundary(self):
            # deterministic pin of the r7 hypothesis find: a stream whose
            # FINAL data code lands exactly on the 510/1022/2046 boundary
            # must widen before writing EOI (the decoder adds a table entry
            # for the final code and widens before reading the next symbol)
            from rastr_spark.sources.geotiff import _lzw_decode, _lzw_encode

            data = b"\x00\x01" * 8002
            assert _lzw_decode(_lzw_encode(data)) == data
            for reps in range(7995, 8010):
                d = b"\x00\x01" * reps
                assert _lzw_decode(_lzw_encode(d)) == d, reps


class TestMultimodalAudioResize:
    def test_audio_stub_raises_and_fake_deterministic(self):
        import numpy as np
        import pytest
        from rastr_spark.functions.multimodal import decode_audio

        with pytest.raises(NotImplementedError):
            decode_audio(b"x", 100)
        a = decode_audio(b"payload", 512, fake=True)
        b = decode_audio(b"payload", 512, fake=True)
        np.testing.assert_array_equal(a, b)
        assert a.shape == (512,) and a.dtype == np.float32
        assert (a >= -1).all() and (a < 1).all()

    def test_audio_features_shape(self, spark):
        from rastr_spark.functions.multimodal import audio_features, synthesize_media

        media = synthesize_media(spark, 30)
        feats = audio_features(media, n_windows=8).collect()
        assert len(feats) == 10  # one third are audio
        for r in feats:
            assert len(r["feature"]) == 8
            assert all(0.0 <= v <= 1.0 for v in r["feature"])

    def test_image_resize_payload_and_meta(self, spark):
        import numpy as np
        from rastr_spark.functions.multimodal import (
            decode_image,
            image_resize,
            synthesize_media,
        )

        media = synthesize_media(spark, 9)
        out = {r["media_id"]: r for r in image_resize(media, width=4, height=8).collect()}
        assert len(out) == 3  # images only
        r = out["m-0"]
        assert r["meta"]["width"] == 4 and r["meta"]["height"] == 8 and r["meta"]["channels"] == 3
        buf = np.frombuffer(r["payload"], dtype=np.uint8).reshape(8, 4, 3)
        # nearest-neighbour: resized pixels must come from the source image
        src_payload = {x["media_id"]: x["payload"] for x in media.collect()}["m-0"]
        src = decode_image(src_payload, 16, 16, 3, fake=True)
        rows = (np.arange(8) * 16 // 8).clip(0, 15)
        cols = (np.arange(4) * 16 // 4).clip(0, 15)
        np.testing.assert_array_equal(buf, src[rows][:, cols])
