"""Shared Spark session + golden fixtures mirrored from the reference test suite
(reference: tests/rastr/test_raster.py:28-90, tests/conftest.py:29-62; FIXTURES.md §3)."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession

from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.tiles import RasterFrame


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("rastr-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def shuffle_join(spark, monkeypatch):
    """Forces the flagship join into its shuffle regime, the only one that
    salts: every partials bound is above BROADCAST_PARTIALS_MAX_ROWS, and
    Catalyst broadcasts neither tiny test side on its own."""
    from rastr_spark.plans import flagship

    monkeypatch.setattr(flagship, "BROADCAST_PARTIALS_MAX_ROWS", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# --- reference golden fixtures (FIXTURES.md §3) ---------------------------------

@pytest.fixture
def example_raster(spark):
    """[[1,2],[3,4]] cell 2.0 Affine(2,0,0,0,2,0) EPSG:2193 (test_raster.py:28-38)."""
    meta = RasterMeta(2.0, "EPSG:2193", Affine(2, 0, 0, 0, 2, 0), 2, 2, tile_size=2)
    return RasterFrame.from_numpy(spark, np.array([[1.0, 2.0], [3.0, 4.0]]), meta)


@pytest.fixture
def stats_raster(spark):
    """3×3 values 1..9 (test_raster.py:68-77)."""
    meta = RasterMeta(1.0, "EPSG:2193", Affine(2, 0, 0, 0, 2, 0), 3, 3, tile_size=2)
    return RasterFrame.from_numpy(spark, np.arange(1.0, 10.0).reshape(3, 3), meta)


@pytest.fixture
def stats_raster_nans(spark):
    """3×3 with NaN at (0,2) and (1,1) (test_raster.py:80-90)."""
    arr = np.arange(1.0, 10.0).reshape(3, 3)
    arr[0, 2] = np.nan
    arr[1, 1] = np.nan
    meta = RasterMeta(1.0, "EPSG:2193", Affine(2, 0, 0, 0, 2, 0), 3, 3, tile_size=2)
    return RasterFrame.from_numpy(spark, arr, meta)


@pytest.fixture
def base_raster(spark):
    """4×4 values 1..16, cell 10.0, Affine(10,0,0,0,-10,100) (test_raster.py:2508-2516)."""
    meta = RasterMeta(10.0, "EPSG:2193", Affine(10, 0, 0, 0, -10, 100), 4, 4, tile_size=2)
    return RasterFrame.from_numpy(spark, np.arange(1.0, 17.0).reshape(4, 4), meta)


@pytest.fixture
def small_raster(spark):
    """[[1,2],[3,4]], cell 5.0, Affine(5,0,0,0,-5,10) (test_raster.py:2519-2527)."""
    meta = RasterMeta(5.0, "EPSG:2193", Affine(5, 0, 0, 0, -5, 10), 2, 2, tile_size=2)
    return RasterFrame.from_numpy(spark, np.array([[1.0, 2.0], [3.0, 4.0]]), meta)
