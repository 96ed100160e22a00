"""Importing rastr_spark makes zip importers re-read an archive's directory only
when the archive changed (rastr_spark/zipcache.py) — a reused Python worker
calls importlib.invalidate_caches() before every task. A worker installs the
cache only if it imports the package, so every kernel an operator hands to
Spark's map and grouped-map builders and to ``pandas_udf`` must import it when
unpickled."""

import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F
from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
from pyspark.sql.pandas.map_ops import PandasMapOpsMixin

from rastr_spark.functions import dedup
from rastr_spark.geometry import Geometry
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.operators import elementwise, interpolate, joins, rasterize, stencils
from rastr_spark.operators.resample import resample
from rastr_spark.operators.vectorize import contour_segments
from rastr_spark.plans.flagship import tile_zone_partials
from rastr_spark.streaming import updates
from rastr_spark.tiles import RasterFrame

ROOT = Path(__file__).resolve().parents[1]

SCRIPT = r"""
import importlib, json, os, sys, tempfile, zipfile, zipimport

z = os.path.join(tempfile.mkdtemp(), "mods.zip")

def write(extra):
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("zmod_a.py", "NAME = 'a'\n")
        f.writestr("zpkg/__init__.py", "")
        f.writestr("zpkg/sub.py", "NAME = 'sub'\n")
        for name in extra:
            f.writestr(name + ".py", "NAME = %r\n" % name)

write([])
sys.path.insert(0, z)
import zmod_a, zpkg.sub  # two importers of one archive: the root and zpkg/

import rastr_spark

reads = []
orig = zipimport._read_directory

def counting(path):
    reads.append(path)
    return orig(path)

zipimport._read_directory = counting
per_call = []
for _ in range(3):
    n = len(reads)
    importlib.invalidate_caches()
    per_call.append(sum(1 for p in reads[n:] if p == z))

write(["zmod_b", "zpkg/fresh"])
importlib.invalidate_caches()
import zmod_b, zpkg.fresh
print(json.dumps({
    "per_call": per_call,
    "after_rewrite": [zmod_b.NAME, zpkg.fresh.NAME],
}))
"""


def test_unchanged_archive_is_not_reread():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=ROOT, capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    # the first invalidation after the import records the archive's stamp
    # (one read for both importers); later ones read nothing
    assert out["per_call"][0] <= 1 and out["per_call"][1:] == [0, 0], out
    # a rewritten archive is re-read: new modules import through both the
    # root importer and the package-directory importer
    assert out["after_rewrite"] == ["zmod_b", "zpkg/fresh"], out


def test_install_is_idempotent():
    import zipimport

    from rastr_spark import zipcache

    guarded = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert guarded._stat_guarded and zipimport.zipimporter.invalidate_caches is guarded


# --- each swept operator's kernels install the cache when unpickled --------

KERNEL_BUILDERS = {
    PandasMapOpsMixin: ("mapInPandas", "mapInArrow"),
    PandasGroupedOpsMixin: ("applyInPandas", "applyInArrow", "applyInPandasWithState"),
}

UNPICKLE = r"""
import json, pickle, sys, zipimport
import pyspark.core.broadcast as bc

class Registered(dict):  # a worker registers the task's broadcasts before unpickling
    def __contains__(self, bid):
        return True

    def __missing__(self, bid):
        return None

bc._broadcastRegistry = Registered()
pickle.load(sys.stdin.buffer)
print(json.dumps({
    "imported": "rastr_spark" in sys.modules,
    "guarded": getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False),
}))
"""


META = RasterMeta(1.0, "EPSG:2193", Affine(1.0, 0, 0, 0, -1.0, 4), 4, 4, tile_size=2)
BOX = Geometry.box(0, 0, 2, 2)


def _on_grid(op, nan_rows=False, dtype="float64"):
    def build(spark, tmp_path):
        arr = np.arange(16.0).reshape(4, 4).astype(dtype)
        if nan_rows:
            arr[1:, :] = np.nan
        return op(RasterFrame.from_numpy(spark, arr, META.with_(dtype=dtype)))

    return build


def _on_docs(op):
    def build(spark, tmp_path):
        base = "the quick brown fox jumps over the lazy dog"
        return op(spark.createDataFrame(
            [(0, base), (1, base + " again"), (2, "an unrelated short text here")],
            "doc_id long, text string",
        ))

    return build


def _stream_hits(spark, tmp_path):
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(tmp_path))
    ref = spark.createDataFrame([(0, 0, 1)], "id long, band int, bucket long")
    return updates.streaming_near_dup_hits(stream, ref, num_hashes=4, bands=2)


def _tile_state(spark, tmp_path):
    return updates.running_tile_state(updates.read_update_stream(spark, str(tmp_path)), tile_size=2)


SWEEP = {
    "minhash_signatures_df": _on_docs(lambda d: dedup.minhash_signatures_df(d, n=2, num_hashes=4)),
    "duplicated_window_stats": _on_docs(lambda d: dedup.duplicated_window_stats(d, window=2)),
    "streaming_near_dup_hits": _stream_hits,
    "running_tile_state": _tile_state,
    "blur": _on_grid(lambda rf: stencils.blur(rf, 0.5)),
    "sobel": _on_grid(stencils.sobel),
    "dilate": _on_grid(lambda rf: stencils.dilate(rf, 1.0)),
    "extrapolate": _on_grid(stencils.extrapolate, nan_rows=True),
    "resample": _on_grid(lambda rf: resample(rf, 2.0)),
    "contour_segments": _on_grid(lambda rf: contour_segments(rf, [5.5])),
    "tile_zone_partials": _on_grid(lambda rf: tile_zone_partials(rf, [("z", BOX)])),
    "map_kernel": _on_grid(lambda rf: rf + 0.5, dtype="float32"),
    "binary": _on_grid(lambda rf: rf + rf, dtype="float32"),
    "taper_border": _on_grid(lambda rf: elementwise.taper_border(rf, 1.0)),
    "clip": _on_grid(lambda rf: joins.clip(rf, BOX)),
    "replace_polygon": _on_grid(lambda rf: joins.replace_polygon(rf, BOX, 1.0)),
    "rasterize_geometries": lambda spark, tmp_path: rasterize.rasterize_geometries(
        spark, [BOX], [1.0], META
    ),
    "rasterize_z_gdf": lambda spark, tmp_path: rasterize.rasterize_z_gdf(
        spark, [Geometry.box(0, 0, 3, 3)], [np.arange(5.0)], cell_size=1.0, crs="EPSG:2193",
        tile_size=2,
    ),
    "raster_from_point_cloud": lambda spark, tmp_path: interpolate.raster_from_point_cloud(
        spark, [0.0, 3.0, 0.0, 3.0], [0.0, 0.0, 3.0, 3.0], [1.0, 2.0, 3.0, 4.0],
        crs="EPSG:2193", cell_size=1.0, tile_size=2,
    ),
    "raster_distance_from_polygon": lambda spark, tmp_path: interpolate.raster_distance_from_polygon(
        spark, BOX, raster_meta=META, extent_polygon=Geometry.box(0, 0, 4, 4)
    ),
}


@pytest.mark.parametrize("op", sorted(SWEEP))
def test_kernel_unpickle_installs_cache(spark, tmp_path, monkeypatch, op):
    """A worker installs the cache only by importing rastr_spark, and it does
    so only when a kernel references a module-level engine function (cloudpickle
    ships those by reference). Captures every callable the operator hands to
    Spark's Python-kernel builders or to ``F.pandas_udf`` (called with the
    function or as a decorator) and unpickles each in a fresh interpreter."""
    kernels = []
    for cls, names in KERNEL_BUILDERS.items():
        for name in names:
            def capture(self, func, *args, _orig=getattr(cls, name), **kwargs):
                kernels.append(func)
                return _orig(self, func, *args, **kwargs)

            monkeypatch.setattr(cls, name, capture)

    def capture_udf(f=None, *args, _orig=F.pandas_udf, **kwargs):
        if callable(f):
            kernels.append(f)
            return _orig(f, *args, **kwargs)
        decorate = _orig(f, *args, **kwargs)

        def wrap(fn):
            kernels.append(fn)
            return decorate(fn)

        return wrap

    monkeypatch.setattr(F, "pandas_udf", capture_udf)
    SWEEP[op](spark, tmp_path)
    assert kernels, f"{op} built no Python kernel"
    procs = [
        (k.__qualname__, subprocess.Popen(
            [sys.executable, "-c", UNPICKLE], cwd=ROOT, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            env={**os.environ, "PYTHONPATH": str(ROOT)},
        ))
        for k in kernels
    ]
    for (qualname, proc), k in zip(procs, kernels):
        out, err = proc.communicate(cloudpickle.dumps(k), timeout=120)
        assert proc.returncode == 0, err.decode()
        got = json.loads(out.decode().strip().splitlines()[-1])
        assert got == {"imported": True, "guarded": True}, f"{op}: {qualname} {got}"
