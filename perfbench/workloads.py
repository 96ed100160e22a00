"""The benchmark's workloads: inputs, one measured pass, output checks, and the
layer spans of a traced pass.

Sizes are chosen so that set-up, a warm-up pass and the measured passes of one
run fit in well under a minute on a 4-core box, while each pass still runs the
layers the workload is meant to stress.
"""

from __future__ import annotations

import functools
import json
import math
import shutil
import statistics
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import inputs
from .tracing import Instrument, Tracer, task_skew

PINNED = Path(__file__).resolve().parent / "pinned.json"
REL = 1e-9


@functools.lru_cache(maxsize=1)
def _pinned_file() -> dict:
    return json.loads(PINNED.read_text()) if PINNED.exists() else {}


def pinned(workload: str, seed: int) -> dict | None:
    """The invariants pinned for (workload, seed), if any."""
    return _pinned_file().get(workload, {}).get(str(seed))


def close(a: float, b: float, rel: float = REL) -> bool:
    return a == b or abs(a - b) <= rel * max(abs(a), abs(b))


def compare(got: dict, want: dict, what: str) -> list[str]:
    """Exact for ints and strings, ``REL`` relative for floats, recursively."""
    errs = []
    for k, w in want.items():
        g = got.get(k)
        if isinstance(w, dict):
            errs += compare(g or {}, w, f"{what}.{k}")
        elif isinstance(w, float) or isinstance(g, float):
            if g is None or not close(float(g), float(w)):
                errs.append(f"{what}.{k}: got {g}, want {w}")
        elif g != w:
            errs.append(f"{what}.{k}: got {g}, want {w}")
    return errs


def storage_mb(spark) -> float:
    """Memory plus disk held by persisted RDDs and checkpoints, in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def build_raster(spark, a: np.ndarray, raster_id: str):
    """The tile table, cached and counted."""
    from rastr_spark.tiles import TILE_SCHEMA, RasterFrame

    df = spark.createDataFrame(inputs.tiles_arrow(a, raster_id), TILE_SCHEMA).cache()
    df.count()
    return RasterFrame(df, inputs.raster_meta(a.shape[0]), raster_id)


class Workload:
    name = ""
    unit = ""
    LAYERS: tuple[str, ...] = ()  # metric-name prefixes of the layers this workload exercises
    FOLD: frozenset[str] = frozenset()  # spans timed as part of their parent
    # input sizes that differ from the class defaults, per named size: "probe"
    # is the size of the scratch probes the workloads were specified with
    SIZES: dict[str, dict] = {}
    size = "bench"
    PASSES = 1  # measured passes, at least

    def __init__(self, spark, seed: int, workdir: Path | None = None, size: str = "bench"):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.size = size
        for k, v in self.SIZES.get(size, {}).items():
            setattr(self, k, v)
        self.cached: list = []
        self.tiles_mb = 0.0
        self.job_aliases: dict[str, int] = {}  # job description text → span id

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def _raster(self, a: np.ndarray, raster_id: str, tracer: Tracer | None):
        before = storage_mb(self.spark)
        if tracer is None:
            rf = build_raster(self.spark, a, raster_id)
        else:
            with tracer.span("tiles.build"):
                rf = build_raster(self.spark, a, raster_id)
        self.tiles_mb += storage_mb(self.spark) - before
        self.cached.append(rf.df)
        return rf

    def build(self, tracer: Tracer | None = None) -> None:
        """One set-up round: generate the inputs and fill the caches."""
        raise NotImplementedError

    def expect(self) -> None:
        """Compute expected outputs (not timed)."""

    def run(self) -> dict:
        """One pass; returns the output invariants."""
        raise NotImplementedError

    def check(self, inv: dict) -> list[str]:
        want = pinned(self.name, self.seed) if self.size == "bench" else None
        return compare(inv, want, f"{self.name}[pinned]") if want else []

    def units(self) -> int:
        raise NotImplementedError

    def instrument(self, inst: Instrument) -> None:
        raise NotImplementedError

    def extra_spans(self, tracer: Tracer) -> None:
        """Driver-side layer spans outside the workload pass."""

    def layers(self, spans, self_s: dict, counters: dict) -> dict:
        raise NotImplementedError


def _rows(spans, name: str) -> int:
    return sum(s.counts.get("rows", 0) for s in spans if s.name == name)


# -- zonal ----------------------------------------------------------------------


class Zonal(Workload):
    """doc_zonal_stats over Zipf docs with a hot tile, a NaN-holed raster and
    the ~93-zone set."""

    name, unit = "zonal", "docs"
    LAYERS = ("documents", "geometry", "flagship")
    GRID = 1024
    DOCS = 25_000
    SALT = 5_000  # the hot tile draws ~20k refs at 25k docs: salted ~4 ways
    SAMPLE = 200
    # a pass takes ~3 s and still speeds up by ~10 % from one pass to the
    # next after the warm-up: a fixed count of two keeps the median in place
    PASSES = 2
    SIZES = {"probe": {"GRID": 4096, "DOCS": 1_000_000, "SALT": 20_000}}

    def build(self, tracer=None):
        self.release()
        self.tiles_mb = 0.0
        nt = self.GRID // inputs.TILE
        self.a = inputs.raster_array(self.seed, self.GRID)
        self.rf = self._raster(self.a, "bench", tracer)
        self.spans = inputs.doc_spans(self.seed, self.DOCS, nt)
        docs = self.spark.createDataFrame(inputs.docs_arrow(self.spans, nt, "bench")).cache()
        docs.count()
        self.cached.append(docs)
        self.docs = docs
        self.zones = inputs.engine_zones(self.GRID * inputs.CELL)

    def expect(self):
        self.table = inputs.tile_zone_table(self.a)
        rows, total = inputs.zonal_expected(self.spans, self.table[1])
        self.want = {"rows": rows, "cell_count": total}
        rng = np.random.default_rng([self.seed, 4])
        self.sample = np.sort(rng.choice(self.DOCS, self.SAMPLE, replace=False))
        self.want_sample = (
            inputs.zonal_sample_expected(self.spans, self.table, self.sample)
            .set_index(["zone_id", "doc_id"]).sort_index()
        )

    def query(self):
        from rastr_spark.plans import flagship

        return flagship.doc_zonal_stats(self.docs, self.rf, self.zones, salt_threshold=self.SALT)

    def run(self):
        """Totals over all rows plus the sampled docs' rows, in one job."""
        from pyspark.sql import functions as F

        ids = [f"doc-{d}" for d in self.sample]
        cols = ("zone_id", "doc_id", "cell_count", "sum", "min", "max")
        r = self.query().agg(
            F.count("*").alias("n"),
            F.sum("cell_count").alias("c"),
            F.collect_list(F.when(F.col("doc_id").isin(ids), F.struct(*cols))).alias("sample"),
        ).collect()[0]
        sample = pd.DataFrame([tuple(x) for x in r["sample"]], columns=list(cols))
        return {"rows": int(r["n"]), "cell_count": int(r["c"]), "sample": sample}

    def check(self, inv):
        totals = {k: inv[k] for k in ("rows", "cell_count")}
        return compare(totals, self.want, "zonal") + self.check_sample(inv["sample"]) + super().check(totals)

    def check_sample(self, got) -> list[str]:
        """The sampled docs' stats against the independent numpy recompute."""
        g = got.set_index(["zone_id", "doc_id"]).sort_index()
        w = self.want_sample
        if not g.index.equals(w.index):
            return [f"zonal[sample]: {len(g)} (zone, doc) rows, want {len(w)}"]
        errs = []
        if not (g["cell_count"].to_numpy() == w["cell_count"].to_numpy()).all():
            errs.append("zonal[sample]: cell_count differs")
        for col in ("sum", "min", "max"):
            if not np.allclose(g[col].to_numpy(), w[col].to_numpy(), rtol=REL, atol=1e-12):
                errs.append(f"zonal[sample]: {col} differs")
        return errs

    def units(self):
        return self.DOCS

    def instrument(self, inst):
        from rastr_spark.plans import flagship
        from rastr_spark.sources import documents

        inst.patch(documents, "media_refs", "documents.media_refs")
        inst.patch(flagship, "tile_zone_partials", "flagship.partials")
        inst.patch(flagship, "_join_refs_partials", "flagship.join_agg")
        tracer = inst.tracer

        def prepass(orig, df, *a, **kw):
            # the only driver action in flagship: the salted pre-pass's peek
            # at the hot-tile table (k hot tiles, s total salt fan-out)
            with tracer.span("flagship.salt_prepass") as span:
                rows = orig(df, *a, **kw)
                if rows and "k" in rows[0].asDict():
                    span.counts["hot_tiles"] = int(rows[0]["k"])
                return rows

        inst.patch_method(type(self.docs), "collect", flagship.__name__, prepass)

    def extra_spans(self, tracer):
        """The PIP kernel alone, driver-side, on the cached tiles' values."""
        from rastr_spark.geometry import points_in_geometry

        meta, t = self.rf.meta, self.rf.meta.transform
        rows = self.rf.df.select("tile_row", "tile_col", "values").collect()
        T = meta.tile_size
        rr, cc = np.mgrid[0:T, 0:T].astype(np.float64)
        with tracer.span("geometry.pip") as span:
            n = 0
            for r in rows:
                col = r["tile_col"] * T + cc + 0.5
                row = r["tile_row"] * T + rr + 0.5
                X = (t.a * col + t.b * row + t.c).ravel()
                Y = (t.d * col + t.e * row + t.f).ravel()
                for _, g in self.zones:
                    xmin, ymin, xmax, ymax = g.bbox()
                    if X.min() > xmax or X.max() < xmin or Y.min() > ymax or Y.max() < ymin:
                        continue
                    points_in_geometry(X, Y, g)
                    n += X.size
            span.counts["points"] = n

    def layers(self, spans, self_s, counters):
        join = counters.get("flagship.join_agg")
        return {
            "documents.media_refs_s": self_s.get("documents.media_refs", 0.0),
            "documents.refs_rows": _rows(spans, "documents.media_refs"),
            "geometry.pip_s": self_s.get("geometry.pip", 0.0),
            "geometry.pip_points": sum(s.counts.get("points", 0) for s in spans if s.name == "geometry.pip"),
            "flagship.partials_s": self_s.get("flagship.partials", 0.0),
            "flagship.salt_prepass_s": self_s.get("flagship.salt_prepass", 0.0),
            "flagship.hot_tiles": sum(s.counts.get("hot_tiles", 0) for s in spans),
            "flagship.join_agg_s": self_s.get("flagship.join_agg", 0.0),
            "flagship.join_task_skew": task_skew(join.task_ms) if join else 0.0,
            "flagship.out_rows": _rows(spans, "flagship.join_agg"),
        }


# -- stencil --------------------------------------------------------------------


class Stencil(Workload):
    """blur, dilate, sobel and resample on the raster, and extrapolate on a
    sparse copy with one donor per tile; each output reduced with rf_stats."""

    name, unit = "stencil", "cells"
    LAYERS = ("stencils", "resample", "aggregates")
    FOLD = frozenset({"stencils.apply"})
    GRID = 512
    SPARSE_GRID = 256
    OPS = ("blur", "dilate", "sobel", "resample", "extrapolate")
    SIZES = {"probe": {"GRID": 4096, "SPARSE_GRID": 4096}}

    def build(self, tracer=None):
        self.release()
        self.tiles_mb = 0.0
        self.a = inputs.raster_array(self.seed, self.GRID)
        self.rf = self._raster(self.a, "bench", tracer)
        self.sparse = inputs.sparse_raster(self.seed, self.SPARSE_GRID)
        self.srf = self._raster(self.sparse, "sparse", tracer)

    def run(self):
        from rastr_spark.operators import aggregates as A
        from rastr_spark.operators import resample as R
        from rastr_spark.operators import stencils as S

        cell = inputs.CELL
        ops = {
            "blur": lambda: S.blur(self.rf, 2 * cell, preserve_nan=True),
            "dilate": lambda: S.dilate(self.rf, 2 * cell),
            "sobel": lambda: S.sobel(self.rf),
            "resample": lambda: R.resample(self.rf, 4 * cell),
            "extrapolate": lambda: S.extrapolate(self.srf),
        }
        out = {}
        for op, make in ops.items():
            st = A.rf_stats(make())
            out[op] = {"count": st["count"], "min": st["min"], "max": st["max"], "sum": st["sum"]}
        return out

    def expect(self):
        """Bounds any correct output obeys, from the numpy input."""
        self.n_valid = int((~np.isnan(self.a)).sum())
        self.lo, self.hi = float(np.nanmin(self.a)), float(np.nanmax(self.a))
        self.donor_lo, self.donor_hi = float(np.nanmin(self.sparse)), float(np.nanmax(self.sparse))

    def check(self, inv):
        e, eps = [], 1e-9
        b, d, s, r, x = (inv[k] for k in self.OPS)
        if b["count"] != self.n_valid or b["min"] < self.lo - eps or b["max"] > self.hi + eps:
            e.append(f"stencil.blur: {b} outside the input's mask/range")
        if d["count"] != self.n_valid or d["max"] != self.hi or d["min"] < self.lo:
            e.append(f"stencil.dilate: {d} breaks max == input max")
        if s["min"] < 0 or not math.isfinite(s["max"]):
            e.append(f"stencil.sobel: {s} not a finite magnitude")
        coarse = math.ceil(self.GRID / 4) ** 2
        if not 0 < r["count"] <= coarse or r["min"] < self.lo - eps or r["max"] > self.hi + eps:
            e.append(f"stencil.resample: {r} outside the input's range")
        # nearest-donor fill: every cell gets a donor's value, both extremes kept
        if x["count"] != self.SPARSE_GRID ** 2 or x["min"] != self.donor_lo or x["max"] != self.donor_hi:
            e.append(f"stencil.extrapolate: {x} is not a fill from the donors")
        return e + super().check(inv)

    def units(self):
        return (len(self.OPS) - 1) * self.GRID ** 2 + self.SPARSE_GRID ** 2

    def instrument(self, inst):
        from rastr_spark.operators import aggregates as A
        from rastr_spark.operators import resample as R
        from rastr_spark.operators import stencils as S

        # one grouped-map Python call per output tile: the forced row count
        # of stencil_apply is the number of calls
        inst.patch(S, "stencil_apply", "stencils.apply")
        inst.patch(S, "halo_messages", "stencils.halo")
        inst.patch(S, "halo_messages_targeted", "stencils.halo")
        for op in ("blur", "dilate", "sobel", "extrapolate"):
            inst.patch(S, op, f"stencils.{op}")
        inst.patch(R, "resample", "resample.resample")
        inst.patch(A, "rf_stats", "aggregates.rf_stats", force=False)

    def layers(self, spans, self_s, counters):
        out = {f"stencils.{op}_s": self_s.get(f"stencils.{op}", 0.0)
               for op in ("halo", "blur", "dilate", "sobel", "extrapolate")}
        out.update({
            "stencils.halo_rows": _rows(spans, "stencils.halo"),
            "stencils.python_groups": _rows(spans, "stencils.apply"),
            "resample.resample_s": self_s.get("resample.resample", 0.0),
            "aggregates.rf_stats_s": self_s.get("aggregates.rf_stats", 0.0),
        })
        return out


# -- curate ---------------------------------------------------------------------


class Curate(Workload):
    """curate_corpus over a seeded corpus with exact and near duplicates, then
    an availableNow drain of arriving docs through the streaming dedup path:
    ``streaming_near_dup_hits(streaming_dedup_exact(files), bucket index)``."""

    name, unit = "curate", "docs"
    LAYERS = ("text", "dedup", "datapipe", "stream")
    BASE = 3_000
    STREAM_FILES = 2  # one file per micro-batch
    STREAM_PER_FILE = 300
    HASHES, BANDS = 8, 4
    # the probe drained 50 files; 10 keep a traced run at this size to minutes
    SIZES = {"probe": {"BASE": 200_000, "STREAM_FILES": 10, "STREAM_PER_FILE": 2_000}}

    def build(self, tracer=None):
        from rastr_spark.functions.dedup import minhash_lsh_buckets

        self.release()
        df, want = inputs.corpus(self.seed, self.BASE)
        self.n_docs = len(df)
        docs = self.spark.createDataFrame(df).cache()
        docs.count()
        self.cached.append(docs)
        self.docs = docs
        self.cc_rounds: list = []
        # the stream's inputs: a bucket index of the base corpus on parquet,
        # and one parquet file per micro-batch
        base = df[df["doc_id"] < self.BASE]
        self.ref_dir = str(self.workdir / "stream-ref")
        minhash_lsh_buckets(
            self.spark.createDataFrame(base), num_hashes=self.HASHES, bands=self.BANDS,
        ).write.mode("overwrite").parquet(self.ref_dir)
        tables, want["stream"] = inputs.stream_files(
            self.seed, base, self.STREAM_FILES, self.STREAM_PER_FILE, self.BANDS)
        self.src_dir = self.workdir / "stream-src"
        shutil.rmtree(self.src_dir, ignore_errors=True)
        self.src_dir.mkdir()
        for i, t in enumerate(tables):
            pq.write_table(t, self.src_dir / f"part-{i:04d}.parquet")
        self.want = want
        self.drains = 0
        self.progress: list[dict] = []
        self.tracer: Tracer | None = None

    def run(self):
        from pyspark.sql import functions as F
        from rastr_spark.plans import datapipe

        self.cc_rounds.clear()
        out = datapipe.curate_corpus(
            self.docs, min_quality=0.5, langs=("en", "unk"), n=3, num_hashes=self.HASHES,
            bands=self.BANDS, jaccard_threshold=0.8, max_bucket_size=1000, cc_metrics=self.cc_rounds,
        )
        r = out.filter(F.col("keep")).agg(F.count("*").alias("k"), F.sum("bpe_tokens").alias("b")).collect()[0]
        if self.tracer is None:
            stream = self.drain()
        else:
            with self.tracer.span("stream.drain") as span:
                stream = self.drain(span.id)
        return {"kept": int(r["k"]), "bpe_tokens": int(r["b"]), "stream": stream}

    def drain(self, span: int | None = None) -> dict:
        """Drain every file, one per micro-batch, into a memory sink; a fresh
        query and checkpoint each time. The micro-batch jobs carry the
        query's run id in their description, which ``span`` is aliased to."""
        from pyspark.sql import functions as F
        from rastr_spark.streaming import updates

        self.drains += 1
        name = f"perfbench_hits_{self.drains}"
        ckpt = self.workdir / "stream-ckpt" / name
        src = (self.spark.readStream.schema("doc_id long, text string, ts timestamp")
               .option("maxFilesPerTrigger", 1).parquet(str(self.src_dir)))
        ref = self.spark.read.parquet(self.ref_dir)
        hits = updates.streaming_near_dup_hits(
            updates.streaming_dedup_exact(src), ref, num_hashes=self.HASHES, bands=self.BANDS)
        q = (hits.writeStream.format("memory").queryName(name).outputMode("append")
             .option("checkpointLocation", str(ckpt)).trigger(availableNow=True).start())
        if span is not None:
            self.job_aliases[f"runId = {q.runId}"] = span
        try:
            q.awaitTermination()
            self.progress = [json.loads(p.json) for p in q.recentProgress]
            r = self.spark.table(name).agg(
                F.count("*").alias("rows"), F.countDistinct("stream_id").alias("docs")).collect()[0]
        finally:
            q.stop()
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(ckpt, ignore_errors=True)
        dedup = [op for p in self.progress for op in p["stateOperators"]]
        return {
            "survivors": sum(op["numRowsUpdated"] for op in dedup),
            "hit_docs": int(r["docs"]),
            "hit_rows": int(r["rows"]),
        }

    def check(self, inv):
        return compare(inv, self.want, "curate") + super().check(inv)

    def units(self):
        return self.n_docs + self.STREAM_FILES * self.STREAM_PER_FILE

    def instrument(self, inst):
        from rastr_spark.functions import dedup as D
        from rastr_spark.plans import datapipe

        tracer, spark = inst.tracer, self.spark
        self.tracer = tracer
        inst.patch(D, "minhash_signatures_df", "dedup.signatures")
        inst.patch(D, "minhash_candidate_pairs", "dedup.candidates")
        inst.patch(D, "verified_near_dup_edges", "dedup.verify")
        inst.patch(D, "connected_components", "dedup.cc")
        inst.patch(D, "assign_canonical", "dedup.assign")

        rep_tables = D._rep_tables

        def reps(*a, **kw):
            with tracer.span("dedup.reps") as span:
                out = rep_tables(*a, **kw)
                span.counts["rows"] = out[0].count()  # rep_min is checkpointed
                return out

        inst.swap(rep_tables, reps)

        def checkpoint(orig, df, *a, **kw):
            # the annotated table: computed and cached on its own, then
            # localCheckpointed from the cache
            with tracer.span("text.annotate"):
                cached = df.cache()
                cached.count()
            with tracer.span("datapipe.checkpoint") as span:
                before = storage_mb(spark)
                out = orig(cached, *a, **kw)
                span.counts["mb"] = storage_mb(spark) - before
            cached.unpersist()
            return out

        inst.patch_method(type(self.docs), "localCheckpoint", datapipe.__name__, checkpoint)

    def layers(self, spans, self_s, counters):
        cands = _rows(spans, "dedup.candidates")
        edges = _rows(spans, "dedup.verify")
        out = {
            "text.annotate_s": self_s.get("text.annotate", 0.0),
            "dedup.reps_s": self_s.get("dedup.reps", 0.0),
            "dedup.rep_rows": _rows(spans, "dedup.reps"),
            "dedup.signatures_s": self_s.get("dedup.signatures", 0.0),
            "dedup.candidates_s": self_s.get("dedup.candidates", 0.0),
            "dedup.candidate_pairs": cands,
            "dedup.verify_s": self_s.get("dedup.verify", 0.0),
            "dedup.edges": edges,
            "dedup.verify_yield": edges / cands if cands else 0.0,
            "dedup.cc_s": self_s.get("dedup.cc", 0.0),
            "dedup.cc_rounds": len(self.cc_rounds),
            "dedup.assign_s": self_s.get("dedup.assign", 0.0),
            "datapipe.checkpoint_s": self_s.get("datapipe.checkpoint", 0.0),
            "datapipe.checkpoint_mb": sum(s.counts.get("mb", 0.0) for s in spans if s.name == "datapipe.checkpoint"),
        }
        out.update(stream_layers(self.progress))
        out["stream.drain_s"] = self_s.get("stream.drain", 0.0)
        return out


def stream_layers(progress: list[dict]) -> dict:
    """The streaming layer's metrics from one drain's query progress: phase
    times summed over micro-batches, state and sink rows."""
    def ms(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1000

    ops = [op for p in progress for op in p["stateOperators"]]
    return {
        "stream.batches": len(progress),
        "stream.batch_p50_s": statistics.median(p["durationMs"]["triggerExecution"] for p in progress) / 1000
        if progress else 0.0,
        "stream.add_batch_s": ms("addBatch"),
        "stream.planning_s": ms("queryPlanning"),
        "stream.wal_commit_s": ms("walCommit"),
        "stream.state_commit_s": sum(op["commitTimeMs"] for op in ops) / 1000,
        "stream.state_rows": progress[-1]["stateOperators"][0]["numRowsTotal"] if progress else 0,
        "stream.dup_dropped_rows": sum(op["customMetrics"].get("numDroppedDuplicateRows", 0) for op in ops),
        "stream.hit_rows": sum(p["sink"].get("numOutputRows", 0) for p in progress),
    }


WORKLOADS = {w.name: w for w in (Zonal, Stencil, Curate)}
