"""Tests of the benchmark's own machinery, at tiny input sizes.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import inputs, procfs, tracing, workloads  # noqa: E402
from perfbench.tracing import Span  # noqa: E402

# -- span self time -------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),  # overlaps a: union of a and b is [1, 6]
        Span(3, "c", 1, 2.0, 3.0),
        Span(4, "d", 0, 9.0, 12.0),  # runs past its parent: clipped to [9, 10]
    ]
    assert tracing.self_times(spans) == {0: 10 - 5 - 1, 1: 3 - 1, 2: 3, 3: 1, 4: 3}


def test_self_times_account_for_the_root():
    spans = [Span(0, "root", None, 0.0, 8.0), Span(1, "a", 0, 1.0, 5.0),
             Span(2, "b", 1, 2.0, 3.0), Span(3, "c", 0, 6.0, 7.5)]
    assert sum(tracing.self_times(spans).values()) == pytest.approx(8.0)


def test_self_by_name_sums_and_folds():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "op", 0, 0.0, 4.0),
        Span(2, "apply", 1, 1.0, 3.0),
        Span(3, "op", 0, 5.0, 6.0),
    ]
    assert tracing.self_by_name(spans) == {"root": 5.0, "op": 3.0, "apply": 2.0}
    assert tracing.self_by_name(spans, fold=frozenset({"apply"})) == {"root": 5.0, "op": 5.0}


def test_tracer_nests_and_describes_jobs():
    class FakeSc:
        def __init__(self):
            self.desc = []

        def setJobDescription(self, d):
            self.desc.append(d)

    clock = iter(range(100)).__next__
    sc = FakeSc()
    t = tracing.Tracer(sc, clock=clock)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert sc.desc == ["outer#0", "inner#1", "outer#0", None]
    assert tracing.self_times(t.spans) == {0: 2, 1: 1}


# -- event-log attribution ----------------------------------------------------


def _events():
    plan = {"nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [
        {"nodeName": "Exchange", "metrics": [{"accumulatorId": 1}], "children": [
            {"nodeName": "FlatMapGroupsInPandas", "metrics": [{"accumulatorId": 2}], "children": []}]}]}
    # a later execution scanning the cached result shows the same nodes again
    rescan = {"nodeName": "InMemoryTableScan", "metrics": [{"accumulatorId": 3}],
              "children": plan["children"]}

    def task(stage, t0, t1, cpu_ns):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": t0, "Finish Time": t1, "Accumulables": [
                    {"ID": 9, "Name": "data sent to Python workers", "Update": "1024"}]},
                "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 5,
                                 "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}

    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "description": "join#3", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.job.description": "join#3"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7},
         "Properties": {"spark.job.description": "join#3"}},
        task(7, 0, 10, 1000), task(7, 0, 30, 2000), task(7, 5, 15, 3000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 7}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 1, "description": None, "sparkPlanInfo": rescan},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 8}, "Properties": None},
        task(8, 0, 1, 7),
    ]


def test_event_log_counters_attributed_to_spans():
    c = tracing.attribute(_events())
    j = c[3]
    assert (j.jobs, j.stages, j.tasks, j.exchanges, j.python_nodes) == (1, 1, 3, 1, 1)
    assert j.executor_cpu_ns == 6000 and j.gc_ms == 15 and j.spill_b == 9
    assert j.shuffle_write_b == 300 and j.to_python_b == 3072
    assert tracing.task_skew(j.task_ms) == 3.0  # max 30 / median 10
    unattributed = c[None]
    assert (unattributed.jobs, unattributed.tasks, unattributed.executor_cpu_ns) == (1, 1, 7)
    assert (unattributed.exchanges, unattributed.python_nodes) == (0, 0)


def test_streaming_jobs_attributed_through_an_alias():
    desc = "perfbench_hits_1\nid = q1\nrunId = r-42\nbatch = 0"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.job.description": desc}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.job.description": desc}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    c = tracing.attribute(events, {"runId = r-42": 5})
    assert (c[5].jobs, c[5].stages) == (1, 1) and None not in c
    assert tracing.attribute(events)[None].jobs == 1


def test_event_log_reader_skips_in_progress(tmp_path):
    (tmp_path / "app-1").write_text('{"Event": "SparkListenerJobStart", "Properties": {}}\n')
    (tmp_path / "app-2.inprogress").write_text("not json\n")
    assert len(tracing.read_event_log(str(tmp_path))) == 1


# -- /proc sampler ----------------------------------------------------------------


def _stat(pid, comm, ppid, ticks, rss_pages):
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(ticks), str(ticks), "0", "0"] + ["0"] * 6 + [str(rss_pages)]
    return f"{pid} ({comm}) " + " ".join(fields)


def test_parse_stat_handles_odd_command_names():
    pid, comm, ppid, cpu, rss = procfs.parse_stat(_stat(42, "py (x) y", 7, 50, 3))
    assert (pid, comm, ppid) == (42, "py (x) y", 7)
    assert cpu == pytest.approx(100 / procfs._TICK)
    assert rss == 3 * procfs._PAGE


def test_tree_cpu_on_fake_proc(tmp_path):
    for pid, comm, ppid in [(1, "init", 0), (10, "python3", 1), (11, "java", 10),
                            (12, "python", 11), (13, "other", 1)]:
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(_stat(pid, comm, ppid, procfs._TICK, 1))
    t = procfs.tree_cpu(10, proc=str(tmp_path))
    assert t.total_s == pytest.approx(6.0)  # three processes, 2 s each
    assert t.jvm_s == pytest.approx(2.0) and t.python_s == pytest.approx(2.0)
    assert t.rss_mb == pytest.approx(3 * procfs._PAGE / 2**20)


def test_tree_cpu_sees_a_busy_child():
    before = procfs.tree_cpu()
    child = subprocess.Popen([sys.executable, "-c", "import time\nt=time.time()\nwhile time.time()-t<0.6: pass"])
    try:
        time.sleep(0.3)
        during = procfs.tree_cpu()
        assert child.pid in procfs.descendants()
        assert during.python_s - before.python_s > 0.05
    finally:
        child.wait(timeout=10)
    assert child.poll() is not None


def test_rss_peak_sampler():
    peak = procfs.RssPeak(interval_s=0.01).start()
    block = np.ones(40 * 2**20 // 8)  # 40 MiB, touched
    time.sleep(0.1)
    high = peak.stop()
    del block
    assert high > procfs.tree_cpu().rss_mb - 1 and high > 40


def test_steal_reads_the_eighth_cpu_field(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text(f"cpu  10 0 5 100 0 0 0 {3 * procfs._TICK} 0 0\ncpu0 1 2 3\n")
    assert procfs.steal_s(str(stat)) == pytest.approx(3.0)
    assert procfs.steal_s() >= 0


def test_host_spin_is_positive():
    assert procfs.host_spin_s(n=64, reps=2) > 0


# -- inputs and expected values ---------------------------------------------------


def test_ray_casting_matches_engine_pip():
    from rastr_spark.geometry import Geometry, points_in_geometry

    rng = np.random.default_rng(0)
    x, y = rng.uniform(-10, 1100, 5000), rng.uniform(-10, 1100, 5000)
    for _, shell in inputs.zone_shells(1024.0)[::7]:
        ours = inputs.points_in_shell(x, y, shell)
        theirs = points_in_geometry(x, y, Geometry.polygon(shell))
        assert (ours == theirs).all()


def test_zonal_expected_by_hand():
    # 2 tiles, 2 zones; doc 0 refs tile 0 twice and tile 1 once, doc 1 refs tile 1
    cnt = np.array([[3, 0], [1, 2]])
    spans = {"doc": np.array([0, 0, 0, 0, 1]), "tile": np.array([0, 0, 1, 1, 1]),
             "media": np.array([True, True, False, True, True])}
    rows, total = inputs.zonal_expected(spans, cnt)
    # doc 0: zone 0 (tiles 0, 1), zone 1 (tile 1); doc 1: zones 0 and 1
    assert rows == 4
    assert total == 3 + 3 + (1 + 2) + (1 + 2)


def test_corpus_bpe_tokens_are_two_per_word():
    from rastr_spark.functions.text import BPE_PRETOKEN_RE

    df, want = inputs.corpus(5, 200)
    texts = df["text"][:200]
    ws = re.compile(r"^[ \t\n\x0b\f\r]+$")
    lone = [sum(1 for m in re.findall(BPE_PRETOKEN_RE, t) if not ws.match(m)) for t in texts]
    assert lone == [2 * len(t.split()) for t in texts]
    assert want["kept"] < 200 and want["bpe_tokens"] > 0


def test_sparse_raster_has_one_donor_per_tile():
    a = inputs.sparse_raster(4, 192)
    donors = ~np.isnan(inputs.tile_major(a))
    assert (donors.sum(axis=1) == 1).all() and donors.shape[0] == 9


def test_inputs_repeat_per_seed():
    a, b = inputs.raster_array(3, 64), inputs.raster_array(3, 64)
    assert np.array_equal(a, b, equal_nan=True)
    assert not np.array_equal(a, inputs.raster_array(4, 64), equal_nan=True)
    assert inputs.corpus(3, 50)[0].equals(inputs.corpus(3, 50)[0])


# -- each workload's check fires on a corrupted output ----------------------------


def _no_pin(monkeypatch):
    monkeypatch.setattr(workloads, "pinned", lambda *a: None)


def _zonal():
    w = workloads.Zonal.__new__(workloads.Zonal)
    w.seed, w.GRID, w.DOCS, w.SAMPLE = 1, 128, 40, 10
    w.a = inputs.raster_array(1, 128)
    w.spans = inputs.doc_spans(1, 40, 2)
    w.expect()
    inv = {**w.want, "sample": w.want_sample.reset_index()}
    return w, inv


def test_zonal_check_fires(monkeypatch):
    _no_pin(monkeypatch)
    w, inv = _zonal()
    assert w.check(inv) == []
    assert w.check({**inv, "cell_count": inv["cell_count"] + 1})
    bad = inv["sample"].copy()
    bad.loc[0, "sum"] += 1e-6
    assert w.check({**inv, "sample": bad})
    assert w.check({**inv, "sample": inv["sample"].iloc[1:]})


def _stencil_output(w):
    valid = w.a[~np.isnan(w.a)]
    return {
        "blur": {"count": w.n_valid, "min": w.lo + 0.1, "max": w.hi - 0.1, "sum": float(valid.sum())},
        "dilate": {"count": w.n_valid, "min": w.lo + 0.2, "max": w.hi, "sum": 1.0},
        "sobel": {"count": w.n_valid, "min": 0.0, "max": 3.0, "sum": 1.0},
        "resample": {"count": 16 * 16, "min": w.lo, "max": w.hi, "sum": 1.0},
        "extrapolate": {"count": 64 * 64, "min": w.donor_lo, "max": w.donor_hi, "sum": 1.0},
    }


def test_stencil_check_fires(monkeypatch):
    _no_pin(monkeypatch)
    w = workloads.Stencil.__new__(workloads.Stencil)
    w.seed, w.GRID, w.SPARSE_GRID = 1, 64, 64
    w.a = inputs.raster_array(1, 64)
    w.sparse = inputs.sparse_raster(1, 64)
    w.expect()
    good = _stencil_output(w)
    assert w.check(good) == []
    for op, key, value in [("blur", "count", w.n_valid - 1), ("dilate", "max", w.hi - 1e-3),
                           ("sobel", "min", -1.0), ("resample", "max", w.hi + 1.0),
                           ("extrapolate", "min", w.donor_lo + 1e-3)]:
        bad = {k: dict(v) for k, v in good.items()}
        bad[op][key] = value
        assert any(op in e for e in w.check(bad)), (op, key)


def test_curate_check_fires(monkeypatch):
    _no_pin(monkeypatch)
    w = workloads.Curate.__new__(workloads.Curate)
    w.seed = 1
    _, w.want = inputs.corpus(1, 100)
    w.want["stream"] = {"survivors": 9, "hit_docs": 7, "hit_rows": 32}
    assert w.check(dict(w.want)) == []
    assert w.check({**w.want, "kept": w.want["kept"] + 1})
    assert w.check({**w.want, "bpe_tokens": w.want["bpe_tokens"] - 2})
    assert w.check({**w.want, "stream": {**w.want["stream"], "hit_rows": 28}})


def test_stream_files_expected_by_brute_force():
    ref, _ = inputs.corpus(2, 300)
    ref = ref[ref["doc_id"] < 300]
    tables, want = inputs.stream_files(2, ref, 3, 20, bands=4)
    rows = [r for t in tables for r in t.to_pylist()]
    assert [t.num_rows for t in tables] == [20, 20, 20]
    texts = [r["text"] for r in rows]
    distinct = list(dict.fromkeys(texts))
    assert want["survivors"] == len(distinct) == 60 - 6
    # a re-send repeats an earlier doc: same id, same text, later in the stream
    first = {}
    for i, r in enumerate(rows):
        first.setdefault(r["text"], (i, r["doc_id"]))
        assert first[r["text"]][1] == r["doc_id"]
    ref_count = ref["text"].value_counts()
    hits = [t for t in distinct if t in ref_count.index]
    assert want["hit_docs"] == len(hits) == int(0.8 * 54)
    assert want["hit_rows"] == 4 * sum(int(ref_count[t]) for t in hits)
    assert all(t.startswith("v") for t in distinct if t not in ref_count.index)
    ts = [r["ts"] for r in rows]
    assert ts == sorted(ts) and (ts[-1] - ts[0]).total_seconds() < 60


def test_stream_layers_from_progress():
    def batch(add, commit, total, dropped, out):
        return {"durationMs": {"addBatch": add, "queryPlanning": 10, "walCommit": 5, "triggerExecution": add + 20},
                "stateOperators": [{"commitTimeMs": commit, "numRowsTotal": total, "numRowsUpdated": 0,
                                    "customMetrics": {"numDroppedDuplicateRows": dropped}}],
                "sink": {"numOutputRows": out}}

    m = workloads.stream_layers([batch(1000, 400, 90, 3, 40), batch(500, 300, 170, 7, 30), batch(80, 100, 170, 0, 0)])
    assert m["stream.batches"] == 3 and m["stream.batch_p50_s"] == pytest.approx(0.52)
    assert m["stream.add_batch_s"] == pytest.approx(1.58) and m["stream.state_commit_s"] == pytest.approx(0.8)
    assert m["stream.planning_s"] == pytest.approx(0.03) and m["stream.wal_commit_s"] == pytest.approx(0.015)
    assert (m["stream.state_rows"], m["stream.dup_dropped_rows"], m["stream.hit_rows"]) == (170, 10, 70)


def test_pinned_values_are_checked(monkeypatch):
    monkeypatch.setattr(workloads, "pinned", lambda name, seed: {"kept": 1, "bpe_tokens": 2})
    w = workloads.Curate.__new__(workloads.Curate)
    w.seed, w.want = 1, {"kept": 1, "bpe_tokens": 2}
    assert w.check({"kept": 1, "bpe_tokens": 2}) == []
    w.want = {"kept": 3, "bpe_tokens": 2}
    assert any("pinned" in e for e in w.check({"kept": 3, "bpe_tokens": 2}))


def test_compare_floats_relative():
    assert workloads.compare({"x": 1.0 + 1e-12}, {"x": 1.0}, "t") == []
    assert workloads.compare({"x": 1.0 + 1e-6}, {"x": 1.0}, "t")
    assert workloads.compare({"x": {"n": 2}}, {"x": {"n": 3}}, "t")


def test_exits_nonzero_without_the_engine(tmp_path):
    root = Path(__file__).resolve().parents[2]
    shutil.copytree(root / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(root / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "zonal", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120, env={"PATH": "/usr/bin:/bin"})
    assert p.returncode != 0 and p.stdout.strip() == ""


# -- real outputs at tiny size, one Spark session -----------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import session

    s = session.start(tmp_path_factory.mktemp("spark"))
    yield s
    session.stop(s)


@pytest.mark.parametrize("name", ["zonal", "stencil", "curate"])
def test_workload_outputs_pass_and_corruption_fails(spark, monkeypatch, tmp_path, name):
    _no_pin(monkeypatch)
    cls = workloads.WORKLOADS[name]
    small = {"zonal": {"GRID": 128, "DOCS": 300, "SAMPLE": 20}, "stencil": {"GRID": 128, "SPARSE_GRID": 128},
             "curate": {"BASE": 200, "STREAM_FILES": 2, "STREAM_PER_FILE": 20}}[name]
    for k, v in small.items():
        monkeypatch.setattr(cls, k, v)
    w = cls(spark, 7, tmp_path)
    w.build()
    w.expect()
    inv = w.run()
    assert w.check(inv) == []
    if name == "zonal":
        bad = {**inv, "rows": inv["rows"] - 1}
    elif name == "stencil":
        bad = {**inv, "dilate": {**inv["dilate"], "max": inv["dilate"]["max"] - 1.0}}
    else:
        bad = {**inv, "kept": inv["kept"] + 1}
        assert w.check({**inv, "stream": {**inv["stream"], "survivors": inv["stream"]["survivors"] + 1}})
    assert w.check(bad)
