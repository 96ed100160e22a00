"""rastr_spark benchmark: one workload per run, in a fresh Spark session.

    python3 perfbench/run.py --workload zonal --seed 1 --seconds 2 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload, one JVM each
    python3 perfbench/run.py --workload stencil --trace 1 --size probe  # layer shares at probe size

Prints every metric by name with its unit, then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same inputs with layer spans
and reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import procfs, session, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_ROUNDS = 3
OUT = HERE / "out"


def _require_engine() -> None:
    try:
        import rastr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)


def declared(group: str) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json lists them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[group]}


class Tally:
    """Operations attempted and failed; an output that fails its check fails."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, errs: list[str]) -> bool:
        self.attempted += 1
        self.failed += bool(errs)
        self.errors.extend(errs)
        return not errs

    def run(self, w, fn):
        """``fn()`` → (invariants, ...); checked with ``w.check``. None on failure."""
        try:
            out = fn()
        except Exception:  # a failed pass is counted, the run goes on
            self.record([traceback.format_exc(limit=3)])
            return None
        return out if self.record(w.check(out[0])) else None


def timed_pass(w) -> tuple[dict, float, float]:
    """(invariants, wall seconds, process-tree CPU seconds) of one pass."""
    c0, t0 = procfs.tree_cpu().total_s, time.perf_counter()
    inv = w.run()
    return inv, time.perf_counter() - t0, procfs.tree_cpu().total_s - c0


def measure(w, seconds: float, tally: Tally) -> dict[str, list[float]]:
    """Passes until ``seconds`` have gone by and the workload's PASSES are done."""
    out: dict[str, list[float]] = {"wall": [], "cpu": []}
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(out["wall"]) < w.PASSES:
        r = tally.run(w, lambda: timed_pass(w))
        if r is not None:
            out["wall"].append(r[1])
            out["cpu"].append(r[2])
        elif tally.failed > w.PASSES:
            break
    return out


def warm_up(w, tally: Tally) -> float:
    """One untimed warm-up pass (code generation, JIT, Python workers),
    checked like any pass. Returns its wall time."""
    t0 = time.perf_counter()
    tally.run(w, lambda: timed_pass(w))
    return time.perf_counter() - t0


def run_untraced(w, seconds: float, tally: Tally) -> tuple[dict, dict]:
    rounds, rounds_cpu = [], []
    for _ in range(SETUP_ROUNDS):
        c0, t0 = procfs.tree_cpu().total_s, time.perf_counter()
        w.build()
        rounds.append(time.perf_counter() - t0)
        rounds_cpu.append(procfs.tree_cpu().total_s - c0)
    w.expect()
    warmup = warm_up(w, tally)
    peak = procfs.RssPeak().start()
    steal0 = procfs.steal_s()
    m = measure(w, seconds, tally)
    steal = procfs.steal_s() - steal0
    peak_mb = peak.stop()
    med = {k: statistics.median(v) if v else float("nan") for k, v in m.items()}
    metrics = {
        # CPU seconds, not wall: on a shared host the wall clock also counts
        # CPU time the hypervisor gives to other guests (see README)
        "setup_s": statistics.median(rounds_cpu),
        "cpu_s": med["cpu"],
        "peak_rss_mb": peak_mb,
        "wall_s": med["wall"],
        "throughput": w.units() / med["wall"],
    }
    extra = {"setup_rounds_s": rounds, "setup_rounds_cpu_s": rounds_cpu, "warmup_s": warmup,
             "steal_s": steal, **{f"pass_{k}_s": v for k, v in m.items()}}
    return metrics, extra


def run_traced(w, tally: Tally):
    """The warm-up pass, the workload's PASSES untraced passes for the
    reference wall, then one traced pass."""
    tracer = tracing.Tracer(w.spark.sparkContext)
    with tracer.span("setup"):
        w.build(tracer)
    w.expect()
    warm_up(w, tally)
    walls = measure(w, 0, tally)["wall"]
    inst = tracing.Instrument(tracer)
    w.instrument(inst)
    cpu0 = procfs.tree_cpu()
    root = tracer.open(w.name)
    try:
        tally.run(w, lambda: (w.run(),))
    finally:
        tracer.close(root)
        cpu1 = procfs.tree_cpu()
        inst.restore()
    w.extra_spans(tracer)
    extra = {
        "root": root.id,
        "traced_wall_s": root.end - root.start,
        "untraced_wall_s": statistics.median(walls) if walls else float("nan"),
        "jvm_cpu_s": cpu1.jvm_s - cpu0.jvm_s,
        "python_cpu_s": cpu1.python_s - cpu0.python_s,
    }
    return tracer, extra


def layer_metrics(w, tracer, events: list[dict], extra: dict) -> dict:
    spans = tracer.spans
    self_s = tracing.self_by_name(spans, fold=w.FOLD)
    per_span = tracing.attribute(events, w.job_aliases)
    in_pass = tracing.descendants_of(spans, extra["root"])
    by_name: dict[str, tracing.Counters] = {}
    total = tracing.Counters()
    for s in spans:
        c = per_span.get(s.id)
        if c is None:
            continue
        by_name.setdefault(s.name, tracing.Counters()).add(c)
        if s.id in in_pass:
            total.add(c)
    mb = 2**20
    out = {"tiles.build_s": self_s.get("tiles.build", 0.0), "tiles.cached_mb": w.tiles_mb}
    out.update(w.layers(spans, self_s, by_name))
    out.update({
        "spark.jobs": total.jobs,
        "spark.stages": total.stages,
        "spark.tasks": total.tasks,
        "spark.exchanges": total.exchanges,
        "spark.python_nodes": total.python_nodes,
        "spark.shuffle_write_mb": total.shuffle_write_b / mb,
        "spark.spill_mb": total.spill_b / mb,
        "spark.gc_s": total.gc_ms / 1000,
        "spark.executor_cpu_s": total.executor_cpu_ns / 1e9,
        "jvm.cpu_s": extra["jvm_cpu_s"],
        "python.cpu_s": extra["python_cpu_s"],
        "arrow.to_python_mb": total.to_python_b / mb,
        "arrow.from_python_mb": total.from_python_b / mb,
        "trace.wall_s": extra["traced_wall_s"],
        "trace.overhead_s": extra["traced_wall_s"] - extra["untraced_wall_s"],
        "trace.root_self_s": tracing.self_times(spans)[extra["root"]],
    })
    st = tracing.self_times(spans)
    extra["pass_self_sum_s"] = sum(st[i] for i in in_pass)
    return out


def run_one(args) -> int:
    names = declared("per_layer" if args.trace else "end_to_end")
    OUT.mkdir(exist_ok=True)
    workdir = Path(tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT))
    tally = Tally()
    try:
        spin_before = procfs.host_spin_s()
        t0 = time.perf_counter()
        heap_cap = 2048 if args.size == "bench" else 4096
        spark = session.start(workdir, event_log=bool(args.trace), heap_cap_mb=heap_cap)
        session_s = time.perf_counter() - t0
        w = WORKLOADS[args.workload](spark, args.seed, workdir, args.size)
        try:
            if args.trace:
                tracer, extra = run_traced(w, tally)
            else:
                metrics, extra = run_untraced(w, args.seconds, tally)
        finally:
            session.stop(spark)
        spin_after = procfs.host_spin_s()
        if args.trace:
            events = tracing.read_event_log(str(workdir / "events"))
            metrics = layer_metrics(w, tracer, events, extra)
            metrics["host.spin_s"] = (spin_before + spin_after) / 2
            extra["spans"] = [vars(s) for s in tracer.spans]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    # layers that only other workloads exercise are idle here and read 0
    idle = {n for cls in WORKLOADS.values() if cls is not type(w)
            for n in names if n.split(".")[0] in cls.LAYERS}
    metrics = {**{n: 0 for n in idle}, **metrics}
    missing = sorted(set(names) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "size": args.size,
        "metrics": metrics, "session_s": session_s, "host_spin_s": [spin_before, spin_after],
        "attempted": tally.attempted, "failed": tally.failed, "errors": tally.errors, **extra,
    }
    with open(OUT / "runs.jsonl", "a") as f:
        f.write(json.dumps(record, default=float) + "\n")
    for e in tally.errors:
        print(f"CHECK FAILED {args.workload}: {e}", file=sys.stderr)
    steal = f"host.steal_s={extra['steal_s']:.3f} " if "steal_s" in extra else ""
    print(f"# {args.workload} seed={args.seed} trace={args.trace} session_s={session_s:.3f} "
          f"host.spin_s={spin_before:.4f}/{spin_after:.4f} {steal}"
          f"fail_ratio={tally.failed}/{tally.attempted}")
    if args.trace:
        print(f"# traced pass {extra['traced_wall_s']:.3f} s; its spans' self times sum to "
              f"{extra['pass_self_sum_s']:.3f} s; untraced median {extra['untraced_wall_s']:.3f} s")
    shown = {**names, **{k: "" for k in metrics if k not in names}}
    for k, unit in shown.items():
        print(f"{args.workload:8s} {k:28s} {metrics[k]:16.6f} {unit}")
    print(json.dumps({
        "correct": not tally.errors,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": unit} for k, unit in names.items()},
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process (a fresh JVM), driven from this one."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--size", args.size]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited with {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        print("\n".join(lines[:-1]))
        r = json.loads(lines[-1])
        merged["correct"] &= r["correct"]
        merged["attempted"] += r["attempted"]
        merged["failed"] += r["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "probe"), default="bench",
                   help="input sizes: the benchmark's, or the larger probe sizes the workloads were specified at")
    args = p.parse_args(argv)
    _require_engine()
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)} or all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
