"""Pin each workload's output invariants for a set of seeds.

    python3 perfbench/pin.py 1-20            # every workload, seeds 1..20
    python3 perfbench/pin.py 3 7 --workload zonal

Runs one pass per seed with the current engine, after its own checks pass,
and writes the invariants into perfbench/pinned.json (other entries are
kept). A later run with a pinned seed must reproduce them.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))


def seeds_of(specs: list[str]) -> list[int]:
    out = []
    for s in specs:
        lo, _, hi = s.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def invariants(inv: dict) -> dict:
    """The pinned part of a pass's output (zonal's sample rows are checked
    against numpy instead)."""
    return {k: v for k, v in inv.items() if k != "sample"}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("seeds", nargs="+", help="seeds or ranges like 1-20")
    p.add_argument("--workload", action="append", help="default: every workload")
    args = p.parse_args(argv)
    from perfbench import session, workloads

    pinned = json.loads(workloads.PINNED.read_text()) if workloads.PINNED.exists() else {}
    # re-pinning checks against the independent expectations only
    workloads.pinned = lambda name, seed: None
    for name in args.workload or list(workloads.WORKLOADS):
        (HERE / "out").mkdir(exist_ok=True)
        workdir = Path(tempfile.mkdtemp(prefix=f"pin-{name}-", dir=HERE / "out"))
        spark = session.start(workdir)
        try:
            for seed in seeds_of(args.seeds):
                w = workloads.WORKLOADS[name](spark, seed, workdir)
                w.build()
                w.expect()
                inv = w.run()
                errs = w.check(inv)
                if errs:
                    raise SystemExit(f"{name} seed {seed} fails its checks: {errs}")
                pinned.setdefault(name, {})[str(seed)] = invariants(inv)
                print(f"{name} seed {seed}: {json.dumps(invariants(inv))}", flush=True)
                w.release()
        finally:
            session.stop(spark)
            shutil.rmtree(workdir, ignore_errors=True)
        workloads.PINNED.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
