"""Importing rastr_spark makes zip importers re-read an archive's directory only
when the archive changed (rastr_spark/zipcache.py) — a reused Python worker
calls importlib.invalidate_caches() before every task."""

import json
import os
import subprocess
import sys
from pathlib import Path

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
