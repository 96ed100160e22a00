"""Stat-guarded zip directory caches for long-lived Python workers.

A reused PySpark Python worker calls ``importlib.invalidate_caches()`` before
every task (to pick up files shipped with ``addPyFile``). On CPython 3.10-3.12
every ``zipimport.zipimporter`` on the path then eagerly re-reads its archive's
central directory — for ``pyspark.zip`` that is ~1300 entries times one
importer per package directory on ``sys.path``, about 0.2 s of CPU per task
whatever the task does.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an archive is
re-read only when its ``(st_mtime_ns, st_size)`` changed since it was last
read through the wrapper; importers of an unchanged archive adopt the shared
cached directory instead. A rewritten archive is still picked up on the next
invalidation. Installing twice is a no-op.

``import rastr_spark`` installs it, and a worker imports the package only when
it unpickles a kernel that references a module-level engine function:
cloudpickle ships such functions by reference, while a self-contained closure
ships by value and imports nothing of the package. So a kernel the engine
hands to Spark must reference one: the stencil, resample, contour, flagship,
dedup and streaming kernels are thin closures over module-level functions
(``stencils._cut_strips``, ``dedup._minhash_sig_batch``, ...), and
``tests/test_zipcache.py`` unpickles each of them in a fresh interpreter and
fails if the cache is not installed.
"""

from __future__ import annotations

import os
import zipimport

_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stat_guarded", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            if hasattr(self, "_files"):  # 3.10-3.12 keep a per-importer reference
                self._files = files
            return
        # stat BEFORE the read: a rewrite racing the read changes the stamp
        # again, so the next invalidation re-reads
        reread(self)
        _stamps[self.archive] = stamp

    invalidate_caches._stat_guarded = True
    cls.invalidate_caches = invalidate_caches
