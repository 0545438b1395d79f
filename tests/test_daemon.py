"""The engine's Python worker daemon (``flint_spark._daemon``): workers
fork from it, and before Python 3.12 it stops ``importlib.
invalidate_caches()`` (called by pyspark at the start of every task)
from re-reading zip archives that did not change on disk."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

import pandas as pd
import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]

GUARD_PROBE = r"""
import importlib, sys, zipfile, zipimport

from flint_spark._daemon import guard_zip_rereads

archive = sys.argv[1]
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("m1.py", "X = 1\n")
sys.path.insert(0, archive)
import m1

guard_zip_rereads()
reads = []
read_directory = zipimport._read_directory


def counting(path):
    reads.append(path)
    return read_directory(path)


zipimport._read_directory = counting
importlib.invalidate_caches()  # an importer with no stamp reads once
first = reads.count(archive)
del reads[:]
for _ in range(3):
    importlib.invalidate_caches()
unchanged = reads.count(archive)

with zipfile.ZipFile(archive, "w") as z:
    z.writestr("m1.py", "X = 1\n")
    z.writestr("m2.py", "Y = 2\n")
importlib.invalidate_caches()
changed = reads.count(archive)
import m2

print("RESULT", first, unchanged, changed, m1.X, m2.Y)
"""


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="the guard is installed before Python 3.12 only")
def test_invalidate_caches_rereads_only_changed_archives(tmp_path):
    """In a subprocess, so the test process's own zipimporter is never
    patched: an unchanged archive is not re-read, and a rewritten one
    is re-read so that its new module imports."""
    res = subprocess.run(
        [sys.executable, "-c", GUARD_PROBE, str(tmp_path / "mods.zip")],
        cwd=str(tmp_path), capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": str(REPO)})
    assert res.returncode == 0, res.stderr[-2000:]
    (line,) = [ln for ln in res.stdout.splitlines()
               if ln.startswith("RESULT")]
    assert line.split()[1:] == ["1", "0", "1", "1", "2"]


def test_session_workers_fork_from_engine_daemon(spark):
    """``get_spark`` names the daemon module, and a Python task sees
    the guarded ``invalidate_caches`` (before Python 3.12)."""
    assert (spark.conf.get("spark.python.daemon.module")
            == "flint_spark._daemon")

    def probe(batches):
        import zipimport
        src = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        for b in batches:
            yield pd.DataFrame({"src": [src] * len(b)})

    srcs = {r.src for r in
            spark.range(8).mapInPandas(probe, "src string").collect()}
    guarded = {s.endswith(os.path.join("flint_spark", "_daemon.py"))
               for s in srcs}
    assert guarded == {sys.version_info < (3, 12)}, srcs
