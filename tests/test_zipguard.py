"""The worker-only zip-archive guard (searchengine_spark.zipguard): an
unchanged archive is read once, a rewritten one is re-read, a missing
one behaves as without the guard, and only Spark's Python workers
install it. The archive scenarios run in a subprocess so this process's
own importers stay untouched."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark import zipguard

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zipimporter caches lazily; no guard",
)

PRELUDE = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport
    root, tmp = sys.argv[1], sys.argv[2]
    sys.path.insert(0, root)
    from searchengine_spark import zipguard

    arc = os.path.join(tmp, "lib.zip")
    reads = []
    _read_directory = zipimport._read_directory
    def counting(path):
        reads.append(path)
        return _read_directory(path)
    zipimport._read_directory = counting

    def write(files, bump=0):
        with zipfile.ZipFile(arc, "w") as z:
            for name, src in files.items():
                z.writestr(name, src)
        st = os.stat(arc)
        os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + bump))

    def n_reads():
        return sum(1 for p in reads if p == arc)

    files = {"pkg/__init__.py": "", "pkg/a.py": "A = 1\\n"}
    write(files)
    sys.path.insert(0, arc)
    import pkg.a  # two importers on the archive: lib.zip and lib.zip/pkg
    zipguard.install()
    reads.clear()
    """
)

SCENARIOS = {
    "unchanged": """
        importlib.invalidate_caches()  # first re-read records the signature
        first = n_reads()
        for _ in range(3):
            importlib.invalidate_caches()
        out = {"first": first, "after": n_reads() - first}
    """,
    "rewritten": """
        importlib.invalidate_caches()
        before = n_reads()
        files["pkg/b.py"] = "B = 2\\n"
        write(files, bump=10**9)
        importlib.invalidate_caches()
        import pkg.b
        out = {"reads": n_reads() - before, "B": pkg.b.B}
    """,
    "missing": """
        importlib.invalidate_caches()
        os.remove(arc)
        importlib.invalidate_caches()
        imps = [v for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        out = {"cached": arc in zipimport._zip_directory_cache,
               "files": [len(i._files) for i in imps]}
        files["c.py"] = "C = 3\\n"
        write(files, bump=10**9)
        importlib.invalidate_caches()
        import c
        out["C"] = c.C
    """,
}


def _run(scenario: str, tmp_path) -> dict:
    src = PRELUDE + textwrap.dedent(SCENARIOS[scenario]) + "print(json.dumps(out))\n"
    res = subprocess.run(
        [sys.executable, "-c", src, ROOT, str(tmp_path)],
        capture_output=True, text=True, timeout=60,
    )
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_not_reread(tmp_path):
    # without the guard: 2 reads per invalidate_caches, 8 over the four
    assert _run("unchanged", tmp_path) == {"first": 1, "after": 0}


def test_rewritten_archive_is_reread(tmp_path):
    out = _run("rewritten", tmp_path)
    assert out["reads"] >= 1
    assert out["B"] == 2


def test_missing_archive_falls_back(tmp_path):
    out = _run("missing", tmp_path)
    assert out["cached"] is False
    assert out["files"] and all(n == 0 for n in out["files"])
    assert out["C"] == 3


def test_installed_in_python_workers_only(spark):
    def probe(s: pd.Series) -> pd.Series:
        return s.map(lambda _: zipguard.installed())

    rows = spark.range(0, 8, 1, 4).select(
        F.pandas_udf(probe, "boolean")("id").alias("ok")
    ).collect()
    assert rows and all(r["ok"] for r in rows)
    assert not zipguard.installed()
