"""Every source file compiles with warnings raised as errors: an invalid
escape such as "\\s" in a non-raw SQL string is a SyntaxWarning today and
a SyntaxError under `python -W error` (and in future Python versions)."""

from __future__ import annotations

import glob
import os
import warnings

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    [os.path.join(ROOT, "__spark_entry__.py")]
    + glob.glob(os.path.join(ROOT, "searchengine_spark", "**", "*.py"), recursive=True)
)


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: os.path.relpath(p, ROOT))
def test_compiles_with_warnings_as_errors(path):
    with open(path, encoding="utf-8") as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, path, "exec")
