"""Every Python source in the repository compiles with warnings raised
as errors, so an invalid escape sequence (a ``SyntaxWarning`` on Python
3.12+, an error in a later release) fails here rather than at import."""

from __future__ import annotations

import os
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TREES = ("serverless_etl_aws_spark", "tests", "perfbench", "tools")


def _sources() -> list[Path]:
    found = sorted(ROOT.glob("*.py"))
    for tree in TREES:
        for dirpath, dirnames, filenames in os.walk(ROOT / tree):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            found += sorted(Path(dirpath) / f for f in filenames if f.endswith(".py"))
    return found


def test_sources_compile_without_warnings():
    assert len(_sources()) > 100
    failed = {}
    for path in _sources():
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_bytes(), str(path), "exec")
            except SyntaxError as exc:
                failed[str(path.relative_to(ROOT))] = str(exc)
    assert failed == {}
