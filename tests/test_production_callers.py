"""Every public top-level name in ``elb_pipeline/`` is named by code that
runs outside the tests: a query (``__spark_entry__.py``), the job CLI
(``run_pipeline.py``), ``bench.py``, the benchmark (``perfbench/``) or
another package module. A name only tests use still has to be read and
kept working; move it into its test or delete it. No Spark."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "elb_pipeline"
PRODUCTION = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "run_pipeline.py",
    *sorted((ROOT / "perfbench").rglob("*.py")),
    *sorted(PACKAGE.rglob("*.py")),
]

# golden expectations for tests/test_dialects.py, kept beside the vectors
ALLOWED = {"goldens.POOL_SINKS"}

_PUBLIC = re.compile(
    r"^(?:def|class) ([A-Za-z][A-Za-z0-9_]*)|^([A-Z][A-Z0-9_]*) *[:=]", re.M
)


def test_public_names_have_production_callers():
    lines = [ln for f in PRODUCTION for ln in f.read_text().splitlines()]
    orphans = set()
    for f in sorted(PACKAGE.glob("*.py")):
        for m in _PUBLIC.finditer(f.read_text()):
            name = m.group(1) or m.group(2)
            word = re.compile(rf"\b{name}\b")
            # one line is the definition itself; a docstring mention counts
            if sum(1 for ln in lines if word.search(ln)) <= 1:
                orphans.add(f"{f.stem}.{name}")
    assert orphans - ALLOWED == set(), "public names only tests use"
    assert ALLOWED <= orphans, "allowlisted names now have callers"
