"""Every top-level name in ``elb_pipeline/`` — public or private — is
referenced by code that runs outside the tests: a query
(``__spark_entry__.py``), the job CLI (``run_pipeline.py``), ``bench.py``,
the benchmark (``perfbench/``) or a package module (its own included). A
name only tests use still has to be read and kept working; move it into
its test or delete it. References are counted in the syntax tree (``Name``
loads, ``Attribute`` names and ``from … import`` names), so a docstring
or comment that mentions a name does not keep it alive.

A defaulted parameter of a top-level package function is set, by keyword
or by position, by some production call: a default no caller overrides is
a knob with one value, so it belongs in a module constant. No Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "elb_pipeline"
PRODUCTION = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "run_pipeline.py",
    *sorted(
        p for p in (ROOT / "perfbench").rglob("*.py") if not p.name.startswith("test_")
    ),
    *sorted(PACKAGE.rglob("*.py")),
]

ALLOWED = {
    # golden expectations for tests/test_dialects.py, kept beside the vectors
    "goldens.POOL_SINKS",
    # SURVEY-listed capabilities that only their cross-check tests run
    "job.export_ndjson_sharded",  # file face of ndjson_sharded_lines (test_pipeline)
    "streaming.conversation_sessions_event_time",  # vs batch replay (test_streaming)
    # the Iceberg session conf a deployment applies; read_transcripts_table's
    # error message names it
    "sources.ICEBERG_CONF",
}


def _defined(tree: ast.Module) -> set[str]:
    """Names bound by the module's top-level def, class and assignment
    statements (dunders excluded)."""
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
    return {n for n in names if not (n.startswith("__") and n.endswith("__"))}


def _referenced(tree: ast.AST) -> set[str]:
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            refs |= {a.name for a in node.names}
    return refs


def test_public_names_have_production_callers():
    refs = set().union(*(_referenced(ast.parse(f.read_text())) for f in PRODUCTION))
    orphans = {
        f"{f.stem}.{name}"
        for f in sorted(PACKAGE.glob("*.py"))
        for name in _defined(ast.parse(f.read_text())) - refs
    }
    assert orphans - ALLOWED == set(), "top-level names only tests use"
    assert ALLOWED <= orphans, "allowlisted names now have callers"


# defaulted parameters that production never sets but a test must
DEFAULT_ALLOWED = {
    # test_aggregate_assembly needs a small chunk to reach the multi-chunk merge
    "aggregate.assemble_conversations_chunked.chunk",
    # bench.py passes 2.0 through _pool_map, which the call scan cannot see
    "bench_kernel.cpu_probe_rate.seconds",
}


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) of each parameter
    that carries a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _sets(call: ast.Call, name: str, index: int | None) -> bool:
    """Whether ``call`` passes the parameter, by keyword or by position (a
    ``*args``/``**kwargs`` splat counts as passing every parameter it could)."""
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    if index is None:
        return False
    return len(call.args) > index or any(isinstance(x, ast.Starred) for x in call.args)


def test_defaulted_parameters_have_production_values():
    calls: dict[str, list[ast.Call]] = {}
    for f in PRODUCTION:
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Call):
                fn = node.func
                callee = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                calls.setdefault(callee, []).append(node)
    unset = {
        f"{f.stem}.{fn.name}.{name}"
        for f in sorted(PACKAGE.glob("*.py"))
        for fn in ast.parse(f.read_text()).body
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for name, index in _defaulted(fn)
        if not any(_sets(c, name, index) for c in calls.get(fn.name, []))
    }
    assert unset - DEFAULT_ALLOWED == set(), "defaults no production call overrides"
    assert DEFAULT_ALLOWED <= unset, "allowlisted defaults now have production values"
