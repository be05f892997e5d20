"""Every top-level function, class and constant in ``log_server_spark`` is
used by the package itself (or by ``__spark_entry__.py``): one
implementation per concept, and no code that only tests call. A name that
is public API exercised only by tests, or a scalar reference tests compare
against, must be argued for here with its reason.

Uses are matched by spelling (a same-named attribute anywhere counts), so
this finds names nothing mentions; it does not prove reachability. An
import the importing module never uses is not a use."""

import ast
import contextlib
import pathlib
import types

import log_server_spark

ROOT = pathlib.Path(log_server_spark.__file__).parent

# name -> why it stays although nothing in the package references it
ALLOWED_UNREFERENCED = {
    "__version__": "package version string, read by tooling",
    "murmur3_32": "scalar murmur3 reference the hash and parse tests compare against",
    "write_saved": "writer for the .saved format the pipeline reads (fixtures, migration)",
    "asof_enrich_intervals": "interval-table variant of the as-of join, public API",
    "hash_sample": "single-fraction form of hash_stratified_sample, public API",
    "refresh_aggregates": (
        "public rollup API, read on demand; perfbench's traced runs wrap it by name"
    ),
}


def _defined(tree: ast.Module) -> dict[str, ast.AST]:
    out: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    out[t.id] = node
    return out


def _used(tree: ast.Module, skip: ast.AST | None = None) -> set[str]:
    """Names loaded (as a bare name or an attribute) anywhere in ``tree``
    outside the ``skip`` subtree."""
    out: set[str] = set()
    stack: list[ast.AST] = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            out.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            out.add(node.attr)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _imported_and_used(tree: ast.Module, used: set[str], reexport: bool) -> set[str]:
    """Names this module imports by name and then uses (or re-exports, for a
    package ``__init__``); an unused import is not a use."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                if reexport or (a.asname or a.name) in used:
                    out.add(a.name)
    return out


def test_every_top_level_name_is_used():
    pkg = sorted(ROOT.rglob("*.py"))
    files = [*pkg, ROOT.parent / "__spark_entry__.py"]
    trees = {f: ast.parse(f.read_text(), filename=str(f)) for f in files}
    used_in = {f: _used(t) for f, t in trees.items()}
    imported = set().union(
        *(_imported_and_used(t, used_in[f], f.name == "__init__.py") for f, t in trees.items())
    )
    unreferenced = {}
    for f in pkg:
        for name, node in _defined(trees[f]).items():
            elsewhere = any(name in u for g, u in used_in.items() if g != f)
            if not (elsewhere or name in imported or name in _used(trees[f], skip=node)):
                unreferenced[name] = str(f.relative_to(ROOT.parent))
    unexplained = sorted(f"{p}:{n}" for n, p in unreferenced.items() if n not in ALLOWED_UNREFERENCED)
    assert unexplained == []
    # a stale entry (renamed, deleted, or now used) leaves the allowlist
    assert sorted(set(ALLOWED_UNREFERENCED) - set(unreferenced)) == []


def test_traced_benchmark_wraps_the_pipeline_by_name(monkeypatch):
    """``perfbench``'s traced runs look up ``run_batch`` and
    ``refresh_aggregates`` on the pipeline module by name and wrap each in
    a span; a rename must fail here, not only in a traced run."""
    from perfbench.workloads import _trace_pipeline

    from log_server_spark.plans import pipeline

    # stubs stand in for the entry points (setattr raises on a missing
    # name) and are restored, with the wrappers, when the test ends
    monkeypatch.setattr(pipeline, "run_batch", lambda *a, **k: ("batch", a, k))
    monkeypatch.setattr(pipeline, "refresh_aggregates", lambda *a, **k: ("rollup", a, k))
    spans = []

    @contextlib.contextmanager
    def span(name, op):
        spans.append((name, op))
        yield

    run = types.SimpleNamespace(tr=types.SimpleNamespace(span=span), current_op=None)
    _trace_pipeline(run, pipeline)
    assert run.current_op == -1
    assert pipeline.run_batch(1, salt=2) == ("batch", (1,), {"salt": 2})
    assert pipeline.refresh_aggregates(3) == ("rollup", (3,), {})
    assert spans == [("pipeline.batch", -1), ("pipeline.refresh", -1)]
