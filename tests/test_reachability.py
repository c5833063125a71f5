"""Import reachability over enrich_spark/: every module must be reached,
through imports, from an entry point, from a short pinned list of enrich
APIs that callers construct directly, or from the oracle query registry
(__spark_entry__.py). A module nothing reaches serves no workload and is
deleted rather than kept; adding a root is a reviewed edit to ROOTS.

The modules that ONLY the registry reaches are pinned exactly in
REGISTRY_ONLY: no workload runs them, so the list may shrink (a module
cut together with its registry rows) but never silently grow.

Also pins the layering: outside datapipe/ itself, only the CLI's
``curate`` subcommand (enrich_spark/__main__.py) imports datapipe code,
so the enrich path never grows a dependency on the curation ops.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "enrich_spark"
REGISTRY = REPO / "__spark_entry__.py"

ROOTS = (
    # entry points
    "enrich_spark.__main__",
    "enrich_spark.appconfig",
    "enrich_spark.streaming.runner",
    "enrich_spark.streaming.pull_runner",
    "enrich_spark.plans.pipeline",
    "enrich_spark.datapipe.pipeline",
    # enrich APIs callers construct directly
    "enrich_spark.sources.assets",       # the runner's cfg.assets
    "enrich_spark.sources.nsq",
    "enrich_spark.operators.clients",
    "enrich_spark.operators.yauaa_rules",
)

# reached from the oracle registry and from no root above
REGISTRY_ONLY = {
    "enrich_spark.datapipe.datacard",
    "enrich_spark.datapipe.graph",
    "enrich_spark.datapipe.pca",
    "enrich_spark.datapipe.pq",
    "enrich_spark.datapipe.regress",
    "enrich_spark.datapipe.session",
    "enrich_spark.datapipe.similarity",
    "enrich_spark.datapipe.sketches",
    "enrich_spark.datapipe.unigram",
    "enrich_spark.datapipe.webtext",
    "enrich_spark.plans.asof",
    "enrich_spark.plans.bucketing",
    "enrich_spark.plans.merge",
    "enrich_spark.sources.warc",
}


def _modules() -> dict[str, Path]:
    out = {}
    for path in PKG.rglob("*.py"):
        parts = path.relative_to(PKG.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imports(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """Modules of the package that ``name`` imports, at any depth of
    its source (function-local imports included)."""
    is_pkg = path.name == "__init__.py"
    base = name.split(".") if is_pkg else name.split(".")[:-1]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = base[:len(base) - node.level + 1]
                mod = ".".join(anchor + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            # importing a.b.c also runs a and a.b
            parts = t.split(".")
            for i in range(1, len(parts) + 1):
                cand = ".".join(parts[:i])
                if cand in modules:
                    found.add(cand)
    return found


def _graph() -> tuple[dict[str, Path], dict[str, set[str]]]:
    modules = _modules()
    return modules, {m: _imports(m, p, modules) for m, p in modules.items()}


def _reach(modules, edges, roots) -> set[str]:
    reached = set()
    todo = list(roots)
    while todo:
        m = todo.pop()
        if m in reached:
            continue
        reached.add(m)
        todo.extend(edges[m])
    # a package __init__ counts as reached when any submodule is
    for m in list(reached):
        parts = m.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts)))
    return reached


def test_every_module_is_reached_from_a_root():
    modules, edges = _graph()
    assert set(ROOTS) <= set(modules), set(ROOTS) - set(modules)
    registry = _imports("__spark_entry__", REGISTRY, modules)
    unreached = sorted(
        set(modules) - _reach(modules, edges, [*ROOTS, *registry]))
    lines = sum(len(modules[m].read_text().splitlines()) for m in unreached)
    assert not unreached, (
        f"{len(unreached)} modules ({lines} lines) are reached from no "
        f"root: {unreached}")


def test_registry_only_modules_are_pinned():
    modules, edges = _graph()
    registry = _imports("__spark_entry__", REGISTRY, modules)
    by_roots = _reach(modules, edges, ROOTS)
    only = _reach(modules, edges, registry) - by_roots
    assert only == REGISTRY_ONLY, (
        f"new registry-only modules: {sorted(only - REGISTRY_ONLY)}; "
        f"now reached from a root or gone (unpin them): "
        f"{sorted(REGISTRY_ONLY - only)}")


def test_only_the_curate_cli_imports_datapipe():
    modules, edges = _graph()
    offenders = sorted(
        m for m, deps in edges.items()
        if not m.startswith("enrich_spark.datapipe")
        and m != "enrich_spark.__main__"
        and any(d.startswith("enrich_spark.datapipe") for d in deps))
    assert not offenders, f"datapipe imported from outside it: {offenders}"
