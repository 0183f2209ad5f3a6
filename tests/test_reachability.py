"""Every top-level engine symbol is reached from a root of the engine.

The engine is the registered query surface plus the medallion pipeline.
This guard walks ``ast`` references from those roots to a fixpoint and
fails on any top-level function, class or constant under
``diabetes_etl_spark/`` that nothing reaches (tests do not count as
roots).  It parses files only: no Spark session, no engine import.

Roots:
- every function decorated with ``@register(...)``, and every
  module-level statement that is not a definition or an import (the
  loop-registered diabetes views run at import time);
- the pipeline builders in ``PIPELINE_BUILDERS``;
- every name used in ``__spark_entry__.py``, ``bench.py``, ``tools/``
  and ``perfbench/``;
- the ``KEEP`` symbols below.

A reference is a ``Name``, an ``Attribute``, an import alias, or a
string constant that is a (dotted) identifier, so ``getattr(mod,
"name")`` and registry strings count.  References resolve by name alone:
a name reaches every top-level symbol of that name in any engine module.
That over-reaches (a local variable can keep a symbol alive), so the
guard errs toward keeping code rather than flagging live code.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ENGINE = REPO / "diabetes_etl_spark"

ROOT_FILES = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "tools").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]

PIPELINE_BUILDERS = {
    "diabetes/pipeline_def.py:build_diabetes_pipeline",
    "plans/medallion_demo.py:build_events_pipeline",
}

# Symbols kept although only tests reach them.  A key is
# ``<path under diabetes_etl_spark/>:<symbol>``, or the path alone for a
# whole module.
KEEP = {
    "streaming/watcher.py": (
        "the reference's file-arrival trigger surface; to be wired into "
        "the pipeline runner (ROADMAP item 2)"
    ),
    "sources/maintenance.py": (
        "the reference's table-maintenance surface (OPTIMIZE/VACUUM "
        "equivalents); to be wired in with the trigger surface"
    ),
    "diabetes/dashboard.py:run_dashboard_queries": (
        "the reference's dashboard runner over DASHBOARD_SQL"
    ),
    "plans/registry.py:GATE_CAPACITY": (
        "documents the driver's gate size the registry order is built for"
    ),
    **{
        f"streaming/aggmaint.py:{name}": (
            "mergeable partial-aggregate state (sum/count, retractions, "
            "min/max) for refreshing gold tables incrementally "
            "(ROADMAP item 8 step 3)"
        )
        for name in (
            "partial_aggs",
            "merge_partial_aggs",
            "merge_cdc_partial_aggs",
            "maintain_minmax_state",
        )
    },
}


def _refs(nodes) -> set[str]:
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.update(node.name.split("."))
                if node.asname:
                    out.add(node.asname)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                parts = node.value.split(".")
                if all(p.isidentifier() for p in parts):
                    out.update(parts)
    return out


def _is_register(dec: ast.expr) -> bool:
    call = dec.func if isinstance(dec, ast.Call) else dec
    name = call.attr if isinstance(call, ast.Attribute) else getattr(call, "id", "")
    return name == "register"


def _top_level(body):
    """Yield (kind, name, node) for a module body, looking into if/try."""
    for stmt in body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield "def", stmt.name, stmt
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if names and not any(n.startswith("__") for n in names):
                for n in names:
                    yield "def", n, stmt
            elif not names:
                yield "root", None, stmt
        elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        elif isinstance(stmt, ast.If):
            yield "root", None, stmt.test
            yield from _top_level(stmt.body + stmt.orelse)
        elif isinstance(stmt, ast.Try):
            blocks = stmt.body + stmt.orelse + stmt.finalbody
            for h in stmt.handlers:
                blocks += h.body
            yield from _top_level(blocks)
        elif isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
            continue  # docstring
        else:
            yield "root", None, stmt


def unreached() -> list[str]:
    """Return ``path:symbol`` for every engine symbol no root reaches."""
    symbols: dict[str, ast.AST] = {}  # "path:name" -> node
    by_name: dict[str, list[str]] = {}
    reached: set[str] = set()
    frontier: set[str] = set()
    for f in ROOT_FILES:
        frontier |= _refs([ast.parse(f.read_text(), str(f))])
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        for kind, name, node in _top_level(tree.body):
            if kind == "root":
                frontier |= _refs([node])
                continue
            key = f"{rel}:{name}"
            symbols[key] = node
            by_name.setdefault(name, []).append(key)
            decorators = getattr(node, "decorator_list", [])
            if (any(_is_register(d) for d in decorators)
                    or key in PIPELINE_BUILDERS or key in KEEP or rel in KEEP):
                reached.add(key)
                frontier |= _refs([node])
    seen_names: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen_names:
            continue
        seen_names.add(name)
        for key in by_name.get(name, ()):
            if key not in reached:
                reached.add(key)
                frontier |= _refs([symbols[key]]) - seen_names
    return sorted(set(symbols) - reached)


def test_keep_entries_exist():
    missing = []
    for key in KEEP:
        rel, _, name = key.partition(":")
        path = ENGINE / rel
        if not path.is_file() or (name and name not in {
            n for _, n, _ in _top_level(ast.parse(path.read_text()).body)
        }):
            missing.append(key)
    assert not missing, f"KEEP names what does not exist: {missing}"


def test_every_engine_symbol_is_reached():
    dead = unreached()
    assert not dead, (
        f"{len(dead)} top-level engine symbols are reached by no registered "
        "query, pipeline builder, bench.py, tools/ or perfbench/ (delete "
        "them with their tests, or name them in KEEP with a reason):\n  "
        + "\n  ".join(dead)
    )
