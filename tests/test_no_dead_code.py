"""Dead-code guard: every top-level def in ``spel_spark/`` is reachable from a
production caller, or is on ``ALLOWLIST`` with a reason.

Spark-free AST scan.  Production callers are the package itself (including
``cli.py``), ``__spark_entry__.py``, ``bench.py``, ``bench_extra.py``,
``tools_checksum.py`` and ``perfbench/``; tests are not callers.  A def is
live when its name is referenced (name, attribute or ``from ... import``)
by production code outside any package def, or by the body of a live def.
Matching is by bare name, so a collision can only hide dead code, never
flag live code.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spel_spark"
PRODUCTION_DIRS = (PACKAGE, "perfbench")
PRODUCTION_FILES = (
    "__spark_entry__.py", "bench.py", "bench_extra.py", "tools_checksum.py",
)

# test-only defs kept on purpose: name -> reason
ALLOWLIST = {
    "punct_tokenize_py": "Python twin the Spark tokenizer is tested against",
    "moses_detokenize_py": "Python twin the Spark detokenizer is tested against",
    "resolve_word_py": "Python twin the Spark word resolver is tested against",
    "extract_mentions_arrow": "Arrow UDF reference for the builtin mention extractor",
    "count_arrow_eval_nodes": "plan-assertion helper for the plan tests",
    "assert_no_row_python": "plan-assertion helper for the plan tests",
    "scan_summary": "plan-assertion helper for the plan tests",
    "to_nif_turtle": "NIF sink, round-trip tested against the NIF reader",
    "collect_turtle": "NIF sink, round-trip tested against the NIF reader",
    "span_overlap_join": "span-overlap operator tested against its Python oracle",
    "span_metric_counts": "span-metric operator tested against its Python oracle",
    "unicode_unescape_udf": "NIF literal unescape, tested with the NIF sink",
    "start_mention_ingest": "streaming ingest that pins streaming_mentions to batch",
}


def _production_paths() -> list[str]:
    paths = [os.path.join(ROOT, f) for f in PRODUCTION_FILES]
    for sub in PRODUCTION_DIRS:
        for d, _dirs, files in os.walk(os.path.join(ROOT, sub)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return [p for p in paths if os.path.exists(p)]


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _scan() -> tuple[dict[str, list[str]], dict[str, set[str]], set[str]]:
    """(def name -> defining files, def name -> names its bodies reference,
    names referenced by production code outside package defs)."""
    where: dict[str, list[str]] = {}
    uses: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in _production_paths():
        rel = os.path.relpath(path, ROOT)
        in_package = rel.startswith(PACKAGE + os.sep)
        with open(path) as f:
            tree = ast.parse(f.read(), filename=rel)
        for node in tree.body:
            if in_package and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                where.setdefault(node.name, []).append(rel)
                uses.setdefault(node.name, set()).update(_names(node) - {node.name})
            else:
                roots |= _names(node)
    return where, uses, roots


def _live(uses: dict[str, set[str]], roots: set[str]) -> set[str]:
    live: set[str] = set()
    frontier = set(roots)
    while frontier:
        new = {n for n in frontier if n in uses and n not in live}
        live |= new
        frontier = set().union(*(uses[n] for n in new))
    return live


def test_every_package_def_has_a_production_caller():
    where, uses, roots = _scan()
    live = _live(uses, roots | set(ALLOWLIST))
    dead = {name: where[name] for name in sorted(set(where) - live)}
    assert not dead, (
        "top-level defs with no production caller (delete them, or add them "
        f"to ALLOWLIST with a reason): {dead}"
    )


def test_allowlist_is_current():
    """Every allowlisted name still exists and is still test-only."""
    where, uses, roots = _scan()
    live = _live(uses, roots)
    assert not set(ALLOWLIST) - set(where), "allowlisted names no longer defined"
    assert not set(ALLOWLIST) & live, "allowlisted names now have production callers"
