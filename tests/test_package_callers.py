"""Every top-level def in the package has a caller outside `tests/`.

A def is called when some non-test source file names it outside the def's own
body: as a Name, an attribute, an import alias or an identifier string (a
registry key, a `getattr` argument). Names used only inside other uncalled defs
do not count, so the scan repeats until nothing more drops out. Comments are
not in the AST, so a comment that mentions a def does not keep it alive.

The scan reads source with `ast` only; it needs no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "unravelsports_spark"
# Every non-test caller of the package: the package itself, the examples, the
# benchmark, the tools and the two entry scripts.
CALLER_ROOTS = ("unravelsports_spark", "examples", "perfbench", "tools",
                "bench.py", "__spark_entry__.py")

ALLOWED = {
    # The paper's public API (ROADMAP direction 7): kept for users of the
    # reference library even where only tests call it.
    "load_kloppy", "load_kloppy_wide", "collate_disjoint", "segment_mean_pool",
    "normalize_speed", "normalize_acceleration", "Pad",
    # Dormant geometry utilities of the reference (SURVEY K15).
    "ray_line_intersections", "rotate_vectors", "rotate_around_line",
    # The media sink's public surface (SURVEY S5/J8).
    "to_graph_png", "to_graph_mp4", "to_video", "nearest_frame",
    # Test hook: clears the per-process table cache between tests.
    "read_table_cache_clear",
}


def _source_files():
    for root in CALLER_ROOTS:
        path = ROOT / root
        yield from (sorted(path.rglob("*.py")) if path.is_dir() else [path])


def _names(node):
    """Every identifier `node` names: Names, attributes, import aliases and
    identifier-shaped string constants."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.update(sub.name.split("."))
            if sub.asname:
                out.add(sub.asname)
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str) \
                and sub.value.isidentifier():
            out.add(sub.value)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def uncalled_defs():
    """`[(module path, def name, lines)]` of the package's top-level defs
    with no caller, after dropping references from uncalled defs."""
    defs = []        # (path, name, lines, names its body uses)
    always = set()   # names used by module-level code of any caller file
    for path in _source_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        in_package = PACKAGE in path.parents
        for stmt in tree.body:
            if in_package and isinstance(stmt, _DEFS):
                start = min([stmt.lineno] + [d.lineno for d in stmt.decorator_list])
                # A decorator runs at import time (`@query(...)` registers
                # the def), so it is a caller outside the def's body.
                for deco in stmt.decorator_list:
                    always |= _names(deco)
                body = set().union(*(_names(s) for s in ast.iter_child_nodes(stmt)
                                     if s not in stmt.decorator_list))
                defs.append((path.relative_to(ROOT).as_posix(), stmt.name,
                             stmt.end_lineno - start + 1, body))
            else:
                always |= _names(stmt)
    live = list(range(len(defs)))
    while True:
        used = set(always)
        for i in live:
            used |= defs[i][3] - {defs[i][1]}
        kept = [i for i in live if defs[i][1] in used or defs[i][1] in ALLOWED]
        if kept == live:
            break
        live = kept
    dead = sorted(set(range(len(defs))) - set(live))
    return [defs[i][:3] for i in dead]


def test_every_package_def_has_a_caller():
    dead = uncalled_defs()
    assert not dead, (
        f"{len(dead)} package defs ({sum(n for _, _, n in dead)} lines) have no "
        "caller outside tests/; give each a caller the system needs or delete "
        "it:\n" + "\n".join(f"  {path}:{name} ({n} lines)" for path, name, n in dead))


def test_allow_list_names_existing_defs():
    names = set()
    for path in PACKAGE.rglob("*.py"):
        names |= {s.name for s in ast.parse(path.read_text()).body if isinstance(s, _DEFS)}
    assert ALLOWED <= names, sorted(ALLOWED - names)
