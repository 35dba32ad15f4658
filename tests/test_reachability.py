"""Every top-level def and module-level constant in the package is
reachable from an entry point.

A static guard (stdlib ``ast`` only, no Spark): code that only tests
reach has to be kept green through every refactor without serving a
query, a job or a benchmark, so it is deleted instead; a constant that
only tests read moves into those tests.

The closure is over bare names. It starts from

* the entry points: ``__spark_entry__.py``, ``bench*.py``,
  ``scripts/``, ``tools/`` and ``perfbench/`` (its ``test_*.py``
  excluded);
* every package module's module-level statements other than defs and
  plain assignments to names (imports, dunder assignments, blocks);
* the public defs of ``api.py`` and ``pipeline.py``;

and adds, for every reached name that is a top-level package def or
module-level constant, the names its body (or right-hand side) uses. A
name is an ``ast.Name`` id, an ``ast.Attribute`` attribute, an import
alias, or a string constant given as the name argument of
``getattr``, ``hasattr`` or ``setattr``. Other string constants are
data, not references: a row value that happens to spell a def's name
does not keep that def. Names are not qualified by module, so two
definitions that share a name are reached together; the guard errs
towards keeping code.

The keep list holds reference implementations that live tests compare
against. The deferred list holds test-only code whose removal waits
for a later change, so that one change does not drop too many tests at
once; it may only shrink. Both lists seed the closure too, so the
helpers they call stay; each name must still be used by some test.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "spanmarkerner_spark"

KEEP = {
    "collate_full",
    "spans_to_iob2",
    "precision_recall",
    "read_metrics",
    "gen_ner_fixture",
    "brute_force_topk",
}

DEFERRED = {
    # functions/rdf.py
    "to_ntriples",
    "ntriples_lines",
    "nquads_lines",
    # plans/layout.py
    "zorder_values",
    "zorder_write",
    "file_column_bounds",
    "pruned_fraction",
    # plans/graph_store.py, plans/bucketing.py
    "write_graph_store",
    "two_hop",
    "k_hop",
    "cobucketed_join",
    "bucket_table_path",
    # operators/skew.py
    "salted_join",
    "skew_split_join",
    "top_keys",
    # operators/metrics.py, operators/model_card.py
    "dataset_statistics",
    "widget_examples",
    "entity_tracker_histogram",
    "entity_tracker_report",
    "render_model_card",
    # spacy_integration.py
    "doc_entities",
    "SpacySpanMarkerWrapper",
    # one-function leftovers
    "approx_quantiles",
    "hash_sample",
    "real_decode",
}


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


_ATTR_BUILTINS = {"getattr", "hasattr", "setattr"}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id in _ATTR_BUILTINS
            and len(n.args) >= 2
            and isinstance(n.args[1], ast.Constant)
            and isinstance(n.args[1].value, str)
        ):
            out.add(n.args[1].value)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a module-level statement defines and the guard tracks:
    a def's name, or the plain-name targets of an assignment (dunders
    such as ``__all__`` excluded: those are seeds)."""
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return []
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    if any(n.startswith("__") and n.endswith("__") for n in names):
        return []
    return names


def _entry_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", *sorted(ROOT.glob("bench*.py"))]
    for d in ("scripts", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    files += [
        p for p in sorted((ROOT / "perfbench").rglob("*.py"))
        if not p.name.startswith("test_")
    ]
    return files


def unreached_defs() -> list[str]:
    """``module:name`` for each top-level package def and module-level
    constant outside the closure."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = KEEP | DEFERRED
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        tree = _parse(path)
        for stmt in tree.body:
            defined = _defined(stmt)
            for name in defined:
                defs.setdefault(name, []).append((rel, stmt))
            if not defined:
                seeds |= _names(stmt)
            elif (
                isinstance(stmt, _DEFS)
                and path.name in ("api.py", "pipeline.py")
                and not stmt.name.startswith("_")
            ):
                seeds.add(stmt.name)
    for path in _entry_files():
        seeds |= _names(_parse(path))

    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_names(node) - reached)

    return sorted(
        f"{rel}:{name}"
        for name, sites in defs.items()
        if name not in reached
        for rel, _ in sites
    )


def test_every_package_def_is_reachable_from_an_entry_point():
    dead = unreached_defs()
    assert not dead, (
        f"{len(dead)} top-level defs or constants are reached only by "
        "tests or by nothing; delete them (or their last caller's test), "
        "or move a constant only tests read into those tests:\n  "
        + "\n  ".join(dead)
    )


def test_keep_list_is_still_used_by_tests():
    used: set[str] = set()
    for path in sorted((ROOT / "tests").glob("*.py")):
        if path.name != Path(__file__).name:
            used |= _names(_parse(path))
    kept = KEEP | DEFERRED
    assert kept <= used, f"keep-list names no test uses: {sorted(kept - used)}"
