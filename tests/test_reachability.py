"""Every top-level def in the package is reachable from an entry point.

A static guard (stdlib ``ast`` only, no Spark): code that only tests
reach has to be kept green through every refactor without serving a
query, a job or a benchmark, so it is deleted instead.

The closure is over bare names. It starts from

* the entry points: ``__spark_entry__.py``, ``bench*.py``,
  ``scripts/``, ``tools/`` and ``perfbench/`` (its ``test_*.py``
  excluded);
* every package module's module-level statements (defs excluded);
* the public defs of ``api.py`` and ``pipeline.py``;

and adds, for every reached name that is a top-level package def, the
names its body uses. A name is an ``ast.Name`` id, an
``ast.Attribute`` attribute, an import alias, or a string constant
that is an identifier (``getattr``-style dispatch, registries).
Names are not qualified by module, so two defs that share a name are
reached together; the guard errs towards keeping code.

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
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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
    """``module:name`` for each top-level package def outside the closure."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = KEEP | DEFERRED
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        tree = _parse(path)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((rel, stmt))
                if path.name in ("api.py", "pipeline.py") and not stmt.name.startswith("_"):
                    seeds.add(stmt.name)
            else:
                seeds |= _names(stmt)
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
        f"{len(dead)} top-level defs are reached only by tests or by "
        "nothing; delete them (or their last caller's test):\n  "
        + "\n  ".join(dead)
    )


def test_keep_list_is_still_used_by_tests():
    used: set[str] = set()
    for path in sorted((ROOT / "tests").glob("*.py")):
        if path.name != Path(__file__).name:
            used |= _names(_parse(path))
    kept = KEEP | DEFERRED
    assert kept <= used, f"keep-list names no test uses: {sorted(kept - used)}"
