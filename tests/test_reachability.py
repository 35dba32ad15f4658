"""Every package module is imported from an entry point, and every
top-level def and module-level constant in it is reachable from one.

A static guard (stdlib ``ast`` only, no Spark): code that only tests
reach has to be kept green through every refactor without serving a
query, a job or a benchmark, so it is deleted instead; a constant that
only tests read moves into those tests.

The guard works in two closures. The module closure starts from the
entry points: ``__spark_entry__.py``, ``bench*.py``, ``scripts/``,
``tools/`` and ``perfbench/`` (its ``test_*.py`` excluded), plus the
public ``api.py`` and ``pipeline.py``. It adds every package module a
reached file imports, anywhere in the file, with its parent packages.
A package module outside it fails the guard, however little it holds.

The name closure is over bare names. It starts from

* the names the entry points use;
* the module-level statements of reached modules other than defs and
  plain assignments to names (imports, dunder assignments, blocks);
* the public defs of ``api.py`` and ``pipeline.py``;

and adds, for every reached name that is a top-level def or
module-level constant of a reached module, the names its body (or
right-hand side) uses. A name is an ``ast.Name`` id, an
``ast.Attribute`` attribute, an import alias, or a string constant
given as the name argument of ``getattr``, ``hasattr`` or ``setattr``.
Other string constants are data, not references: a row value that
happens to spell a def's name does not keep that def. Names are not
qualified by module, so two definitions that share a name are reached
together; the guard errs towards keeping code.

The keep list holds reference implementations that live tests compare
against. It seeds the name closure too, so the helpers it calls stay;
each name on it must still be used by some test.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG_NAME = "spanmarkerner_spark"
PUBLIC = {f"{PKG_NAME}.api", f"{PKG_NAME}.pipeline"}

KEEP = {
    "collate_full",
    "spans_to_iob2",
    "precision_recall",
    "read_metrics",
    "gen_ner_fixture",
    "brute_force_topk",
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


def _entry_files(root: Path) -> list[Path]:
    files = [root / "__spark_entry__.py", *sorted(root.glob("bench*.py"))]
    for d in ("scripts", "tools"):
        files += sorted((root / d).rglob("*.py"))
    files += [
        p for p in sorted((root / "perfbench").rglob("*.py"))
        if not p.name.startswith("test_")
    ]
    return [p for p in files if p.exists()]


def _package_modules(root: Path) -> dict[str, Path]:
    """Dotted module name -> file, for every module of the package."""
    modules = {}
    for path in sorted((root / PKG_NAME).rglob("*.py")):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path
    return modules


def _imported(path: Path, module: str | None, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports (``module`` is its dotted name,
    None for an entry file), with their parent packages."""
    package = []
    if module is not None:
        package = module.split(".")
        if path.name != "__init__.py":
            package = package[:-1]
    out = set()
    for n in ast.walk(_parse(path)):
        if isinstance(n, ast.Import):
            targets = [a.name for a in n.names]
        elif isinstance(n, ast.ImportFrom):
            base = package[: len(package) - n.level + 1] if n.level else []
            base = ".".join(base + ([n.module] if n.module else []))
            targets = [base] + [f"{base}.{a.name}" for a in n.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            out.update(
                m for m in (".".join(parts[:i]) for i in range(1, len(parts) + 1))
                if m in modules
            )
    return out


def _reached_modules(root: Path, modules: dict[str, Path]) -> set[str]:
    todo = [(p, None) for p in _entry_files(root)]
    todo += [(modules[m], m) for m in PUBLIC if m in modules]
    reached = {m for _, m in todo if m is not None}
    while todo:
        path, module = todo.pop()
        for m in _imported(path, module, modules) - reached:
            reached.add(m)
            todo.append((modules[m], m))
    return reached


def unreached_modules(root: Path = ROOT) -> list[str]:
    """Package files outside the import closure of the entry points."""
    modules = _package_modules(root)
    reached = _reached_modules(root, modules)
    return sorted(
        path.relative_to(root).as_posix()
        for m, path in modules.items()
        if m not in reached
    )


def unreached_defs(root: Path = ROOT) -> list[str]:
    """``module:name`` for each top-level def and module-level constant
    of a reached package module that lies outside the name closure."""
    modules = _package_modules(root)
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = set(KEEP)
    for m in sorted(_reached_modules(root, modules)):
        path = modules[m]
        rel = path.relative_to(root).as_posix()
        for stmt in _parse(path).body:
            defined = _defined(stmt)
            for name in defined:
                defs.setdefault(name, []).append((rel, stmt))
            if not defined:
                seeds |= _names(stmt)
            elif (
                isinstance(stmt, _DEFS)
                and m in PUBLIC
                and not stmt.name.startswith("_")
            ):
                seeds.add(stmt.name)
    for path in _entry_files(root):
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


def test_every_package_module_is_imported_from_an_entry_point():
    dead = unreached_modules()
    assert not dead, (
        f"{len(dead)} package modules are imported only by tests or by "
        "nothing; delete them:\n  " + "\n  ".join(dead)
    )


def test_guard_flags_a_module_nothing_imports(tmp_path):
    """A module holding only imports still fails the module closure,
    although its import keeps the imported def reached."""
    pkg = tmp_path / PKG_NAME
    (pkg / "sub").mkdir(parents=True)
    files = {
        "__init__.py": "",
        "api.py": "from .sub import used\n",
        "sub/__init__.py": "",
        "sub/used.py": "def f():\n    pass\n",
        "sub/orphan.py": "from .used import f\n",
        "stray.py": '"""Docstring only."""\n',
    }
    for rel, text in files.items():
        (pkg / rel).write_text(text, encoding="utf-8")
    (tmp_path / "bench.py").write_text(
        f"from {PKG_NAME} import api\n", encoding="utf-8"
    )
    assert unreached_modules(tmp_path) == [
        f"{PKG_NAME}/stray.py",
        f"{PKG_NAME}/sub/orphan.py",
    ]
    assert unreached_defs(tmp_path) == [f"{PKG_NAME}/sub/used.py:f"]


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
    assert KEEP <= used, f"keep-list names no test uses: {sorted(KEEP - used)}"
