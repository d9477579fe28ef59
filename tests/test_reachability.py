"""Static reachability of the package (``ast`` only, no Spark session).

(a) Every name ``perfbench/worker.py`` takes from ``covertree_spark``
resolves, and every keyword it passes to a package function is a
parameter of that function, so a deletion here cannot silently break
the benchmark.
(b) Every module under ``covertree_spark/`` is imported, directly or
transitively, by one of the system's entry points, so unreached code
cannot grow back.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "covertree_spark"
ROOTS = (
    "covertree_spark/cli.py",
    "perfbench/worker.py",
    "covertree_spark/core/invariants.py",
    "__spark_entry__.py",
)


def _path_of(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(p):
            return p
    return None


def _module_of(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _tree(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _absolute(node: ast.ImportFrom, path: str) -> str:
    """The absolute module an ``ImportFrom`` reads from."""
    if not node.level:
        return node.module
    mod = _module_of(path)
    pkg = mod.split(".") if path.endswith("__init__.py") else mod.split(".")[:-1]
    pkg = pkg[: len(pkg) - (node.level - 1)]
    return ".".join(pkg + ([node.module] if node.module else []))


def _imported_modules(path: str) -> set[str]:
    """Package modules ``path`` imports, with every parent package."""
    names = set()
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = _absolute(node, path)
            names |= {base} | {f"{base}.{a.name}" for a in node.names}
    out = set()
    for name in names:
        parts = name.split(".")
        if parts[0] != PKG:
            continue
        for i in range(1, len(parts) + 1):
            if _path_of(".".join(parts[:i])):
                out.add(".".join(parts[:i]))
    return out


def _defined_names(module: str) -> set[str]:
    """Top-level names of a package module, plus its submodules."""
    path = _path_of(module)
    names = set()
    for node in _tree(path).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    if path.endswith("__init__.py"):
        pkg_dir = os.path.dirname(path)
        for entry in os.listdir(pkg_dir):
            if _path_of(f"{module}.{entry.removesuffix('.py')}"):
                names.add(entry.removesuffix(".py"))
    return names


def test_perfbench_names_resolve():
    tree = _tree(os.path.join(REPO, "perfbench", "worker.py"))
    aliases: dict[str, set[str]] = {}  # local name -> package modules
    taken = []  # (candidate modules, name, line)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                taken.append(({node.module}, a.name, node.lineno))
                if _path_of(f"{node.module}.{a.name}"):
                    aliases.setdefault(a.asname or a.name, set()).add(
                        f"{node.module}.{a.name}")
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in aliases):
            taken.append((aliases[node.value.id], node.attr, node.lineno))
    assert any(name == "_align" for _m, name, _l in taken), "worker.py scan found no Q._align"
    missing = [
        f"worker.py:{line} {'|'.join(sorted(mods))}.{name}"
        for mods, name, line in taken
        if not any(_path_of(m) and name in _defined_names(m) for m in mods)
    ]
    assert not missing, missing


def _find_def(module: str, name: str):
    """The ``def`` (a class resolves to its ``__init__``) that ``name``
    denotes in a package module, following re-export imports."""
    path = _path_of(module)
    for node in _tree(path).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == name:
            return node
        if isinstance(node, ast.ClassDef) and node.name == name:
            return next(
                (n for n in node.body
                 if isinstance(n, ast.FunctionDef) and n.name == "__init__"),
                None,
            )
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                if (a.asname or a.name) == name:
                    return _find_def(_absolute(node, path), a.name)
    return None


def test_perfbench_keywords_are_parameters():
    tree = _tree(os.path.join(REPO, "perfbench", "worker.py"))
    funcs: dict[str, tuple[str, str]] = {}  # local name -> (module, name)
    modules: dict[str, str] = {}  # local alias -> package module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if _path_of(full):
                    modules[a.asname or a.name] = full
                else:
                    funcs[a.asname or a.name] = (node.module, a.name)
    checked, bad = set(), []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in funcs:
            target = funcs[f.id]
        elif (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
              and f.value.id in modules):
            target = (modules[f.value.id], f.attr)
        else:
            continue
        fdef = _find_def(*target)
        assert fdef is not None, f"worker.py:{node.lineno} {target} has no def"
        a = fdef.args
        params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        for kw in node.keywords:
            if kw.arg is None or a.kwarg is not None:
                continue
            checked.add((target[1], kw.arg))
            if kw.arg not in params:
                bad.append(f"worker.py:{node.lineno} {target[1]}({kw.arg}=)")
    assert {("build_trees", "strategy"), ("knn_over_index", "n_queries"),
            ("cell_stats", "fine_col")} <= checked, "worker.py scan missed calls"
    assert not bad, bad


def test_every_module_is_reachable():
    seen: set[str] = set()
    todo = [os.path.join(REPO, r) for r in ROOTS]
    seen |= {_module_of(p) for p in todo if p.startswith(os.path.join(REPO, PKG))}
    while todo:
        for module in _imported_modules(todo.pop()):
            if module not in seen:
                seen.add(module)
                todo.append(_path_of(module))
    on_disk = {
        _module_of(os.path.join(d, f))
        for d, _dirs, files in os.walk(os.path.join(REPO, PKG))
        for f in files
        if f.endswith(".py")
    }
    unreached = sorted(on_disk - seen)
    assert not unreached, unreached
