"""The package API the benchmark harness and scripts call, checked from
their source with ``ast``: no import of the harness, no Spark.

``bench.py``, ``__spark_entry__.py``, ``perfbench/`` and ``scripts/`` stay
as they are while the package changes under them, so every name they
import, every keyword they pass to ``CrawlEngine``, ``dedup_against_seen``
and ``read_seen``, and every engine attribute they read must still exist.
"""

import ast
import glob
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "searchgov_spider_spark"
HARNESS = sorted(
    [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    + glob.glob(os.path.join(REPO, "scripts", "*.py"))
)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _module_file(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    return None


def _top_level_names(tree: ast.Module) -> set[str]:
    """Names a module binds at top level, inside top-level if/try too."""
    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for target in node.targets if isinstance(node, ast.Assign) else [node.target]:
                names.update(n.id for n in ast.walk(target) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.If, ast.Try)):
            stack.extend(node.body + node.orelse + getattr(node, "finalbody", []))
            for handler in getattr(node, "handlers", []):
                stack.extend(handler.body)
    return names


def _harness_trees():
    return [(os.path.relpath(p, REPO), _parse(p)) for p in HARNESS]


def _def(path: str, name: str, cls: str | None = None) -> ast.FunctionDef:
    tree = _parse(os.path.join(REPO, PKG, path))
    body = tree.body
    if cls is not None:
        body = next(n for n in body if isinstance(n, ast.ClassDef) and n.name == cls).body
    return next(n for n in body if isinstance(n, ast.FunctionDef) and n.name == name)


def _params(fn: ast.FunctionDef, method: bool) -> list[str]:
    assert fn.args.vararg is None and fn.args.kwarg is None, fn.name
    names = [a.arg for a in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs]
    return names[1:] if method else names


def _splat_keys(node: ast.expr, where: str) -> set[str]:
    """String keys of a ``**`` argument built from dict literals, through
    conditional expressions."""
    if isinstance(node, ast.Dict):
        keys = set()
        for k in node.keys:
            assert isinstance(k, ast.Constant) and isinstance(k.value, str), where
            keys.add(k.value)
        return keys
    if isinstance(node, ast.IfExp):
        return _splat_keys(node.body, where) | _splat_keys(node.orelse, where)
    raise AssertionError(f"{where}: ** argument the test cannot read: {ast.dump(node)}")


def _calls(name: str):
    for path, tree in _harness_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                func = node.func
                called = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
                if called == name:
                    yield f"{path}:{node.lineno}", node


def test_harness_imports_resolve():
    checked = 0
    for path, tree in _harness_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == PKG:
                        assert _module_file(alias.name), f"{path}:{node.lineno}: no module {alias.name}"
                        checked += 1
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module.split(".")[0] == PKG:
                module_file = _module_file(node.module)
                assert module_file, f"{path}:{node.lineno}: no module {node.module}"
                names = _top_level_names(_parse(module_file))
                for alias in node.names:
                    found = alias.name in names or _module_file(f"{node.module}.{alias.name}")
                    assert found, f"{path}:{node.lineno}: {node.module} has no {alias.name}"
                    checked += 1
    assert checked > 20


@pytest.mark.parametrize(
    "name,path,cls",
    [
        ("CrawlEngine", "crawl/engine.py", "CrawlEngine"),
        ("dedup_against_seen", "crawl/frontier.py", None),
        ("read_seen", "storage/tables.py", "CheckpointStore"),
    ],
)
def test_harness_call_keywords_are_parameters(name, path, cls):
    """Each keyword, including the string keys of a ``**`` dict, names a
    parameter, and no call passes more positional arguments than there
    are parameters."""
    fn = _def(path, "__init__" if name == cls else name, cls)
    params = _params(fn, method=cls is not None)
    calls = list(_calls(name))
    assert calls, name
    for where, call in calls:
        assert len(call.args) <= len(params), where
        for kw in call.keywords:
            keys = {kw.arg} if kw.arg is not None else _splat_keys(kw.value, where)
            assert keys <= set(params), f"{where}: {sorted(keys - set(params))} not parameters of {name}"


def _engine_attributes() -> set[str]:
    """Attributes of a constructed ``CrawlEngine``: class-body names
    (methods, class attributes) and what ``__init__`` assigns on self."""
    tree = _parse(os.path.join(REPO, PKG, "crawl", "engine.py"))
    cls = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "CrawlEngine")
    attrs = _top_level_names(ast.Module(body=cls.body, type_ignores=[]))
    init = next(n for n in cls.body if isinstance(n, ast.FunctionDef) and n.name == "__init__")
    for node in ast.walk(init):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Store)
            and isinstance(node.value, ast.Name)
            and node.value.id == "self"
        ):
            attrs.add(node.attr)
    return attrs


def test_harness_engine_attributes_exist():
    """Every ``engine.<attr>`` (and ``op["engine"].<attr>``) the harness
    reads exists on a constructed engine."""
    attrs = _engine_attributes()
    read = {}
    for path, tree in _harness_trees():
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)):
                continue
            value = node.value
            is_engine = (isinstance(value, ast.Name) and value.id == "engine") or (
                isinstance(value, ast.Subscript)
                and isinstance(value.slice, ast.Constant)
                and value.slice.value == "engine"
            )
            if is_engine:
                read.setdefault(node.attr, f"{path}:{node.lineno}")
    assert {"hot_host_threshold", "fetch_partitions", "store"} <= set(read)
    missing = {a: where for a, where in read.items() if a not in attrs}
    assert not missing, missing
