"""Lint: no engine function keeps an option that nothing sets, and no engine
module keeps an import that nothing uses.

Walks the engine package, the query registry, ``perfbench/``, ``tools/``,
``tests/``, ``bench.py`` and ``__spark_entry__.py`` with ``ast`` (no
SparkSession) and checks every public top-level function of
``knowledge_model_spark/`` whose name is unique in the package and which is
not a ``@register``-ed query:

(a) something besides its own definition references the name;
(b) if it is only ever called by name (never passed as a value), every
    defaulted parameter is passed, by keyword or by position, by at least
    one call.  A call with ``*args``/``**kwargs`` sets every parameter.

A defaulted parameter that no call sets is a configuration that no test or
benchmark covers: inline its default instead.  Deployment settings that a
user picks per cluster are allowlisted below.

(c) no top-level import of a package module other than an ``__init__``
    goes unused; a name listed in the module's ``__all__`` counts as used.
"""

from __future__ import annotations

import ast
from collections import Counter, defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "knowledge_model_spark"
SCANNED = [PACKAGE, ROOT / "perfbench", ROOT / "tools", ROOT / "tests",
           ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# Deployment settings: which model to load, how many rows per model batch,
# and the S3A upload/connection sizing of a cluster.
ALLOWED_UNSET = {
    ("sentence_transformer_udf", "model_name"),
    ("sentence_transformer_udf", "batch_size"),
    ("cross_encoder_udf", "model_name"),
    ("cross_encoder_udf", "batch_size"),
    ("s3a_session_confs", "fast_upload_buffer"),
    ("s3a_session_confs", "max_connections"),
}


def _py_files():
    for p in SCANNED:
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _trees():
    return {p: ast.parse(p.read_text(), filename=str(p)) for p in _py_files()}


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "register") or (
        isinstance(f, ast.Attribute) and f.attr == "register")


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(i, p.arg) for i, p in enumerate(pos)
           if i >= len(pos) - len(a.defaults)]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _audit() -> tuple[list[str], list[str]]:
    trees = _trees()
    package_defs = Counter()
    targets = {}  # name -> (path, FunctionDef)
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                package_defs[node.name] += 1
        for node in tree.body:
            if (isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
                    and not any(_is_register(d) for d in node.decorator_list)):
                targets[node.name] = (path, node)
    targets = {n: t for n, t in targets.items() if package_defs[n] == 1}

    refs = Counter()
    as_value = set()
    calls = defaultdict(list)
    for path, tree in trees.items():
        # A function's own body (recursion) neither references nor sets it.
        owner = {id(n): name for name, (p, d) in targets.items() if p == path
                 for n in ast.walk(d)}
        called_funcs = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None)
                if name in targets and owner.get(id(node)) != name:
                    calls[name].append(node)
                    called_funcs.add(id(f))
        for node in ast.walk(tree):
            name = (node.id if isinstance(node, ast.Name) else
                    node.attr if isinstance(node, ast.Attribute) else None)
            if name in targets and owner.get(id(node)) != name:
                refs[name] += 1
                if id(node) not in called_funcs:
                    as_value.add(name)

    unreferenced = sorted(n for n in targets if refs[n] == 0)
    unset = []
    for name, (path, fn) in sorted(targets.items()):
        if name in as_value or refs[name] == 0:
            continue
        wanted = _defaulted(fn)
        set_names = set()
        for call in calls[name]:
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords):
                set_names.update(p for _, p in wanted)
                break
            set_names.update(k.arg for k in call.keywords)
            set_names.update(p for i, p in wanted
                             if i is not None and i < len(call.args))
        rel = path.relative_to(ROOT)
        unset += [f"{rel}:{fn.lineno} {name}({p})" for _, p in wanted
                  if p not in set_names and (name, p) not in ALLOWED_UNSET]
    return unreferenced, unset


def test_every_public_function_is_referenced():
    unreferenced, _ = _audit()
    assert not unreferenced, f"functions nothing references: {unreferenced}"


def test_every_default_is_set_by_some_call():
    _, unset = _audit()
    assert not unset, "defaulted parameters no call sets:\n" + "\n".join(unset)


def _unused_imports(path: Path, tree: ast.Module) -> list[str]:
    bound = {}  # name -> line of the top-level import that binds it
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = a.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                bound[a.asname or a.name] = a.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets):
            used.update(ast.literal_eval(node.value))
    rel = path.relative_to(ROOT)
    return [f"{rel}:{line} {name}" for name, line in bound.items() if name not in used]


def test_every_top_level_import_is_used():
    unused = [u for p in sorted(PACKAGE.rglob("*.py")) if p.name != "__init__.py"
              for u in _unused_imports(p, ast.parse(p.read_text(), filename=str(p)))]
    assert not unused, "unused imports:\n" + "\n".join(unused)
