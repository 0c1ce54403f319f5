"""Every optional parameter of a public function is set by some caller.

A parameter that every call leaves at its default (or passes with its
default) has one value in use, so it is a constant in disguise: each one
doubles a configuration space that no test or query explores. This audit
reads the source (no Spark): for each module-level public function in
``osm2lanes_spark/``, every parameter with a default must be passed with
another value by at least one call in the package, ``__spark_entry__.py``,
``jobs/``, ``perfbench/`` or ``tests/``.

Calls are matched to definitions through the caller's imports (``import
… as`` aliases, ``from … import`` with relative levels, package
re-exports), so two functions that share a name in different modules are
told apart. A call in ``tests/`` sets a parameter whatever value it
passes: a test that names a default pins the behaviour it checks. A
call's ``**kw`` is read when ``kw`` is a ``dict(...)`` or
``{...}`` literal bound in the same scope; any other ``*args``/``**kw``
counts as setting every parameter it could reach.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "osm2lanes_spark"
CALLER_ROOTS = (PACKAGE, "__spark_entry__.py", "jobs", "perfbench", "tests")

# Parameters kept although no call in the repo sets them, with the reason.
KEEP = {
    ("osm2lanes_spark.fixtures.golden.load_cases", "fixture_dir"):
        "deployment path: where the golden corpus parquet lives",
}


def _modules():
    """module name -> (syntax tree, is a package ``__init__``)."""
    out = {}
    for root in CALLER_ROOTS:
        path = REPO / root
        for f in sorted([path] if path.is_file() else path.rglob("*.py")):
            parts = list(f.relative_to(REPO).with_suffix("").parts)
            is_pkg = parts[-1] == "__init__"
            if is_pkg:
                parts.pop()
            out[".".join(parts)] = (ast.parse(f.read_text()), is_pkg)
    return out


def _from_base(module, is_pkg, node):
    if not node.level:
        return node.module
    parts = module.split(".")
    if not is_pkg:
        parts.pop()
    parts = parts[:len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)


def _own_statements(body):
    """Nodes of a scope; a nested scope is yielded but not entered."""
    todo = list(body)
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _bindings(module, is_pkg, body):
    """Names a scope binds by import or def, and its literal kwarg dicts."""
    names, kwdicts = {}, {}
    for node in _own_statements(body):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    names[a.asname] = a.name
                else:
                    head = a.name.split(".")[0]
                    names[head] = head
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(module, is_pkg, node)
            for a in node.names:
                names[a.asname or a.name] = f"{base}.{a.name}"
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names[node.name] = f"{module}.{node.name}"
        elif (isinstance(node, ast.Assign) and len(node.targets) == 1
              and isinstance(node.targets[0], ast.Name)):
            kw = _literal_kwargs(node.value)
            if kw is not None:
                kwdicts[node.targets[0].id] = kw
    return names, kwdicts


def _literal_kwargs(expr):
    if (isinstance(expr, ast.Call) and isinstance(expr.func, ast.Name)
            and expr.func.id == "dict" and not expr.args
            and all(k.arg for k in expr.keywords)):
        return {k.arg: k.value for k in expr.keywords}
    if isinstance(expr, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str)
            for k in expr.keys):
        return {k.value: v for k, v in zip(expr.keys, expr.values)}
    return None


def _public_functions(modules):
    return {f"{m}.{n.name}": n
            for m, (tree, _) in modules.items()
            if m == PACKAGE or m.startswith(PACKAGE + ".")
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not n.name.startswith("_")}


def _optional(fn):
    """Parameter name -> default expression, for parameters with one."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults):],
                                    a.defaults)}
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None})
    return out


def _same(value, default):
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
        return type(v) is type(d) and v == d
    except ValueError:
        return ast.dump(value) == ast.dump(default)


class _Calls:
    """Walks every module and records which optional parameters are set."""

    def __init__(self, modules, functions):
        self.functions = functions
        self.module_names = {m: _bindings(m, p, t.body)[0]
                             for m, (t, p) in modules.items()}
        self.set = set()

    def canonical(self, qual):
        """Follow re-exports (``from .x import f`` in another module)."""
        for _ in range(10):
            if qual in self.functions:
                return qual
            module, _, name = qual.rpartition(".")
            target = self.module_names.get(module, {}).get(name)
            if target is None or target == qual:
                return None
            qual = target
        return None

    def resolve(self, expr, names):
        if isinstance(expr, ast.Name):
            return names.get(expr.id)
        if isinstance(expr, ast.Attribute):
            base = self.resolve(expr.value, names)
            return f"{base}.{expr.attr}" if base else None
        return None

    def scan(self, module, is_pkg, body, names, kwdicts):
        own_names, own_kw = _bindings(module, is_pkg, body)
        names = {**names, **own_names}
        kwdicts = {**kwdicts, **own_kw}
        for node in _own_statements(body):
            if isinstance(node, ast.Call):
                self.record(node, names, kwdicts,
                            pinned=module.startswith("tests."))
            elif isinstance(node, ast.Lambda):
                self.scan(module, is_pkg, [ast.Expr(node.body)],
                          names, kwdicts)
            elif isinstance(node, _SCOPES):
                self.scan(module, is_pkg, node.body, names, kwdicts)

    def record(self, call, names, kwdicts, pinned):
        qual = self.resolve(call.func, names)
        qual = qual and self.canonical(qual)
        if qual is None:
            return
        fn = self.functions[qual]
        optional = _optional(fn)
        positional = [p.arg for p in fn.args.posonlyargs + fn.args.args]
        passed = {}
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                passed.update({p: None for p in positional[i:]})
                break
            if i < len(positional):
                passed[positional[i]] = arg
        for kw in call.keywords:
            if kw.arg is not None:
                passed[kw.arg] = kw.value
            elif (isinstance(kw.value, ast.Name)
                  and kw.value.id in kwdicts):
                passed.update(kwdicts[kw.value.id])
            else:
                passed.update({p: None for p in optional})
        for param, value in passed.items():
            if param in optional and (
                    pinned or value is None
                    or not _same(value, optional[param])):
                self.set.add((qual, param))


def _unset():
    modules = _modules()
    functions = _public_functions(modules)
    calls = _Calls(modules, functions)
    for module, (tree, is_pkg) in modules.items():
        calls.scan(module, is_pkg, tree.body, {}, {})
    return sorted((qual, param)
                  for qual, fn in functions.items()
                  for param in _optional(fn)
                  if (qual, param) not in calls.set)


def test_every_optional_parameter_is_set_by_some_caller():
    unset = [u for u in _unset() if u not in KEEP]
    assert not unset, (
        f"{len(unset)} optional parameters are never passed with a value "
        "other than their default; make each a constant:\n"
        + "\n".join(f"  {q}({p})" for q, p in unset))


def test_keep_list_is_current():
    """A keep-list entry whose parameter is now set, or gone, is stale."""
    unset = set(_unset())
    assert not [k for k in KEEP if k not in unset], sorted(set(KEEP) - unset)
