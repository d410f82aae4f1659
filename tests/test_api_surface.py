"""Every optional parameter of a public ``pprl_spark`` function is set
by some call in the repository.

An option nothing sets is a constant with a settable name: it widens the
API, and the branches it selects go untested. The scan parses every
``.py`` file of the product and its callers and records, per public
top-level function of ``pprl_spark/``, which parameters its calls set:

- a call sets a parameter by keyword or by position; ``*args`` at a
  call sets every positional parameter;
- ``**kw`` at a call sets the keys of ``kw`` when ``kw`` is a dict
  display or a ``dict(key=...)`` call, or a name whose every binding in
  its scope is one (an assignment, or a ``for`` target over a tuple or
  list of them) and that is never subscript-assigned or method-called;
  any other ``**`` sets every optional parameter;
- calls resolve through ``from ... import f as g``, ``import m as M``
  (``M.f(...)``) and relative imports, and inside ``pprl_spark`` also
  to functions of the calling module;
- a function used as a value (passed, stored, returned) counts as fully
  set, since the call site is out of sight.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "pprl_spark"
CALLER_DIRS = ("pprl_spark", "tools", "scripts", "perfbench", "tests")
CALLER_FILES = ("bench.py", "__spark_entry__.py")

# (module, function, parameter) -> why it stays an option although no
# call in the repository sets it (deployment settings only)
ALLOWED_UNSET: dict[tuple[str, str, str], str] = {}


def _module(path: Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")


def _import_source(module: str, node: ast.ImportFrom) -> str:
    if node.level == 0:
        return node.module or ""
    parts = module.split(".")[: -node.level]
    return ".".join(parts + ([node.module] if node.module else []))


def _public_functions() -> dict[tuple[str, str], tuple[list[str], list[str]]]:
    """(module, name) -> (positional parameters, optional parameters)."""
    out = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                a = node.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                opt = pos[len(pos) - len(a.defaults):] if a.defaults else []
                opt += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                out[(_module(path), node.name)] = (pos, opt)
    return out


def _sources() -> list[tuple[str, str]]:
    """(module, source) of every file whose calls count."""
    paths = [p for d in CALLER_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    paths += [ROOT / f for f in CALLER_FILES]
    return [(_module(p), p.read_text()) for p in paths]


_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _literal_keys(expr) -> set[str] | None:
    """Keys of a dict display or ``dict(key=...)`` call; None if unknown."""
    if isinstance(expr, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in expr.keys
    ):
        return {k.value for k in expr.keys}
    if (
        isinstance(expr, ast.Call)
        and isinstance(expr.func, ast.Name)
        and expr.func.id == "dict"
        and not expr.args
        and all(kw.arg is not None for kw in expr.keywords)
    ):
        return {kw.arg for kw in expr.keywords}
    return None


def _binding_keys(name: ast.Name, parent) -> set[str] | None:
    """Keys a store of ``name`` binds it to; None if not a known dict."""
    if isinstance(parent, ast.Assign) and name in parent.targets:
        return _literal_keys(parent.value)
    if isinstance(parent, (ast.For, ast.comprehension)) and parent.target is name:
        if isinstance(parent.iter, (ast.Tuple, ast.List)):
            keys = [_literal_keys(e) for e in parent.iter.elts]
            return None if None in keys else set().union(*keys)
    return None


def _kwargs_keys(tree):
    """``expr -> keys`` for the ``**expr`` of a call in ``tree`` (None
    when the keys are unknown), per the rules in the module docstring."""
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}

    def scope(node):
        node = parent.get(node)
        while node is not None and not isinstance(node, _SCOPES):
            node = parent.get(node)
        return node

    # (scope, name) -> keys of each binding (None: not a known dict)
    bindings: dict[tuple[int, str], list] = {}
    # names some ``name[...] = `` or ``name.method(...)`` may mutate
    mutated = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            name, keys = node.id, _binding_keys(node, parent[node])
        elif isinstance(node, ast.Name):
            p = parent[node]
            if isinstance(p, ast.Attribute) or (
                isinstance(p, ast.Subscript) and not isinstance(p.ctx, ast.Load)
            ):
                mutated.add(node.id)
            continue
        elif isinstance(node, ast.arg):
            name, keys = node.arg, None
        elif isinstance(node, ast.alias):
            name, keys = (node.asname or node.name).split(".")[0], None
        else:
            continue
        bindings.setdefault((id(scope(node)), name), []).append(keys)

    def keys(expr):
        if not isinstance(expr, ast.Name):
            return _literal_keys(expr)
        if expr.id in mutated:
            return None
        node = scope(expr)
        while node is not None:
            found = bindings.get((id(node), expr.id))
            if found:
                return None if None in found else set().union(*found)
            node = scope(node)
        return None

    return keys


def _set_parameters(funcs, sources) -> dict[tuple[str, str], set[str]]:
    """(module, name) -> parameters some call in ``sources`` sets."""
    seen = {k: set() for k in funcs}
    for module, source in sources:
        tree = ast.parse(source)
        names: dict[str, tuple[str, str]] = {}
        modules: dict[str, str] = {}
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and (module, node.name) in funcs:
                names[node.name] = (module, node.name)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                src = _import_source(module, node)
                for alias in node.names:
                    local = alias.asname or alias.name
                    if (src, alias.name) in funcs:
                        names[local] = (src, alias.name)
                    elif src.startswith(PKG):
                        modules[local] = f"{src}.{alias.name}"
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(PKG):
                        modules[alias.asname or alias.name] = alias.name

        def target(expr):
            if isinstance(expr, ast.Name):
                return names.get(expr.id)
            if isinstance(expr, ast.Attribute):
                attrs, value = [], expr.value
                while isinstance(value, ast.Attribute):
                    attrs.append(value.attr)
                    value = value.value
                if isinstance(value, ast.Name) and value.id in modules:
                    key = (".".join([modules[value.id], *reversed(attrs)]), expr.attr)
                    return key if key in funcs else None
            return None

        kwargs_keys = _kwargs_keys(tree)
        callees = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callees.add(id(node.func))
            key = target(node.func)
            if key is None:
                continue
            pos, opt = funcs[key]
            if any(isinstance(a, ast.Starred) for a in node.args):
                seen[key].update(pos)
            else:
                seen[key].update(pos[: len(node.args)])
            for kw in node.keywords:
                if kw.arg is not None:
                    seen[key].add(kw.arg)
                else:
                    spread = kwargs_keys(kw.value)
                    seen[key].update(opt if spread is None else spread)
        for node in ast.walk(tree):
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and isinstance(node.ctx, ast.Load)
                and id(node) not in callees
            ):
                key = target(node)
                if key is not None:
                    seen[key].update(funcs[key][1])
    return seen


def test_every_optional_parameter_is_set_by_some_call():
    funcs = _public_functions()
    seen = _set_parameters(funcs, _sources())
    unset = sorted(
        (module, name, p)
        for (module, name), (_, opt) in funcs.items()
        for p in opt
        if p not in seen[(module, name)] and (module, name, p) not in ALLOWED_UNSET
    )
    assert not unset, "optional parameters no call sets:\n" + "\n".join(
        f"  {m}.{f}({p}=)" for m, f, p in unset
    )


def test_scan_rules():
    # aliased import + positional args, module attribute + keyword,
    # a function used as a value, a same-module call, and ** over known
    # dicts (their keys only) and unknown ones (every optional)
    m = "pprl_spark.m"
    funcs = {
        (m, "f"): (["a", "b", "c"], ["b", "c"]),
        (m, "g"): (["x"], ["x"]),
        (m, "h"): ([], ["y"]),
        (m, "k"): (["z", "w"], ["z", "w"]),
        (m, "n"): ([], ["p", "q", "t"]),
        (m, "r"): ([], ["v", "w"]),
        (m, "s"): ([], ["u", "x"]),
    }
    caller = (
        "from pprl_spark.m import f as f1\n"
        "import pprl_spark.m as M\n"
        "f1(1, 2)\n"
        "M.h(y=3)\n"
        "callbacks = [M.g]\n"
        "kw = dict(p=1)\n"
        "for o in ({}, {'q': 0}):\n"
        "    M.n(**kw, **o)\n"
        "def run(kw):\n"
        "    M.r(**kw)\n"
        "grown = {}\n"
        "grown['u'] = 1\n"
        "M.s(**grown)\n"
    )
    same_module = "def k(z=0, w=1):\n    return z\n\nk(**{'z': 1})\n"
    seen = _set_parameters(funcs, [("tools.t", caller), (m, same_module)])
    assert seen == {
        (m, "f"): {"a", "b"},
        (m, "g"): {"x"},
        (m, "h"): {"y"},
        (m, "k"): {"z"},
        (m, "n"): {"p", "q"},
        (m, "r"): {"v", "w"},
        (m, "s"): {"u", "x"},
    }
    assert len(_public_functions()) > 150
