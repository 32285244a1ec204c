"""Guard: every parameter of a package function takes a second value somewhere.

A parameter that only ever receives one value is an option that doubles the
configurations the tests could cover while only one ever runs; it belongs as
a constant (or a fixed column name) in the function body. The scan is AST
only (no Spark): each top-level ``def`` under the package, except
``@register`` fixtures, against every call site in the package,
``perfbench/``, ``scripts/``, ``__spark_entry__.py`` and ``tests/``. Calls
match a function by its name (``f(...)`` or ``mod.f(...)``), so a name shared
by two modules counts the calls of both.

- A defaulted parameter is dead when no call site passes a value other than
  the default's literal text.
- A required parameter is dead when the function has at least two call sites
  and every value they pass is the same literal. An argument that is a bare
  name of a parameter of the enclosing top-level package function stands for
  that parameter's own values, resolved transitively.

In both checks a value that is not a literal (a variable, an expression, a
forwarded ``*args``/``**kwargs``) counts as a second value.
"""
from __future__ import annotations

import ast
from collections.abc import Iterator
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "airline_dataset_hadoop_public_spark"
CALLER_ROOTS = (PKG, ROOT / "perfbench", ROOT / "scripts", ROOT / "tests",
                ROOT / "__spark_entry__.py")

Key = tuple[str, str]  # (file, function)


def _files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _is_fixture(fn: ast.FunctionDef) -> bool:
    for d in fn.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", "")
        if name == "register":
            return True
    return False


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], dict[str, ast.expr]]:
    """Positional parameter names, and each defaulted parameter's default."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return positional, defaults


def _required(fn: ast.FunctionDef) -> list[str]:
    positional, defaults = _defaulted(fn)
    return [p for p in positional + [k.arg for k in fn.args.kwonlyargs] if p not in defaults]


def _same(value: ast.expr, default: ast.expr) -> bool:
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
        return type(v) is type(d) and v == d
    except ValueError:
        return ast.dump(value) == ast.dump(default)


def _package_defs() -> dict[str, list[tuple[str, ast.FunctionDef]]]:
    defs: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for path in _files(PKG):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not _is_fixture(node):
                defs.setdefault(node.name, []).append((str(path.relative_to(ROOT)), node))
    return defs


def _call_sites(defs) -> Iterator[tuple[str, ast.FunctionDef, Key | None,
                                        list[tuple[str, ast.expr | None]]]]:
    """Each call of a package function: its file, its def, the enclosing
    top-level package function (or None) and the (parameter, value) pairs it
    passes, with value None for a forwarded ``*args``/``**kwargs``."""
    for root in CALLER_ROOTS:
        for path in _files(root):
            rel = str(path.relative_to(ROOT))
            for top in ast.parse(path.read_text()).body:
                enclosing = ((rel, top.name) if path.is_relative_to(PKG)
                             and isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None)
                for call in ast.walk(top):
                    if not isinstance(call, ast.Call):
                        continue
                    f = call.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    for def_rel, fn in defs.get(name, ()):
                        positional, _ = _defaulted(fn)
                        passed: list[tuple[str, ast.expr | None]] = []
                        for i, arg in enumerate(call.args):
                            if isinstance(arg, ast.Starred):
                                passed += [(p, None) for p in positional[i:]]
                                break
                            if i < len(positional):
                                passed.append((positional[i], arg))
                        for kw in call.keywords:
                            if kw.arg is None:
                                named = {p for p, _ in passed}
                                passed += [(p, None) for p in positional + [k.arg for k in fn.args.kwonlyargs]
                                           if p not in named]
                            else:
                                passed.append((kw.arg, kw.value))
                        yield def_rel, fn, enclosing, passed


def dead_parameters() -> list[str]:
    defs = _package_defs()
    live: set[tuple[str, str, str]] = set()  # (file, function, parameter) set to a second value
    for rel, fn, _, passed in _call_sites(defs):
        defaults = _defaulted(fn)[1]
        for param, value in passed:
            if param in defaults and (value is None or not _same(value, defaults[param])):
                live.add((rel, fn.name, param))

    dead = []
    for name, sites in defs.items():
        for rel, fn in sites:
            for param, default in _defaulted(fn)[1].items():
                if (rel, name, param) not in live:
                    dead.append(f"{rel}:{name}({param}={ast.unparse(default)})")
    return sorted(dead)


_OTHER = object()  # a value that is not a literal


def dead_required_parameters() -> list[str]:
    defs = _package_defs()
    required = {(rel, fn.name): set(_required(fn)) for sites in defs.values() for rel, fn in sites}
    n_calls: dict[Key, int] = {}
    # (file, function, parameter) -> literal values, _OTHER, or the
    # (file, function, parameter) of an enclosing parameter passed through
    sources: dict[tuple[str, str, str], list] = {}
    for rel, fn, enclosing, passed in _call_sites(defs):
        n_calls[(rel, fn.name)] = n_calls.get((rel, fn.name), 0) + 1
        for param, value in passed:
            if param not in required[(rel, fn.name)]:
                continue
            if value is None:
                src = _OTHER
            elif (isinstance(value, ast.Name) and enclosing is not None
                  and value.id in required.get(enclosing, ())):
                src = (*enclosing, value.id)
            else:
                try:
                    v = ast.literal_eval(value)
                    src = (type(v), repr(v))
                except ValueError:
                    src = _OTHER
            sources.setdefault((rel, fn.name, param), []).append(src)

    def values(target, seen) -> set:
        if target in seen:
            return set()
        seen.add(target)
        out = set()
        for src in sources.get(target, ()):
            if src is _OTHER or len(src) == 2:
                out.add(src)
            else:
                out |= values(src, seen)
        return out

    dead = []
    for (rel, name), params in required.items():
        if n_calls.get((rel, name), 0) < 2:
            continue
        for param in sorted(params):
            found = values((rel, name, param), set())
            if len(found) == 1 and _OTHER not in found:
                (_, text), = found
                dead.append(f"{rel}:{name}({param}) always {text}")
    return sorted(dead)


def test_every_defaulted_parameter_is_set_by_some_caller():
    dead = dead_parameters()
    assert not dead, (f"{len(dead)} defaulted parameters no caller sets to a second "
                      "value; make each a constant:\n" + "\n".join(dead))


def test_every_required_parameter_takes_a_second_value():
    dead = dead_required_parameters()
    assert not dead, (f"{len(dead)} required parameters every caller fills with the same "
                      "literal; make each a constant:\n" + "\n".join(dead))


if __name__ == "__main__":
    for found in (dead_parameters(), dead_required_parameters()):
        print("\n".join(found))
        print(len(found))
