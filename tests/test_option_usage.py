"""Guard: every defaulted parameter of a package function is set by a caller.

A parameter whose default is the only value any caller passes is an option
that doubles the configurations the tests could cover while only one ever
runs; it belongs as a constant in the function body. The scan is AST only
(no Spark): each top-level ``def`` under the package, except ``@register``
fixtures, against every call site in the package, ``perfbench/``,
``scripts/``, ``__spark_entry__.py`` and ``tests/``. Calls match a function
by its name (``f(...)`` or ``mod.f(...)``), so a name shared by two modules
counts the calls of both; a value that is not the default's literal text
(a variable, an expression, a forwarded ``*args``/``**kwargs``) counts as a
second value.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "airline_dataset_hadoop_public_spark"
CALLER_ROOTS = (PKG, ROOT / "perfbench", ROOT / "scripts", ROOT / "tests",
                ROOT / "__spark_entry__.py")


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


def _same(value: ast.expr, default: ast.expr) -> bool:
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
        return type(v) is type(d) and v == d
    except ValueError:
        return ast.dump(value) == ast.dump(default)


def dead_parameters() -> list[str]:
    defs: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for path in _files(PKG):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not _is_fixture(node):
                defs.setdefault(node.name, []).append((str(path.relative_to(ROOT)), node))

    live: set[tuple[str, str, str]] = set()  # (file, function, parameter) set to a second value
    for root in CALLER_ROOTS:
        for path in _files(root):
            for call in ast.walk(ast.parse(path.read_text())):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                for rel, fn in defs.get(name, ()):
                    positional, defaults = _defaulted(fn)
                    passed: list[tuple[str | None, ast.expr | None]] = []
                    for i, arg in enumerate(call.args):
                        if isinstance(arg, ast.Starred):
                            passed += [(p, None) for p in positional[i:]]
                            break
                        if i < len(positional):
                            passed.append((positional[i], arg))
                    for kw in call.keywords:
                        if kw.arg is None:
                            passed += [(p, None) for p in defaults]
                        else:
                            passed.append((kw.arg, kw.value))
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


def test_every_defaulted_parameter_is_set_by_some_caller():
    dead = dead_parameters()
    assert not dead, (f"{len(dead)} defaulted parameters no caller sets to a second "
                      "value; make each a constant:\n" + "\n".join(dead))


if __name__ == "__main__":
    found = dead_parameters()
    print("\n".join(found))
    print(len(found))
