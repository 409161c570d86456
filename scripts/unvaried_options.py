#!/usr/bin/env python
"""List the defaulted public parameters that no caller varies.

An AST pass over the counted trees (``gdelt_extractor_spark/``,
``__spark_entry__.py``, ``bench.py``) and every call in them and in
``tests/``, ``perfbench/`` and ``scripts/``.  It prints three lists,
each with counts per module:

- **defaulted**: every parameter with a default value of a public
  (non-underscore) function or method — the size report's count of
  user-settable options;
- **unpassed**: the defaulted parameters that no call site passes;
- **test-only**: the defaulted parameters passed only from ``tests/``,
  ``perfbench/`` or ``scripts/``, marked ``=default`` where every such
  call passes the default value itself.

Column-name parameters (``*_col``, ``*_cols``, ``col``, ``cols``) are
tagged ``[col]``.

Caveat: callees are matched by bare name (``f(...)`` and ``x.f(...)``
both match every public ``def f``), so two functions that share a name
share their callers, and a call through a variable (``fn(...)``) or a
registry matches nothing.  A call with ``*args`` or ``**kwargs``
counts as passing every parameter of every function of that name.
Check each removal by grep.

Usage: python scripts/unvaried_options.py [--list]
"""

from __future__ import annotations

import ast
import collections
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
COUNTED = ["gdelt_extractor_spark", "__spark_entry__.py", "bench.py"]
CALLERS_ONLY = ["tests", "perfbench", "scripts"]


def _files(roots: list[str]) -> list[Path]:
    out = []
    for r in roots:
        p = REPO / r
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _is_col(name: str) -> bool:
    return name in ("col", "cols") or name.endswith(("_col", "_cols"))


def _literal(node: ast.AST):
    try:
        return ("ok", ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return ("expr", ast.dump(node))


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], list[tuple[str, ast.AST]]]:
    """(positional parameter names without self/cls, [(name, default)])."""
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    out = list(zip(pos[len(pos) - len(fn.args.defaults):], fn.args.defaults))
    out += [
        (a.arg, d)
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    if pos and pos[0] in ("self", "cls"):
        pos = pos[1:]
    return pos, out


def main() -> None:
    # param key: (module, function, lineno, name)
    params: dict[tuple, ast.AST] = {}
    by_name: dict[str, list[tuple]] = collections.defaultdict(list)
    for path in _files(COUNTED):
        rel = str(path.relative_to(REPO))
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if fn.name.startswith("_"):
                continue
            pos, dflt = _defaulted(fn)
            by_name[fn.name].append((rel, fn, pos, [n for n, _ in dflt]))
            for n, d in dflt:
                params[(rel, fn.name, fn.lineno, n)] = d

    lib_pass: set[tuple] = set()
    test_vals: dict[tuple, list] = collections.defaultdict(list)
    for side, roots in (("lib", COUNTED), ("test", CALLERS_ONLY)):
        for path in _files(roots):
            for call in ast.walk(ast.parse(path.read_text())):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name not in by_name:
                    continue
                star = any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                )
                for rel, fn, pos, dnames in by_name[name]:
                    passed = {}
                    if star:
                        passed = {n: None for n in dnames}
                    for i, a in enumerate(call.args):
                        if i < len(pos) and not isinstance(a, ast.Starred):
                            passed[pos[i]] = a
                    for k in call.keywords:
                        if k.arg is not None:
                            passed[k.arg] = k.value
                    for n in dnames:
                        if n not in passed:
                            continue
                        key = (rel, fn.name, fn.lineno, n)
                        if side == "lib":
                            lib_pass.add(key)
                        else:
                            test_vals[key].append(passed[n])

    unpassed = [k for k in params if k not in lib_pass and k not in test_vals]
    test_only = [k for k in params if k not in lib_pass and k in test_vals]

    def at_default(k) -> bool:
        d = _literal(params[k])
        return all(v is not None and _literal(v) == d for v in test_vals[k])

    listing = "--list" in sys.argv[1:]

    def report(title: str, keys: list, mark=None) -> None:
        cols = sum(_is_col(k[3]) for k in keys)
        print(f"{title}: {len(keys)} ({cols} column-name, {len(keys) - cols} other)")
        per = collections.Counter(k[0] for k in keys)
        for mod, n in sorted(per.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"  {n:4d}  {mod}")
        if listing:
            for k in sorted(keys):
                tag = " [col]" if _is_col(k[3]) else ""
                extra = mark(k) if mark else ""
                print(f"    {k[0]}:{k[2]} {k[1]}({k[3]}={ast.unparse(params[k])}){tag}{extra}")

    report("defaulted", list(params))
    report("unpassed", unpassed)
    report("test-only", test_only, lambda k: " =default" if at_default(k) else "")
    n_at = sum(at_default(k) and not _is_col(k[3]) for k in test_only)
    print(f"test-only at default (column names aside): {n_at}")
    print(f"summary: {len(params)} / {len(unpassed)} / {len(test_only)}")


if __name__ == "__main__":
    main()
