"""Every module under `logging_spark/` is reached from an entry point.

The roots are the programs people run: `run_job.py`, `bench.py`,
`__spark_entry__.py`, `tools/*.py` and `perfbench/*.py`. The walk
follows every `import` and `from ... import` statement, function-local
ones included, and the contract's `import_module` families
(`import_module(f'logging_spark.contract.{m}') for m in (...)`).
Importing `a.b.c` also runs `a/__init__.py` and `a/b/__init__.py`.
Tests are not roots: a module that only its own tests import is dead
code.

Every top-level function and class of the package is also named
somewhere outside its own definition, in any `.py` file of the repo:
code, a comment or docstring, an entry point or a test. Here tests
count, so a function kept only as a test's reference passes; one that
no file names fails."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "logging_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imports(path: Path) -> set[str]:
    """Dotted names a file imports, plus `pkg.name` for each
    `from pkg import name` (a submodule when such a file exists). The
    code has no relative imports; one would show up here as an
    unreached module."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
        elif isinstance(node, ast.GeneratorExp):
            call, gen = node.elt, node.generators[0]
            if (isinstance(call, ast.Call)
                    and getattr(call.func, "id", None) == "import_module"
                    and isinstance(call.args[0], ast.JoinedStr)
                    and isinstance(gen.iter, ast.Tuple)):
                prefix = call.args[0].values[0].value
                out.update(prefix + e.value for e in gen.iter.elts)
    return out


def _reached() -> set[str]:
    modules = _modules()
    roots = [ROOT / "run_job.py", ROOT / "bench.py", ROOT / "__spark_entry__.py",
             *sorted((ROOT / "tools").glob("*.py")),
             *sorted((ROOT / "perfbench").glob("*.py"))]
    todo = list(roots)
    seen: set[str] = set()
    while todo:
        for dotted in _imports(todo.pop()):
            parts = dotted.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append(modules[mod])
    return seen


def test_every_package_module_is_reached():
    unreached = sorted(set(_modules()) - _reached())
    assert not unreached, f"modules no entry point imports: {unreached}"


def _words(text: str) -> Counter:
    return Counter(re.findall(r"\w+", text))


def test_every_package_function_is_named_outside_its_definition():
    files = [p for p in ROOT.rglob("*.py")
             if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)]
    words = sum((_words(p.read_text()) for p in files), Counter())
    unnamed = []
    for name, path in sorted(_modules().items()):
        lines = path.read_text().splitlines()
        for node in ast.parse("\n".join(lines), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                own = _words("\n".join(lines[node.lineno - 1:node.end_lineno]))
                if words[node.name] - own[node.name] <= 0:
                    unnamed.append(f"{name}.{node.name}")
    assert not unnamed, f"package functions no file names: {unnamed}"
