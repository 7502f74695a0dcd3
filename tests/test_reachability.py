"""Every package module is reached from an entry point.

A module that only tests import is a mode no user runs.  Starting at
``bench.py``, ``__spark_entry__.py``, ``scripts/*.py`` and
``perfbench/*.py``, follow every ``import`` / ``from ... import``
(relative and function-level ones included) transitively with
``ast``.  A package module whose dotted name appears as a string
literal counts as reached too: ``session.get_spark`` names
``spark_daemon`` that way in ``spark.python.daemon.module``."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "mcp_ocr_server_spark"
ENTRY_POINTS = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "scripts").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def _package_modules() -> dict[str, Path]:
    out = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        out[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return out


def _statements(body):
    """Every statement under `body`, nested bodies included (so an
    import inside a function or an `if` is seen)."""
    for stmt in body:
        yield stmt
        for field in ("body", "orelse", "finalbody", "handlers", "cases"):
            yield from _statements(getattr(stmt, field, ()))


def _named(path: Path, name: str):
    """Dotted names that the file at `path` (module `name`, "" for an
    entry point) imports or spells out as a string literal."""
    text = path.read_text()
    here = name.split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    for node in _statements(ast.parse(text, str(path)).body):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = here[: len(here) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            yield base
            yield from (f"{base}.{alias.name}" for alias in node.names)
    yield from re.findall(rf"""["']({PKG}[\w.]*)["']""", text)


def test_every_package_module_is_reached_from_an_entry_point():
    modules = _package_modules()
    reached: set[str] = set()
    todo = [(path, "") for path in ENTRY_POINTS]
    while todo:
        path, name = todo.pop()
        for dotted in _named(path, name):
            parts = dotted.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append((modules[mod], mod))
    unreached = sorted(set(modules) - reached)
    assert not unreached, f"no entry point reaches {unreached}"
