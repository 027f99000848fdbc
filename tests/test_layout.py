"""Layout guards, on the AST alone (no Spark, no package import): every
module under ``gliner_spark/`` is reachable from a production entry
point, and every config field is read somewhere outside ``config.py``.

Production roots are the 50-query driver entry, the jobs, the two bench
scripts, the benchmark package and the public API. ``tests/`` and
``tools/`` are not roots: code only they reach runs in no job, query or
benchmark.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "gliner_spark"


def _roots() -> list[Path]:
    return [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        REPO / "bench_extra.py",
        REPO / PKG / "api.py",
        *sorted((REPO / "jobs").glob("*.py")),
        *sorted((REPO / "perfbench").glob("*.py")),
    ]


def _module_file(name: str) -> Path | None:
    """The file behind a dotted ``gliner_spark`` module name, if any."""
    if name != PKG and not name.startswith(PKG + "."):
        return None
    base = REPO.joinpath(*name.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _module_name(f: Path) -> str:
    parts = list(f.relative_to(REPO).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(f: Path) -> set[str]:
    """Dotted names every Import/ImportFrom in ``f`` may load, at any
    depth (function-local imports included), relative ones resolved;
    ``from pkg import name`` also yields ``pkg.name`` in case it is a
    submodule."""
    here = _module_name(f).split(".")
    if f.name != "__init__.py":
        here = here[:-1]  # relative imports resolve against the package
    names: set[str] = set()
    for node in ast.walk(ast.parse(f.read_text(), str(f))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            pkg = here[: len(here) - node.level + 1] if node.level else []
            base = ".".join(pkg + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reachable() -> set[Path]:
    """The production roots plus every package file they load, directly
    or not. Loading a module also runs every ``__init__.py`` above it."""
    todo = _roots()
    seen = set(todo)
    while todo:
        f = todo.pop()
        for name in _imported(f):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                g = _module_file(".".join(parts[:i]))
                if g is not None and g not in seen:
                    seen.add(g)
                    todo.append(g)
    return seen


def test_every_module_is_reachable():
    modules = set((REPO / PKG).rglob("*.py"))
    unreachable = sorted(
        str(f.relative_to(REPO)) for f in modules - _reachable()
    )
    assert not unreachable, f"no production path imports {unreachable}"


def _config_fields() -> dict[str, list[str]]:
    tree = ast.parse((REPO / PKG / "config.py").read_text())
    return {
        c.name: [
            s.target.id for s in c.body
            if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
        ]
        for c in tree.body
        if isinstance(c, ast.ClassDef)
        and c.name in ("GlinerConfig", "PipelineConfig")
    }


def test_every_config_field_is_read():
    config = REPO / PKG / "config.py"
    read: set[str] = set()
    for f in sorted(_reachable()):
        if f == config:
            continue
        read.update(
            n.attr for n in ast.walk(ast.parse(f.read_text(), str(f)))
            if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
        )
    fields = _config_fields()
    assert set(fields) == {"GlinerConfig", "PipelineConfig"}
    unread = sorted(
        f"{cls}.{name}"
        for cls, names in fields.items() for name in names
        if name not in read
    )
    assert not unread, f"config fields nothing reads: {unread}"
