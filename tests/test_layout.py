"""Layout guards, on the AST alone (no Spark, no package import): every
module under ``gliner_spark/`` is reachable from a production entry
point, every top-level function or class, private ones included, is
used by one (or allowlisted below), every module-level UPPER_CASE
constant is read by one, every config field is read somewhere outside
``config.py``, no package module uses pandas, only ``local_table``
builds and splits driver tables, only ``operators/fsio.py`` touches
files beside the tables directly, and every package import in the
scripts names something that exists.

Production roots are the 50-query driver entry, the jobs, the two bench
scripts, the benchmark package and the public API. ``tests/`` and
``tools/`` are not roots: code only they reach runs in no job, query or
benchmark.
"""

from __future__ import annotations

import ast
import re
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


# Public functions no production root reaches, kept on purpose. Each
# entry must be otherwise unused; one that gains a production caller
# comes off this list.
TEST_ONLY_KEPT = {
    "operators.checkpoint.compact_manifest":
        "maintenance entry point: folds manifest part files into one",
    "operators.checkpoint.manifest_file_count":
        "maintenance entry point: tells when compaction is due",
    "operators.sinks.read_published":
        "read entry point for publish_atomic tables (run_kg_stream docs)",
    "operators.sinks.published_snapshot":
        "read entry point: pins one published version for a reader",
    "operators.dedup.ngram_prefix_dropped_buckets":
        "guard audit: buckets the prefix-filter skew guard dropped",
    "sources.pages.verify_extraction":
        "invariant check: stored page text equals its HTML extraction",
    "operators.similarity.embedding_dup_pairs":
        "exact reference form the LSH recall test checks against",
}


def _refs(node: ast.AST) -> set[str]:
    """Every name ``node`` may refer to: names, attribute names,
    imported names, and identifier-shaped string constants (so that a
    lookup by name, ``getattr`` or a name-keyed table, counts)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
# a module-level UPPER_CASE name, private or not
_CONST = re.compile(r"_?[A-Z][A-Z0-9_]*")


def _defined_name(s: ast.stmt) -> str | None:
    """The name a top-level statement defines, if it is a def, a class
    or a constant: a single UPPER_CASE assignment target."""
    if isinstance(s, _DEFS):
        return s.name
    target = (s.targets[0] if isinstance(s, ast.Assign) and len(s.targets) == 1
              else s.target if isinstance(s, ast.AnnAssign) and s.value
              else None)
    if isinstance(target, ast.Name) and _CONST.fullmatch(target.id):
        return target.id
    return None


def _live_and_defined(
    kept: set[str],
) -> tuple[set[str], set[tuple[str, str]]]:
    """Names live from the production roots, with ``kept`` counted as
    live, and every top-level def/class/constant of the non-root
    package modules, private or not, as (name, dotted home).

    Roots count whole; a package module's top-level statements other
    than defs and constants run on import, so they count too. A def or
    constant is live once its name is, and then its body's or value's
    names are. Names are bare, so a name shared by two modules keeps
    both: the scan errs on the live side."""
    roots = set(_roots())
    live = set(kept)
    defs: dict[str, list[ast.AST]] = {}
    defined: set[tuple[str, str]] = set()
    for f in sorted(_reachable()):
        tree = ast.parse(f.read_text(), str(f))
        if f in roots:
            live |= _refs(tree)
            continue
        for s in tree.body:
            name = _defined_name(s)
            if name:
                defs.setdefault(name, []).append(s)
                defined.add((name, f"{_module_name(f)}.{name}"))
            else:
                live |= _refs(s)
    todo = [n for n in defs if n in live]
    while todo:
        for s in defs.pop(todo.pop(), ()):
            new = _refs(s) - live
            live |= new
            todo.extend(n for n in new if n in defs)
    return live, defined


def test_every_public_function_is_used():
    """Every top-level def/class: a private helper that only tests reach
    is as dead as a public one."""
    kept = {k.rsplit(".", 1)[1] for k in TEST_ONLY_KEPT}
    live, defined = _live_and_defined(kept)
    dead = sorted(home for name, home in defined
                  if name not in live and not _CONST.fullmatch(name))
    assert not dead, f"no production path uses {dead}"

    # the allowlist holds only real, otherwise-unused functions
    bare, _ = _live_and_defined(set())
    stale = sorted(
        k for k in TEST_ONLY_KEPT
        if (k.rsplit(".", 1)[1], f"{PKG}.{k}") not in defined
        or k.rsplit(".", 1)[1] in bare
    )
    assert not stale, f"allowlisted but used or missing: {stale}"


# Module-level UPPER_CASE constants no production root reads, kept on
# purpose, each with its reason (none at present).
UNREAD_CONSTANTS_KEPT: dict[str, str] = {}


def test_every_constant_is_read():
    """Every module-level UPPER_CASE constant of the package is read in
    the production closure: one only tests read documents nothing that
    runs (a schema no table is written with, a pattern no code
    applies)."""
    live, defined = _live_and_defined(
        {k.rsplit(".", 1)[1] for k in UNREAD_CONSTANTS_KEPT})
    unread = sorted(
        home for name, home in defined
        if _CONST.fullmatch(name) and name not in live
        and home.removeprefix(f"{PKG}.") not in UNREAD_CONSTANTS_KEPT)
    assert not unread, f"constants no production path reads: {unread}"


_PANDAS_APIS = {"mapInPandas", "applyInPandas", "pandas_udf"}


def test_package_does_not_use_pandas():
    """Every Python stage of the package reads and writes Arrow batches
    (``mapInArrow``, ``applyInArrow``, ``arrow_udf``): no module under
    ``gliner_spark/`` imports pandas or names a pandas stage API."""
    found = []
    for f in sorted((REPO / PKG).rglob("*.py")):
        for n in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(n, ast.Import):
                mods = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom) and not n.level:
                mods = [n.module or ""]
            else:
                mods = []
            names = ({n.attr} if isinstance(n, ast.Attribute)
                     else {n.id} if isinstance(n, ast.Name)
                     else {n.name} if isinstance(n, ast.alias) else set())
            found += [f"{f.relative_to(REPO)}: import {m}" for m in mods
                      if m.split(".")[0] == "pandas"]
            found += [f"{f.relative_to(REPO)}: {x}"
                      for x in names & _PANDAS_APIS]
    assert not found, f"pandas in the package: {found}"


def test_local_tables_are_built_and_split_in_one_place():
    """``operators/util.local_table`` is the one place driver rows
    become a DataFrame and the one place their partitions are decided:
    no other package module calls ``createDataFrame``, and no module
    coalesces a ``local_table(...)`` result itself. The way back is
    one place too: only ``util.collect_bounded`` calls ``toArrow``."""
    util = REPO / PKG / "operators" / "util.py"
    found = []
    for f in sorted((REPO / PKG).rglob("*.py")):
        for n in ast.walk(ast.parse(f.read_text(), str(f))):
            if not isinstance(n, ast.Attribute):
                continue
            where = f"{f.relative_to(REPO)}:{n.lineno}"
            if n.attr in ("createDataFrame", "toArrow") and f != util:
                found.append(f"{where}: {n.attr}")
            called = getattr(n.value, "func", None)
            if n.attr == "coalesce" and "local_table" in (
                    getattr(called, "id", None), getattr(called, "attr", None)):
                found.append(f"{where}: local_table(...).coalesce")
    assert not found, f"driver tables outside util: {found}"


def _bound_names(f: Path) -> set[str]:
    """Names ``f`` binds at module level: defs, classes, imports and
    assignment targets, including those inside top-level if/try/with."""
    out: set[str] = set()
    todo = list(ast.parse(f.read_text(), str(f)).body)
    while todo:
        n = todo.pop()
        if isinstance(n, _DEFS):
            out.add(n.name)
            continue
        if isinstance(n, ast.alias):
            out.add((n.asname or n.name).split(".")[0])
        elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            out.add(n.id)
        todo.extend(ast.iter_child_nodes(n))
    return out


def test_script_package_imports_resolve():
    """Scripts no test imports (``tools/``) would break silently when a
    package function moves or goes; every ``gliner_spark`` import they
    make must name a module or a name that module binds."""
    scripts = [
        REPO / "__spark_entry__.py", REPO / "bench.py",
        REPO / "bench_extra.py",
        *sorted((REPO / "jobs").glob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
    ]
    broken = []
    for f in scripts:
        for n in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(n, ast.Import):
                broken += [
                    f"{f.name}: import {a.name}" for a in n.names
                    if a.name.split(".")[0] == PKG
                    and _module_file(a.name) is None
                ]
            elif (isinstance(n, ast.ImportFrom) and not n.level
                  and n.module and n.module.split(".")[0] == PKG):
                mod = _module_file(n.module)
                names = _bound_names(mod) if mod is not None else set()
                broken += [
                    f"{f.name}: from {n.module} import {a.name}"
                    for a in n.names
                    if a.name not in names
                    and _module_file(f"{n.module}.{a.name}") is None
                ]
    assert not broken, f"imports of names that do not exist: {broken}"


_FILE_CALLS = {
    "open", "shutil.rmtree",
    *(f"os.{f}" for f in ("listdir", "walk", "replace", "rename", "remove",
                          "link", "makedirs")),
    *(f"os.path.{f}" for f in ("exists", "isdir", "getmtime")),
}


def _dotted(node: ast.AST) -> str | None:
    """``a.b.c`` for a Name/Attribute chain, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return ".".join([node.id, *reversed(parts)])


def test_table_files_go_through_fsio():
    """Markers, manifests and probes beside Spark-written tables go
    through the one Hadoop FileSystem handle (``operators/fsio.py``),
    so they resolve a path as Spark does: no module under
    ``operators``, ``plans`` or ``streaming`` other than ``fsio.py``
    calls ``open``, ``shutil.rmtree`` or the ``os`` file functions
    directly."""
    fsio = REPO / PKG / "operators" / "fsio.py"
    found = []
    for sub in ("operators", "plans", "streaming"):
        for f in sorted((REPO / PKG / sub).rglob("*.py")):
            if f == fsio:
                continue
            for n in ast.walk(ast.parse(f.read_text(), str(f))):
                name = isinstance(n, ast.Call) and _dotted(n.func)
                if name in _FILE_CALLS:
                    found.append(f"{f.relative_to(REPO)}:{n.lineno}: {name}")
    assert not found, f"file calls outside fsio.py: {found}"
