"""The package holds only code an entry point reaches.

Four static guards, none of which starts Spark:

1. An AST import walk from the entry points (``bench.py``, the driver
   entry, ``perfbench/``, the CLI, the query registry, the handlers and
   the streaming pipeline) reaches every non-``__init__`` module of the
   package. ``from pkg import name`` follows a package re-export to the
   module that defines ``name``; a re-export alone reaches nothing.
   ``KEEP`` names the modules kept without an entry point, each with its
   reason.
2. Every package import in the tools, the bench scripts, the driver
   entry and ``perfbench/`` names something that exists, so a deletion
   cannot leave a broken script behind.
3. Importing ``lake`` and ``streaming`` loads no ``operators`` module.
4. Every public top-level ``def``/``class`` of a package module is
   referenced by name outside its own definition, from an entry point,
   directly or through other referenced definitions (see
   ``test_every_public_function_is_referenced``). A package ``__init__``
   re-export is not a reference. ``KEEP_NAMES`` names the ones kept
   without a reference, each with its reason.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "go_bqloader_spark"

ENTRY_POINTS = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / PKG / "cli.py",
    ROOT / PKG / "plans" / "queries.py",
    ROOT / PKG / "plans" / "handlers.py",
    ROOT / PKG / "streaming" / "pipeline.py",
]

KEEP = {
    f"{PKG}.notifier": "bqloader notifier.go parity (SlackNotifier); "
    "tested by tests/test_handlers.py",
}

KEEP_NAMES = {
    f"{PKG}.notifier.SlackNotifier": "bqloader notifier.go parity; "
    "tests/test_handlers.py",
    f"{PKG}.functions.webtext.extract_text_py": "pure-Python oracle for "
    "extract_text; tests/test_merge.py",
    f"{PKG}.operators.similarity.cosine_topk": "exact oracle for the ANN "
    "operators; tests/test_dedup_similarity.py",
    f"{PKG}.sources.xlsbiff.write_xls": "XLS fixture writer; "
    "tests/test_handlers.py, tests/test_codec_properties.py",
    f"{PKG}.session.stop_session": "public session teardown; "
    "tools/bench_scaling.py",
    f"{PKG}.functions.urlnorm.canonicalize_projector": "URL-key projector "
    "for start_cdc_stream(projector=); tests/test_transforms.py, "
    "tests/test_streaming.py, tools/verify_drive.py",
}

SCRIPTS = [
    *sorted((ROOT / "tools").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def _file(mod: str) -> Path | None:
    base = ROOT.joinpath(*mod.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _is_package(mod: str) -> bool:
    p = _file(mod)
    return p is not None and p.name == "__init__.py"


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path):
    """``(module, names)`` for every absolute import in ``path``,
    function-level ones included; ``names`` is None for a plain
    ``import``. The package uses no relative imports."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, None
        elif isinstance(node, ast.ImportFrom) and not node.level:
            yield node.module, [a.name for a in node.names]


def _defining(mod: str, name: str) -> str:
    """The module that defines ``mod.name``, through package re-exports."""
    if _file(f"{mod}.{name}") is not None:
        return f"{mod}.{name}"
    if _is_package(mod):
        for src, names in _imports(_file(mod)):
            if names and name in names and src.startswith(PKG):
                return _defining(src, name)
    return mod


def _reached() -> set[str]:
    reached = {_module_name(p) for p in ENTRY_POINTS}
    todo = list(ENTRY_POINTS)
    while todo:
        for mod, names in _imports(todo.pop()):
            if not mod.startswith(PKG):
                continue
            targets = [mod] if names is None else [_defining(mod, n) for n in names]
            for t in targets:
                if t not in reached and _file(t) is not None and not _is_package(t):
                    reached.add(t)
                    todo.append(_file(t))
    return reached


def _package_modules() -> set[str]:
    return {
        _module_name(p)
        for p in (ROOT / PKG).rglob("*.py")
        if p.name != "__init__.py"
    }


def test_every_module_is_reached_from_an_entry_point():
    reached = _reached()
    unreached = _package_modules() - reached - set(KEEP)
    assert not unreached, f"no entry point reaches: {sorted(unreached)}"
    stale = {m for m in KEEP if m in reached or _file(m) is None}
    assert not stale, f"KEEP entries that are reached or gone: {sorted(stale)}"


def _top_names(path: Path) -> set[str]:
    names: set[str] = set()
    todo = list(ast.parse(path.read_text(), str(path)).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, (ast.If, ast.Try)):
            todo += node.body + node.orelse + getattr(node, "finalbody", [])
            for h in getattr(node, "handlers", []):
                todo.extend(h.body)
    return names


def test_scripts_import_only_names_that_exist():
    broken = []
    for script in SCRIPTS:
        for mod, names in _imports(script):
            if not mod.startswith(PKG):
                continue
            path = _file(mod)
            if path is None:
                broken.append(f"{script.name}: {mod}")
                continue
            defined = _top_names(path)
            broken += [
                f"{script.name}: {mod}.{n}"
                for n in names or ()
                if n not in defined and _file(f"{mod}.{n}") is None
            ]
    assert not broken, f"imports that do not resolve: {broken}"


def test_lake_and_streaming_load_no_operators():
    code = (
        f"import sys, {PKG}.lake, {PKG}.streaming\n"
        f"print(sorted(m for m in sys.modules if m.startswith('{PKG}.operators')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True, timeout=60,
    ).stdout.strip()
    assert out == "[]", f"operators modules loaded: {out}"


def _refs(tree: ast.AST) -> set[str]:
    """Names a subtree uses: bare names and attributes. An import is a
    use only when it renames (``import f as g``); otherwise the use is
    the bound name itself."""
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name for a in n.names if a.asname)
    return out


def test_every_public_function_is_referenced():
    """A name is live when module-level code uses it, when it is a public
    function of an entry point (that module's surface), when a script
    outside the package uses it, or when a live name's definition does.
    Names resolve by bare name, so one use keeps every definition of it."""
    defs: dict[str, str] = {}  # qualified public name -> bare name
    bodies: dict[str, set[str]] = {}  # bare name -> names its definitions use
    live: set[str] = set()
    modules = {p for p in (ROOT / PKG).rglob("*.py") if p.name != "__init__.py"}
    for path in sorted(modules | set(ENTRY_POINTS)):
        mod = _module_name(path)
        for node in ast.parse(path.read_text(), str(path)).body:
            if mod.startswith(PKG) and isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                bodies.setdefault(node.name, set()).update(_refs(node) - {node.name})
                if not node.name.startswith("_"):
                    defs[f"{mod}.{node.name}"] = node.name
                    if path in ENTRY_POINTS:
                        live.add(node.name)
            else:
                live |= _refs(node)
    todo = list(live)
    while todo:
        for n in bodies.get(todo.pop(), ()):
            if n not in live:
                live.add(n)
                todo.append(n)
    unused = {q for q, n in defs.items() if n not in live} - set(KEEP_NAMES)
    assert not unused, f"reached from no entry point: {sorted(unused)}"
    stale = {q for q in KEEP_NAMES if defs.get(q) in live or q not in defs}
    assert not stale, f"KEEP_NAMES entries that are reached or gone: {sorted(stale)}"
