"""The package holds only code an entry point reaches.

Three static guards, none of which starts Spark:

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
    # the media-decode stack and the KMV library operator have tests but
    # no entry point; their deletion is ROADMAP item 5
    f"{PKG}.operators.multimodal": "mapInPandas media decoders; "
    "tests/test_multimodal.py",
    f"{PKG}.operators.mediacodecs": "PNG/BMP/PPM/WAV/MP4/AVI codecs under "
    "multimodal; tests/test_multimodal.py, tests/test_codec_properties.py",
    f"{PKG}.operators.jpegcodec": "T.81 JPEG codec under multimodal; "
    "tests/test_multimodal.py, tests/test_codec_properties.py",
    f"{PKG}.operators.kmv": "mergeable KMV sketch operator; "
    "tests/test_dedup_similarity.py",
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
