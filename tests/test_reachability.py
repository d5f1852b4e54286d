"""Every module in the ``kiwi_spark`` package is reached from an entry point.

An import walk (stdlib ``ast``, no Spark session) starts at the pipeline
driver, the query plans, the streaming entry points, the driver contract
(``__spark_entry__``), the spark-submit jobs, the benchmark, the bench
scripts and the tools. It follows absolute, relative and in-function
imports. A ``kiwi_spark`` module the walk never reaches is code no
pipeline, serving, curation or driver path can run; the test names it so
it is either wired in or deleted.

``NOT_YET_REACHED`` lists the image/audio decoder stack, which no path
reaches yet and which is kept, with its tests, until it is wired in or
removed. The list must match exactly: a new unreached module fails the
test, and so does an entry that has been deleted or wired in, so the list
can only shrink.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

ROOTS = (
    "kiwi_spark/pipeline.py",
    "kiwi_spark/plans/*.py",
    "kiwi_spark/streaming/*.py",
    "__spark_entry__.py",
    "jobs/*.py",
    "perfbench/*.py",
    "bench.py",
    "bench_extra.py",
    "tools/*.py",
)
SOURCE_DIRS = ("kiwi_spark", "jobs", "perfbench", "tools")

NOT_YET_REACHED = frozenset({
    "kiwi_spark.functions.flac_decode",
    "kiwi_spark.functions.gif_decode",
    "kiwi_spark.functions.jpeg_decode",
    "kiwi_spark.functions.tiff_decode",
    "kiwi_spark.functions.webp_decode",
    "kiwi_spark.functions.webp_native",
    "kiwi_spark.operators.multimodal",
})


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _index() -> dict[str, Path]:
    """Dotted module name → file, for every module an import could name."""
    files = list(REPO.glob("*.py"))
    for top in SOURCE_DIRS:
        files.extend((REPO / top).rglob("*.py"))
    return {_module_name(p): p for p in files}


def _with_parents(name: str) -> list[str]:
    """``a.b.c`` imports ``a`` and ``a.b`` first."""
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _imports(path: Path, index: dict[str, Path]) -> set[str]:
    """Repo modules one file imports, anywhere in its body."""
    module = _module_name(path)
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    named: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                named.update(_with_parents(alias.name))
        elif isinstance(node, ast.ImportFrom):
            base = node.module
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            named.update(_with_parents(base))
            # ``from pkg import name`` imports pkg.name when it is a module
            named.update(f"{base}.{alias.name}" for alias in node.names)
    return named & index.keys()


def _reached(index: dict[str, Path]) -> set[str]:
    todo = [
        _module_name(p) for pattern in ROOTS for p in sorted(REPO.glob(pattern))
    ]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imports(index[name], index) - seen)
    return seen


def test_every_kiwi_spark_module_is_reached():
    for pattern in ROOTS:
        assert list(REPO.glob(pattern)), f"reachability root {pattern} matches nothing"
    index = _index()
    package = {name for name in index if name.split(".")[0] == "kiwi_spark"}
    unreached = package - _reached(index)
    new = sorted(unreached - NOT_YET_REACHED)
    assert not new, (
        "kiwi_spark modules no entry point imports (delete them or wire them "
        "into a pipeline, serving, curation or driver path):\n  "
        + "\n  ".join(new)
    )
    stale = sorted(NOT_YET_REACHED - unreached)
    assert not stale, (
        "NOT_YET_REACHED entries that are now reached or gone (drop them "
        "from the list):\n  " + "\n  ".join(stale)
    )
