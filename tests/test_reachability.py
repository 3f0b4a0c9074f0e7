"""Every engine module must be reachable from a production entry point.

A static import walk (``import`` and ``from … import``, relative ones and
function-level ones included) starts at the driver contract
(``__spark_entry__.py``), the bench (``bench.py``) and the declared
benchmark (``perfbench/*.py``). A module under ``housenumbercore_spark/``
that the walk never reaches is kept alive only by tests: move it into
``tests/`` if it is a test oracle, or delete it. No Spark session needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "housenumbercore_spark"

#: reference importers no query reads (their inputs are files the driver
#: testdata does not carry); each is a VERDICT.md coverage row, tested in
#: tests/test_ingest.py and tests/test_gml_overpass.py
UNREACHED_BY_DESIGN = {
    f"{PKG}.sources.shapefile": "S2 ESRI Shapefile source",
    f"{PKG}.sources.osm_xml": "S3 OSM XML source",
    f"{PKG}.sources.gml": "S4 GML source",
    f"{PKG}.sources.overpass": "S6/S7 Overpass source + HTTP list download",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _local_modules() -> dict[str, Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for pkg in (PKG, "perfbench"):
        files += sorted((ROOT / pkg).rglob("*.py"))
    return {_module_name(p): p for p in files}


def _imported(name: str, path: Path, local: dict[str, Path]) -> set[str]:
    """Local modules one module's import statements load, package
    ``__init__``s included (importing ``a.b.c`` runs ``a`` and ``a.b``)."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    targets: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            targets.add(base)
            targets.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for t in targets:
        parts = t.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & local.keys()


def _reached() -> tuple[set[str], dict[str, Path]]:
    local = _local_modules()
    todo = ["__spark_entry__", "bench"] + [m for m in local if m.startswith("perfbench")]
    seen = set(todo)
    while todo:
        mod = todo.pop()
        for dep in _imported(mod, local[mod], local) - seen:
            seen.add(dep)
            todo.append(dep)
    return seen, local


def test_every_engine_module_is_reachable():
    reached, local = _reached()
    engine = {m for m in local if m == PKG or m.startswith(PKG + ".")}
    unreached = engine - reached
    only_tests = sorted(unreached - UNREACHED_BY_DESIGN.keys())
    assert not only_tests, (
        "modules no entry point imports (move test oracles into tests/, "
        f"delete the rest): {only_tests}"
    )
    stale = sorted(UNREACHED_BY_DESIGN.keys() - unreached)
    assert not stale, f"allowlisted but reached or missing: {stale}"
