"""The storage rule as code (no Spark): every FS probe and JSON file goes
through ``probminhash_spark/hfs.py``.  Local ``pathlib`` would misread
Hadoop URIs (``file://``, ``hdfs://``, ``s3a://``) as relative paths."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "probminhash_spark"
HFS = PACKAGE / "hfs.py"


def _sources(*dirs: Path) -> list[Path]:
    return sorted(p for d in dirs for p in d.rglob("*.py"))


def _imported_modules(path: Path) -> set[str]:
    mods = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            mods.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            mods.add(node.module.split(".")[0])
    return mods


def test_package_does_not_import_pathlib():
    offenders = [
        str(p.relative_to(ROOT))
        for p in _sources(PACKAGE)
        if "pathlib" in _imported_modules(p)
    ]
    assert not offenders, f"pathlib imported in {offenders}; use hfs"


def test_hadoop_fs_calls_only_in_hfs():
    assert HFS.exists()
    offenders = [
        str(p.relative_to(ROOT))
        for p in _sources(PACKAGE, ROOT / "jobs")
        if p != HFS
        and ("hadoop.fs" in p.read_text() or "getFileSystem" in p.read_text())
    ]
    assert not offenders, f"Hadoop FS calls outside hfs.py in {offenders}"
