"""Source conventions as code (no Spark).

- Storage: every FS probe and JSON file goes through
  ``probminhash_spark/hfs.py``.  Local ``pathlib`` would misread Hadoop URIs
  (``file://``, ``hdfs://``, ``s3a://``) as relative paths.
- Pair joins: operators fetch endpoint columns through
  ``operators/dedup.py::pair_endpoints``, the one place that renames a side
  table to ``_l``/``_r`` and holds the join policy.
- Content hashing: the batch pipeline computes sha256 once per document, at
  ingest; the only other ``sha2(`` is the state-store engine's first-seen
  key."""

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


def _enclosing_functions(path: Path, needle: str) -> list[str]:
    """Name of the innermost function around each line holding ``needle``
    (``<module>`` outside any function)."""
    text = path.read_text()
    funcs = [
        n
        for n in ast.walk(ast.parse(text, str(path)))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    out = []
    for no, line in enumerate(text.splitlines(), 1):
        if needle in line:
            around = [f for f in funcs if f.lineno <= no <= f.end_lineno]
            out.append(max(around, key=lambda f: f.lineno).name if around else "<module>")
    return out


def test_endpoint_renames_only_in_pair_endpoints():
    dedup = PACKAGE / "operators" / "dedup.py"
    offenders = [
        f"{p.relative_to(ROOT)}:{fn}"
        for p in _sources(PACKAGE)
        for fn in _enclosing_functions(p, "withColumnsRenamed(")
        if (p, fn) != (dedup, "pair_endpoints")
    ]
    assert not offenders, f"hand-rolled _l/_r rename joins in {offenders}; use pair_endpoints"
    assert _enclosing_functions(dedup, "withColumnsRenamed(") == ["pair_endpoints"]


def test_sha2_only_at_ingest_and_first_seen_key():
    allowed = {
        PACKAGE / "pipeline" / "dedup_pipeline.py",
        PACKAGE / "streaming" / "state_dedup.py",
    }
    offenders = [
        str(p.relative_to(ROOT))
        for p in _sources(PACKAGE)
        if p not in allowed and "sha2(" in p.read_text()
    ]
    assert not offenders, f"sha2( in {offenders}; reuse the ingest content_sha256"
