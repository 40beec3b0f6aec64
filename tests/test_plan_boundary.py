"""Planning boundary: which files a read, fold or feed touches is decided in
``maestro_spark/plan.py`` alone. Outside it, a snapshot's ``.files`` is
read only where manifests are written, published, validated, cloned,
listed as metadata or garbage-collected, and file sizes come from file
stats, never from ``os.path.getsize``."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent / "maestro_spark"

# functions (by name, at any nesting depth) that may read Snapshot.files
FILES_ALLOWED = {
    # manifest write, publish and validation
    "_publish", "commit", "_validate_gap", "rollback", "adopt",
    "clone",
    # metadata tables
    "meta_files", "meta_snapshots",
    # garbage collection
    "orphan_files", "vacuum",
}
# module -> functions that may stat a file's size
GETSIZE_ALLOWED = {
    "filestats.py": None,      # harvests sizes at write time (any function)
    "plan.py": {"file_bytes"},  # fallback for a file with no stats
    "ingest.py": None,         # COPY INTO source-file tags
}


def _violations(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    out: list[str] = []

    def walk(node: ast.AST, scope: tuple[str, ...]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = (*scope, node.name)
        where = f"{path.name}:{getattr(node, 'lineno', '?')} in {'.'.join(scope) or '<module>'}"
        if isinstance(node, ast.Attribute) and node.attr == "files":
            if path.name != "plan.py" and not FILES_ALLOWED & set(scope):
                out.append(f"snapshot .files read at {where}")
        if (isinstance(node, ast.Attribute) and node.attr == "getsize") or (
            isinstance(node, ast.Name) and node.id == "getsize"
        ):
            allowed = GETSIZE_ALLOWED.get(path.name, set())
            if allowed is not None and not allowed & set(scope):
                out.append(f"os.path.getsize at {where}")
        for child in ast.iter_child_nodes(node):
            walk(child, scope)

    walk(tree, ())
    return out


def test_only_the_planner_reads_snapshot_files_or_stats_sizes():
    sources = sorted(ROOT.rglob("*.py"))
    assert any(p.name == "plan.py" for p in sources)
    bad = [v for p in sources for v in _violations(p)]
    assert bad == [], "\n".join(bad)


def test_guard_sees_a_planted_violation(tmp_path):
    planted = tmp_path / "reader.py"
    planted.write_text(
        "import os\n"
        "def read(snap):\n"
        "    return [p for ps in snap.files.values() for p in ps]\n"
        "def size(p):\n"
        "    return os.path.getsize(p)\n"
        "def vacuum(snap):\n"
        "    return snap.files\n"
    )
    assert _violations(planted) == [
        "snapshot .files read at reader.py:3 in read",
        "os.path.getsize at reader.py:5 in size",
    ]
