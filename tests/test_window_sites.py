"""Tooling guard: ``operators/windows.py`` is the one place that builds an
entity-timeline window. Any other ``Window.partitionBy`` in the package or
the driver must be on the named list below, each with its reason."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# (file, enclosing function) -> why it is not a windows.py helper
ALLOWED = {
    ("recipeselectors_spark/operators/select_roc.py", "score"):
        "cumulative class counts over the per-feature histogram, ordered by x",
    ("recipeselectors_spark/operators/_permute.py", "rotate_columns"):
        "cyclic rotation within md5 hash buckets, ordered by the permutation key",
    ("recipeselectors_spark/operators/sampling.py", "pack_sequences"):
        "running token count within a pack bucket, ordered by the xxhash64 key",
    ("recipeselectors_spark/operators/dedup.py", "bucket_pairs"):
        "unordered bucket-size count on the LSH join keys (the skew cap)",
}


def _partition_by_sites(path: Path):
    """(enclosing function, line) of every ``Window.partitionBy`` in ``path``."""
    tree = ast.parse(path.read_text())
    funcs = [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "partitionBy"
            and isinstance(node.value, ast.Name)
            and node.value.id == "Window"
        ):
            # innermost function that spans the line
            owners = [
                f for f in funcs if f.lineno <= node.lineno <= f.end_lineno
            ]
            owner = max(owners, key=lambda f: f.lineno).name if owners else "<module>"
            yield owner, node.lineno


def test_window_partition_by_only_in_windows_py():
    files = [ROOT / "__spark_entry__.py"] + sorted(
        (ROOT / "recipeselectors_spark").rglob("*.py")
    )
    found = {}
    for path in files:
        rel = path.relative_to(ROOT).as_posix()
        if rel == "recipeselectors_spark/operators/windows.py":
            continue
        for owner, line in _partition_by_sites(path):
            found.setdefault((rel, owner), []).append(line)
    stray = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not stray, (
        "Window.partitionBy outside operators/windows.py (use its helpers, "
        f"or add the site to ALLOWED with its reason): {stray}"
    )
    stale = set(ALLOWED) - set(found)
    assert not stale, f"allowed sites with no Window.partitionBy left: {stale}"
