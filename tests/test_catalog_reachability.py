"""Guard against operators that are built but not registered.

Every function in ``plans/*.py`` with the ``(spark, sf_dir)`` query
signature must be a catalog query, be called by name from package
code, or sit on the short allowlist of reference twins below.
"""

from __future__ import annotations

import ast
import pathlib

import real_estate_etl_dev_spark as pkg
from real_estate_etl_dev_spark.plans.catalog import CATALOG

PKG_DIR = pathlib.Path(pkg.__file__).parent

# Unregistered query-signature functions that tests compare a
# registered query against.  Each entry needs a one-line reason.
REFERENCE_TWINS = {
    # the summarizer-operator form of embedding_centroids; the test
    # suite checks both paths give the same centroids
    "embedding_centroids_summarizer",
}


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _query_signature_functions() -> dict[str, str]:
    found = {}
    for path in sorted((PKG_DIR / "plans").glob("*.py")):
        for node in _parse(path).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            args = [a.arg for a in node.args.args[:2]]
            if args == ["spark", "sf_dir"]:
                found[node.name] = path.name
    return found


def _called_names() -> set[str]:
    names = set()
    for path in PKG_DIR.rglob("*.py"):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                f = node.func
                if isinstance(f, ast.Name):
                    names.add(f.id)
                elif isinstance(f, ast.Attribute):
                    names.add(f.attr)
    return names


def test_every_query_signature_function_is_reachable():
    registered = {q.fn.__name__ for q in CATALOG.values()}
    defined = _query_signature_functions()
    reachable = registered | _called_names() | REFERENCE_TWINS
    orphans = sorted(
        f"{module}:{name}" for name, module in defined.items() if name not in reachable
    )
    assert not orphans, (
        f"unreachable query-signature functions (not registered, not called "
        f"from package code, not allowlisted): {orphans} — register, call "
        "or delete them"
    )
    stale = sorted(n for n in REFERENCE_TWINS if n not in defined or n in registered)
    assert not stale, f"prune REFERENCE_TWINS: {stale}"
