"""Every ``persist()`` in the library must be released on ALL exit paths.

Round-7 review finding: gapfill and upsert/merge pinned frames with no
``unpersist()``, so a scheduler driver running those jobs for days
accumulated cached partitions until LRU churn (Spark's CacheManager holds
a strong reference — cached plans are NEVER garbage-collected without an
explicit release). The insert path's shape (``hypertable.py``
``_insert_prepared``: persist → try → finally unpersist) is the required
idiom; this test asserts it statically over the whole package so a new
unpaired pin cannot land.

Rules, per function that calls ``.persist(``:
- it must contain a ``try/finally`` whose finalbody calls ``unpersist``,
  OR
- be in the allowlist of functions whose docstring documents that the
  CALLER owns the release (checked to actually say so).

``localCheckpoint`` is exempt: its blocks are owned by the RDD and freed
by the ContextCleaner when the frame is garbage-collected (no CacheManager
registration), which is the correct lifecycle for frames returned to the
caller.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "timescaledb_spark")

# functions whose persisted frame is documented as released by the caller
CALLER_RELEASES = {
    ("hypertable.py", "_delete_row_triggers"),  # delete_where's try/finally
}


def _functions_with_persist():
    """Functions pinning a frame via ``.persist()`` OR ``.cache()`` —
    round-15 review: three new ``.cache()`` sites escaped the original
    ``.persist()``-only match, so the invariant now covers both spellings
    (``unpersist`` releases either)."""
    out = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())
            for node in ast.walk(tree):
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                src = ast.unparse(node)
                if ".persist(" in src or ".cache()" in src:
                    out.append((rel, node))
    return out


def _has_finally_unpersist(fn_node: ast.AST) -> bool:
    for node in ast.walk(fn_node):
        if isinstance(node, ast.Try) and node.finalbody:
            final_src = "\n".join(ast.unparse(s) for s in node.finalbody)
            if "unpersist" in final_src:
                return True
    return False


def test_every_persist_is_released_on_all_paths():
    found = _functions_with_persist()
    assert found, "expected at least one persist site (insert pinning)"
    bad = []
    for rel, fn_node in found:
        key = (os.path.basename(rel), fn_node.name)
        if key in CALLER_RELEASES:
            doc = ast.get_docstring(fn_node) or ""
            assert "persist" in doc.lower(), (
                f"{rel}:{fn_node.name} is allowlisted as caller-releases "
                f"but its docstring does not document the contract"
            )
            continue
        if not _has_finally_unpersist(fn_node):
            bad.append(f"{rel}:{fn_node.lineno} {fn_node.name}")
    assert not bad, (
        "persist() without a try/finally unpersist on all exit paths "
        f"(see _insert_prepared for the required idiom): {bad}"
    )


def test_gapfill_has_no_persist_at_all():
    """The grouped gapfill path must stay persist-free: it returns a lazy
    DataFrame, so no in-function release point exists — the round-8
    window+explode formulation removed the need for the cache entirely."""
    src = open(os.path.join(PKG, "operators", "gapfill.py")).read()
    assert ".persist(" not in src


def test_pipeline_has_no_cachemanager_pins():
    """Pipeline operators return lazy frames, so no in-function release
    point exists — any materialization they need must use
    ``localCheckpoint`` (blocks freed by the ContextCleaner on GC), never
    ``cache()``/``persist()`` (CacheManager holds a strong reference; a
    scheduler driver running curation jobs for days would accumulate
    pinned plans — the round-15 hygiene finding)."""
    bad = [
        f"pipeline/{rel}:{node.lineno} {node.name}"
        for rel, node in _functions_with_persist()
        if rel.startswith("pipeline") and not _has_finally_unpersist(node)
    ]
    assert not bad, (
        "pipeline functions pinning without an in-function release "
        f"(use localCheckpoint for frames returned lazily): {bad}"
    )
