"""Every public top-level function in ``sqlpp_spark/ops/*.py`` has a
caller outside tests: a Name, Attribute or import reference somewhere in
``sqlpp_spark/``, ``bench.py`` or ``perfbench/``, not counting its own
body. Docstrings and comments do not count. AST only — no Spark."""

from __future__ import annotations

import ast
import functools
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]

# Public ops functions that only tests call today. This list may only
# shrink: give a new function a product caller, or make it private.
TEST_ONLY = {
    "alaw_encode", "apply_orientation", "bmp_info", "bpe_learn_merges",
    "bucketed_join", "dedup_exact", "encode_png_gray", "gif_info",
    "hash_sample", "layout_zorder", "lsh_candidate_pairs", "mulaw_encode",
    "observed_filter", "png_info", "release_intermediates", "salted_groupby",
    "salted_join", "text_stats", "tiff_info", "updated_band_index",
    "updated_content_index", "webp_info", "write_bucketed", "write_warc_gz",
}


def _public_ops_functions() -> dict[str, str]:
    # a top-level def starts in column 0
    return {
        name: path.name
        for path in sorted((ROOT / "sqlpp_spark" / "ops").glob("*.py"))
        for name in re.findall(r"^(?:async )?def ([A-Za-z]\w*)",
                               path.read_text(), re.M)
    }


@functools.cache
def _referenced_names(path: pathlib.Path) -> frozenset[str]:
    refs: set[str] = set()
    for stmt in ast.parse(path.read_text()).body:
        names = set()
        for node in ast.walk(stmt):
            kind = type(node)
            if kind is ast.Name:
                names.add(node.id)
            elif kind is ast.Attribute:
                names.add(node.attr)
            elif kind is ast.alias:
                names.add(node.name.rsplit(".", 1)[-1])
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            # a top-level def's own body does not count as a caller of it
            names.discard(stmt.name)
        refs |= names
    return frozenset(refs)


def _has_caller(name: str, sources: dict[pathlib.Path, str]) -> bool:
    # parse only files whose text mentions the name, smallest first
    hits = sorted((p for p, text in sources.items() if name in text),
                  key=lambda p: len(sources[p]))
    return any(name in _referenced_names(p) for p in hits)


def test_public_ops_functions_have_product_callers():
    files = [
        *(ROOT / "sqlpp_spark").rglob("*.py"),
        ROOT / "bench.py",
        *(ROOT / "perfbench").rglob("*.py"),
    ]
    sources = {path: path.read_text() for path in files}
    defs = _public_ops_functions()
    used = {name for name in defs if _has_caller(name, sources)}
    unused = {
        f"{module}:{name}" for name, module in defs.items()
        if name not in used and name not in TEST_ONLY
    }
    assert not unused, (
        f"public ops functions with no caller outside tests: {sorted(unused)}"
    )
    # keep the allowlist honest: every entry still exists and is still
    # test-only, so it shrinks as soon as a name gains a caller
    stale = {n for n in TEST_ONLY if n not in defs or n in used}
    assert not stale, f"remove from TEST_ONLY: {sorted(stale)}"
