"""The liveDocs rule is structural: every query-side task reads a
segment's docmap through ``executor.SegmentDomain`` (the LeafReader
analog), so no new read path can skip the tombstone mask.

Walks the AST of ``lucene_solr_spark/query/*.py`` and ``handler.py``:
the mask primitives ``apply_deletes`` / ``filter_mask`` are called only
inside ``SegmentDomain``, the literal ``docmap.parquet`` appears only
there, and the liveDocs probe (a ``live`` / ``_live_docs`` call) runs
only inside the reader and its ``Leaf`` — a caller takes the mask the
reader already built instead of probing every doc key again
(``early_topk`` streams its batches through ``SegmentDomain.stream``).
Docstrings are prose and are not checked.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

ROOT = os.path.join(os.path.dirname(__file__), "..", "lucene_solr_spark")
FILES = sorted(glob.glob(os.path.join(ROOT, "query", "*.py"))) + [
    os.path.join(ROOT, "handler.py")
]
MASK_CALLS = {"apply_deletes", "filter_mask"}
#: the reader's own liveDocs probe: a caller takes the mask the reader
#: built (``Leaf.live``) instead of probing the keys again
PROBE_CALLS = {"live", "_live_docs"}
#: the reader and the segment view it hands out
READER = {"SegmentDomain", "Leaf"}


def _sites(path: str):
    """(kind, name, enclosing class/function names, line) for every
    mask call and every non-docstring ``docmap.parquet`` literal."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            doc = ast.get_docstring(node, clean=False)
            if doc is not None:
                docstrings.add(id(node.body[0].value))
    out = []

    def visit(node, scope):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            scope = scope + (node.name,)
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name in MASK_CALLS:
                out.append(("call", name, scope, node.lineno))
            elif name in PROBE_CALLS:
                out.append(("probe", name, scope, node.lineno))
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and "docmap.parquet" in node.value
                and id(node) not in docstrings):
            out.append(("literal", "docmap.parquet", scope, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, ())
    return out


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_mask_primitives_called_only_in_segment_reader(path):
    bad = [
        f"{os.path.basename(path)}:{line} {name} in {'.'.join(scope)}"
        for kind, name, scope, line in _sites(path)
        if kind == "call" and "SegmentDomain" not in scope
    ]
    assert not bad, bad


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_livedocs_probed_only_in_segment_reader(path):
    bad = [
        f"{os.path.basename(path)}:{line} {name} in {'.'.join(scope)}"
        for kind, name, scope, line in _sites(path)
        if kind == "probe" and not READER & set(scope)
    ]
    assert not bad, bad


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_docmap_read_only_in_segment_reader(path):
    bad = [
        f"{os.path.basename(path)}:{line} in {'.'.join(scope)}"
        for kind, _, scope, line in _sites(path)
        if kind == "literal" and "SegmentDomain" not in scope
    ]
    assert not bad, bad


def test_guard_sees_the_reader():
    """The walk is not vacuous: it finds the reader's own mask calls
    and docmap path."""
    sites = _sites(os.path.join(ROOT, "query", "executor.py"))
    assert {n for k, n, s, _ in sites if "SegmentDomain" in s} == (
        MASK_CALLS | {"docmap.parquet", "_live_docs"}
    )
