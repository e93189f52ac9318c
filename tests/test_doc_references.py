"""Docs name only package code that exists. A module path or dotted name
under the package (``sources/sinks.py``, ``operators.upsert.merge_new_only``,
``sources/sinks.write_staged``) in a code span of the user-facing docs, a
query description, or a package docstring or comment must import and
resolve: deleting a def must take its mentions with it. The history logs
(CHANGES.md, NOTES.md, ROADMAP.md) name deleted code on purpose and are
not checked.

Runs without Spark: it imports the package, it starts no session."""

from __future__ import annotations

import ast
import importlib
import io
import re
import tokenize
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG_NAME = "datalakes_and_data_integration_spark"
PKG = ROOT / PKG_NAME

_SUBS = sorted(
    p.stem
    for p in PKG.iterdir()
    if not p.name.startswith("_") and (p.is_dir() or p.suffix == ".py")
)
# A reference starts a word (not the tail of a longer dotted or
# underscored name) with a top-level package module, optionally behind
# the package's own name: a path, then dotted names
# (``sources/sinks.py``, ``sources/sinks.write_staged``, ``plans.ml``).
_REF = re.compile(
    rf"(?<![\w.])(?:{PKG_NAME}[./])?((?:{'|'.join(_SUBS)})"
    rf"(?:/[A-Za-z_]\w*)*(?:\.[A-Za-z_]\w*)*)"
)
_CODE_SPAN = re.compile(r"`([^`\n]+)`")


def _resolves(ref: str) -> bool:
    parts = ref.removesuffix(".py").replace("/", ".").split(".")
    for i in range(len(parts), 0, -1):
        mod = ".".join([PKG_NAME, *parts[:i]])
        try:
            obj = importlib.import_module(mod)
        except ModuleNotFoundError as e:
            if not f"{mod}.".startswith(f"{e.name}."):
                raise  # the module exists but an import inside it fails
            continue
        for name in parts[i:]:
            if not hasattr(obj, name):
                return False
            obj = getattr(obj, name)
        return True
    return False


def _stale(text: str) -> list[str]:
    refs = {r for r in _REF.findall(text) if r.strip("./") not in _SUBS}
    return sorted(r for r in refs if not _resolves(r))


@pytest.mark.parametrize("doc", ["README.md", "COVERAGE.md", "SCALE.md"])
def test_docs_name_existing_package_code(doc):
    spans = _CODE_SPAN.findall((ROOT / doc).read_text())
    stale = _stale("\n".join(spans))
    assert not stale, f"{doc} names package code that is gone: {stale}"


def test_query_descriptions_name_existing_package_code():
    from datalakes_and_data_integration_spark.plans import QUERIES

    stale = {
        name: refs
        for name, q in QUERIES.items()
        if (refs := _stale(q.description))
    }
    assert not stale, f"query descriptions name code that is gone: {stale}"


def _docstrings_and_comments(src: str) -> str:
    tree = ast.parse(src)
    docs = [
        ast.get_docstring(n) or ""
        for n in ast.walk(tree)
        if isinstance(
            n,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        )
    ]
    comments = [
        t.string
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type == tokenize.COMMENT
    ]
    return "\n".join(docs + comments)


def test_package_docstrings_and_comments_name_existing_code():
    stale = {
        str(f.relative_to(ROOT)): refs
        for f in sorted(PKG.rglob("*.py"))
        if (refs := _stale(_docstrings_and_comments(f.read_text())))
    }
    assert not stale, f"docstrings or comments name code that is gone: {stale}"
