"""One kernel per capability: the engine's Python sources spell each
text/dedup algorithm exactly once. Scans the parsed source of every
engine module (not the DuckDB twin SQL, whose syntax differs), so a
re-spelled copy of a kernel fails here instead of drifting silently."""

from __future__ import annotations

import ast
from pathlib import Path

import big_data_analytics_cse545_spark
from big_data_analytics_cse545_spark.functions.text import TOKEN_SPLIT_RE

ENGINE = Path(big_data_analytics_cse545_spark.__file__).parent


def _modules():
    for path in sorted(ENGINE.rglob("*.py")):
        yield path.relative_to(ENGINE).as_posix(), ast.parse(path.read_text())


def _tokenizer_splits(tree):
    """``F.split(..., TOKEN_SPLIT_RE)`` calls (the regex by name or value)."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "split"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and any(
                (isinstance(a, ast.Name) and a.id == "TOKEN_SPLIT_RE")
                or (isinstance(a, ast.Constant) and a.value == TOKEN_SPLIT_RE)
                for a in node.args[1:]
            )
        ):
            yield node


def _strings(tree):
    """Every string constant, f-string pieces included."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.value


def test_tokenizer_spelled_once_in_functions_text():
    where = [
        name for name, tree in _modules() for _ in _tokenizer_splits(tree)
    ]
    assert where == ["functions/text.py"], where


def test_minhash_seed_spelled_once():
    # the K-M h1 seed as a Spark literal; the twin SQL spells it inside
    # a larger string ('a|' || shingle), which is not a whole constant
    where = [
        name for name, tree in _modules() for s in _strings(tree) if s == "a|"
    ]
    assert len(where) == 1, where


def test_shingle_construction_spelled_once():
    where = [
        name
        for name, tree in _modules()
        for s in _strings(tree)
        for _ in range(s.count("array_distinct(transform("))
    ]
    assert len(where) == 1, where
