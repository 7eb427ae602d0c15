"""One kernel per capability: the engine's Python sources spell each
text/dedup/similarity algorithm exactly once. Scans the parsed source of every
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


def _is_plane_sign_md5(node):
    """``hashlib.md5(f"{p}_{d}"...)``: the hyperplane sign hash (the
    ``rp_`` random-projection family starts with a literal prefix)."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "md5"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "hashlib"
        and node.args
    ):
        return False
    arg = node.args[0]
    if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Attribute):
        arg = arg.func.value  # f"...".encode()
    return (
        isinstance(arg, ast.JoinedStr)
        and [type(v) for v in arg.values]
        == [ast.FormattedValue, ast.Constant, ast.FormattedValue]
        and arg.values[1].value == "_"
    )


def test_plane_sign_spelled_once_in_functions_vectors():
    where = [
        name
        for name, tree in _modules()
        for node in ast.walk(tree)
        if _is_plane_sign_md5(node)
    ]
    assert where == ["functions/vectors.py"], where


def _own_nodes(func):
    """Nodes of ``func``'s body, not descending into nested functions."""
    todo = list(func.body)
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, ast.FunctionDef):
            todo.extend(ast.iter_child_nodes(node))


def test_spark_bucket_packing_spelled_once():
    """A function that packs plane signs into a power-of-two bucket
    (a ``*plane_sign(...)`` call and a ``2 ** p`` term in its own body);
    the DuckDB twin (``list_transform``) is the reference, not a copy."""
    where = []
    for name, tree in _modules():
        for func in ast.walk(tree):
            if not isinstance(func, ast.FunctionDef):
                continue
            nodes = list(_own_nodes(func))
            signs = any(
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Name)
                and n.func.id.endswith("plane_sign")
                for n in nodes
            )
            packs = any(
                isinstance(n, ast.BinOp)
                and isinstance(n.op, ast.Pow)
                and isinstance(n.left, ast.Constant)
                and n.left.value == 2
                for n in nodes
            )
            duckdb = any(
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and "list_transform" in n.value
                for n in nodes
            )
            if signs and packs and not duckdb:
                where.append(f"{name}:{func.name}")
    assert where == ["functions/vectors.py:hyperplane_bucket_expr"], where
