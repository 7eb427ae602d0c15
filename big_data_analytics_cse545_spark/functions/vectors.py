"""Vector column expressions — dot products, norms, cosine,
hyperplane-LSH buckets — as JVM expressions, no Python UDFs.

The reference does all vector math in per-row numpy inside RDD lambdas
(``Assignment 2/a2_ahuja.py:48-49, 257, 299``); these expressions keep the
same semantics inside the JVM. Elements are cast to double before
multiplying so an oracle engine reproduces the arithmetic exactly.

Two execution forms, SAME arithmetic (round-12 optimization, guide §4.1):

* ``dot``/``norm``/``cosine``/``euclidean`` (Column API):
  ``zip_with``/``aggregate`` higher-order functions — length-generic
  and one compact expression node, but Spark evaluates HOF lambdas
  INTERPRETED (CodegenFallback): ~3 array allocations and ~2·dim boxed
  lambda calls per cosine, which made the pair-filter queries (d11,
  s01…s06) spend most of their execution in ``ArrayAggregate``.
* ``dot_sql``/``norm_sql``/``dot_literal_sql`` (SQL-string builders,
  for callers that KNOW the vector width, e.g. the embeddings table's
  64): an unrolled ``0.0D + x[0]·y[0] + x[1]·y[1] + …`` string for
  ``F.expr`` that whole-stage codegen compiles — measured 3.5-4×
  faster per element than the HOF form at 2M rows (noop sink). The
  fold order is the SAME left-associated ``((0.0 + t0) + t1) + …`` as
  ``aggregate``'s, every element goes through the same cast-to-double,
  and ``x[i]`` is null-on-out-of-bounds (matching zip_with's null
  padding on a shorter array), so the two forms return bit-identical
  doubles on equal-length rows — pinned by tests/test_functions.py.

  Why strings and not unrolled Column objects: every Python-side
  Column operator is a py4j round-trip, and 64-term sums built that
  way cost 5-8 SECONDS of driver time per query just to CONSTRUCT
  (measured on p02/s06) — the string parses in one call. Only pass a
  ``dim`` equal to the data's width: on longer arrays the unrolled
  form silently ignores the tail where the HOF form consumes it.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(x: Column) -> Column:
    return F.sqrt(dot(x, x))


def cosine(x: Column, y: Column) -> Column:
    return dot(x, y) / (norm(x) * norm(y))


def cosine_pre(dot_xy: Column, norm_x: Column, norm_y: Column) -> Column:
    """Cosine from a per-pair dot and PER-ROW hoisted norms.

    ``cosine(x, y)`` recomputes both operands' norms for every pair a
    join produces; when each row participates in many pairs the norm is
    the same value folded again and again. Computing ``norm(x)`` once
    per row (same expression, same bits) and dividing here is identical
    double arithmetic — ``dot/(nx*ny)`` either way."""
    return dot_xy / (norm_x * norm_y)


def euclidean(x: Column, y: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                x, y, lambda a, b: (a.cast("double") - b.cast("double")) ** 2
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# ---------------------------------------------------------------------------
# codegen-unrolled SQL-string builders (round-12 optimization, guide §4.1)
# ---------------------------------------------------------------------------


def dot_sql(x: str, y: str, dim: int) -> str:
    """Unrolled dot product of two array COLUMN NAMES as a SQL string
    for ``F.expr`` — bit-identical to ``dot(col(x), col(y))`` on
    ``dim``-wide rows (module docstring has the equivalence argument;
    tests/test_functions.py pins it)."""
    terms = "".join(
        f" + CAST(`{x}`[{i}] AS DOUBLE) * CAST(`{y}`[{i}] AS DOUBLE)"
        for i in range(dim)
    )
    return "0.0D" + terms


def norm_sql(x: str, dim: int) -> str:
    """Unrolled ``sqrt(Σ x[i]²)`` — bit-identical to ``norm(col(x))``
    on ``dim``-wide rows."""
    return f"SQRT({dot_sql(x, x, dim)})"


def dot_literal_sql(weights: list[float], y: str) -> str:
    """Unrolled ``Σ wᵢ·y[i]`` for a PYTHON-side constant weight vector
    — bit-identical to ``dot(F.array(*map(F.lit, weights)), col(y))``:
    same left-associated fold, same cast-to-double per element (the
    weights are embedded as exact round-trip double literals, and
    IEEE multiplication is commutative bit-for-bit)."""
    terms = "".join(
        f" + {w!r}D * CAST(`{y}`[{i}] AS DOUBLE)"
        for i, w in enumerate(map(float, weights))
    )
    return "0.0D" + terms


# ---------------------------------------------------------------------------
# random-hyperplane LSH buckets (s02/s05/s06, d11, api.ann_join,
# api.semantic_dedup)
# ---------------------------------------------------------------------------


def _plane_sign(p: int, d: int) -> int:
    """Entry ``d`` of hyperplane ``p``: ±1 from the parity of the first
    hex digit of md5('p_d'), so a DuckDB twin regenerates the identical
    planes with SQL md5()."""
    nib = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0], 16)
    return 1 if nib % 2 == 0 else -1


def hyperplane_bucket_expr(
    col: str, n_planes: int, dim: int | None, plane_offset: int = 0
) -> str:
    """Hyperplane-LSH bucket of array column ``col`` as Spark SQL text
    for ``F.expr``: Σ_p [dot(plane_{offset+p}, col) > 0]·2^p, an int.
    ``plane_offset`` selects an independent plane family (table t of an
    OR-construction uses offset t·n_planes).

    With ``dim`` given the signs are literal ``array(±1.0D, …)``; with
    ``dim=None`` each row derives them from its own size() through the
    same md5 parity, so no driver action probes the width. Either way
    each plane is one interpreted ``aggregate(zip_with(…))`` fold — the
    unrolled 64-term form costs more in analysis/codegen than the fold
    at bench scale (OPTIMIZATION_r12.md). Text, not Column objects: a
    Column-built plane is ``dim`` py4j calls (s06's 18 planes × 2 sides:
    1.15 s median DataFrame build, vs 0.44 s as text, local[4] on a
    4-core VM); the string parses in one call however many tables a
    caller packs into one ``array(…)``.
    A NULL row, or one whose width is not ``dim``, projects to NULL on
    every plane and lands in bucket 0. ``col`` is one top-level column
    name, quoted as an identifier: alias a nested field first."""
    col = col.replace("`", "``")
    bucket = "0"
    for p in range(n_planes):
        gp = plane_offset + p
        if dim is None:
            signs = (
                f"transform(sequence(0, size(`{col}`) - 1), d -> CASE WHEN "
                f"(locate(substr(md5(concat('{gp}', '_', cast(d AS STRING))), 1, 1), "
                f"'0123456789abcdef') - 1) % 2 = 0 THEN 1.0D ELSE -1.0D END)"
            )
        else:
            signs = "array(" + ", ".join(
                f"{_plane_sign(gp, d)}.0D" for d in range(dim)
            ) + ")"
        bucket += (
            f" + CASE WHEN aggregate(zip_with({signs}, `{col}`, "
            f"(s, x) -> s * CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v) > 0 "
            f"THEN {2 ** p} ELSE 0 END"
        )
    return bucket
