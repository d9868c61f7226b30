"""Vector expressions over ``array<float>`` embedding columns.

All JVM higher-order functions (``zip_with`` + ``aggregate``) — no Python in
the loop. Floats are cast to double *before* any arithmetic so the
sequential left-to-right summation matches DuckDB's ``list_*`` functions
bit-for-bit (both engines accumulate in order over doubles).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (0 when either norm is 0)."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(d / (na * nb))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with PRE-COMPUTED norms — the pairwise-join form: project
    ``norm(v)`` once per row on each side BEFORE the join, so the per-pair
    work is one dot product instead of three array traversals. At Q queries
    × N corpus rows this removes Q·N norm evaluations. Bit-identical to
    :func:`cosine`: same guard, same ``d / (na * nb)`` operation order."""
    d = dot(a, b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(d / (na * nb))


# --- DuckDB twins: expression over DOUBLE[] lists --------------------------


def sql_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def sql_cosine(a: str, b: str) -> str:
    d = sql_dot(a, b)
    na = f"sqrt({sql_dot(a, a)})"
    nb = f"sqrt({sql_dot(b, b)})"
    return (
        f"(CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 "
        f"ELSE {d} / ({na} * {nb}) END)"
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance — sequential left-to-right accumulation over
    doubles, same determinism contract as dot()."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_l2sq(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
