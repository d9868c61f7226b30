"""Partition discovery and predicates — SURVEY.md §2.2 (M4, M6) + §2.3 (A6).

Reference parity:

* M4 — ``SELECT DISTINCT partition FROM system.parts WHERE … ORDER BY
  partition`` (``partition.py:107-114``). Spark-native: distinct over the
  partition-key *expressions* on the data itself. Catalyst prunes the scan to
  exactly the key columns (check ``ReadSchema``), and for datasets written
  with ``partitionBy`` the distinct is answered from directory listing, not
  data. At 100 TB this is a column-pruned scan + partial-aggregate shuffle of
  only the distinct keys — bytes shuffled ∝ #partitions, not #rows.

* M6 — dynamic predicate generation (``partition.py:29-75``): typed equality
  on 1..n partition columns, AND-composed. The reference probes value text
  with ``float()`` to decide quoting; we take types from the schema and build
  a ``Column`` expression, which Catalyst turns into parquet row-group /
  partition pruning.

* A6 — resume set-difference (``resume.py:38``): uncompleted = all ∖ done,
  expressed as a LEFT ANTI join so it stays distributed.

A "partition spec" is an ordered mapping column → value (composite keys
supported, parity with tuple partition values ``partition.py:38-57``).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def discover_partitions(df: DataFrame, keys: Sequence[str | Column]) -> DataFrame:
    """M4 — ordered distinct partition values for a (possibly derived,
    possibly composite) partition key.

    ``keys`` may be column names or derived expressions; aliased expressions
    keep their alias as the output column name.
    """
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    out = df.select(*cols).distinct()
    return out.orderBy(*[F.col(c) for c in out.columns])


def partition_predicate(spec: Mapping[str, object]) -> Column:
    """M6 — ``(k1 = v1) AND (k2 = v2) …`` as a Column expression.

    Types come from the literal's Python type / the column's schema — no
    string probing (obsoletes reference F4, ``partition.py:63-69``). NULL
    partition values use null-safe equality (ClickHouse partition values are
    never NULL, but parquet partition columns can be).
    """
    if not spec:
        raise ValueError("empty partition spec")
    clauses = [F.col(k).eqNullSafe(F.lit(v)) for k, v in spec.items()]
    return reduce(lambda a, b: a & b, clauses)


def quote_name(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier, for ``selectExpr``
    and string column arguments (dots and spaces stay part of the name)."""
    return "`" + name.replace("`", "``") + "`"


def partition_order_key(values: Sequence) -> list:
    """Sort key that puts partition tuples in Spark's ascending ``orderBy``
    order: NULLs first, NaN after every other number. Partition lists are
    bounded by #partitions, so they are sorted on the driver rather than by
    a Spark range shuffle."""
    return [(0,) if v is None else (1, 1) if v != v else (1, 0, v) for v in values]


def remaining_partitions(
    all_parts: DataFrame, done_parts: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """A6/C4 — resume filter: partitions not yet completed, as a LEFT ANTI
    join on the partition-key columns (reference: Python list set-difference
    ``resume.py:38`` — fine for metadata, but the join form also scales to
    millions of partitions and stays on executors)."""
    return all_parts.join(done_parts, on=list(keys), how="left_anti")
