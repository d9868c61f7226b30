"""Validation operators — SURVEY.md §2.3 (A1-A4) re-designed for scale.

Reference parity: ``validator.py`` compares per-partition row counts with 2
scalar ``count(*)`` queries per partition plus 2 full-table counts
(``validator.py:24-34``, ``migration.py:480-517``). That is O(#partitions)
query round-trips. Here validation of *all* partitions is ONE aggregate:
both sides are projected to ``(keys, side flag[, row hash])``, unioned, and
grouped once by the partition keys with per-side conditional sums — at
100 TB the cost is two column-pruned scans plus a shuffle of #partitions
rows, one exchange and no join. The ``groupBy`` groups NULL key values
together, so a NULL partition validates like any other.

Upgrade (SURVEY §7.2 step 3): optional content checksum via an
order-insensitive ``sum(xxhash64(*cols))`` per group — same cost class as the
count, catches corruption that equal counts cannot.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.partitions import quote_name


def count_validation(
    src: DataFrame,
    dst: DataFrame,
    keys: Sequence[str],
    checksum_cols: Sequence[str] | None = None,
) -> DataFrame:
    """A3 — src-vs-dst per-partition validation as one union aggregate.

    Returns one row per partition key with ``src_cnt``, ``dst_cnt``,
    ``passed`` (and ``src_hash``/``dst_hash`` when ``checksum_cols`` is
    given), in the order ``keys, src_cnt, [src_hash], dst_cnt, [dst_hash],
    passed``. A partition present on only one side shows NULL on the other
    and fails. No keys → one global row. Reference semantics:
    ``migration.py:480-495`` / ``validator.py:38-56``, minus the
    per-partition round-trips.

    Each side is one ``selectExpr`` of quoted names (a Column-function call
    costs several py4j round trips each on PySpark 4.x)."""
    key_exprs = [quote_name(k) for k in keys]
    row_hash = []
    if checksum_cols:
        # order-insensitive: sum of per-row hashes is commutative; mask to
        # 31 bits so the ANSI-mode long sum can't overflow (safe to 2^32
        # rows per group)
        cols = ", ".join(quote_name(c) for c in checksum_cols)
        row_hash = [f"xxhash64({cols}) & 2147483647 AS _row_hash"]
    both = src.selectExpr(*key_exprs, "true AS _from_src", *row_hash).union(
        dst.selectExpr(*key_exprs, "false AS _from_src", *row_hash)
    )
    # each side's sum is NULL when that side has no rows in the group
    aggs = ["sum(if(_from_src, 1L, NULL)) AS src_cnt"]
    if checksum_cols:
        aggs.append("sum(if(_from_src, _row_hash, NULL)) AS src_hash")
    aggs.append("sum(if(_from_src, NULL, 1L)) AS dst_cnt")
    passed = "src_cnt <=> dst_cnt"
    if checksum_cols:
        aggs.append("sum(if(_from_src, NULL, _row_hash)) AS dst_hash")
        passed += " AND src_hash <=> dst_hash"
    grouped = both.groupBy(*key_exprs).agg(*[F.expr(a) for a in aggs])
    return grouped.selectExpr("*", f"{passed} AS passed")
