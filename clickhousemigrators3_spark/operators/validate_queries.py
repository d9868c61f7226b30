"""Registered validation queries — A3 as one distributed aggregate, plus the
checksum upgrade (SURVEY §7.2 step 3).

Scenario fixture: "dst" is lineitem with one composite partition missing
(R/F), simulating a partially-migrated backup. The validation query must
flag exactly that partition and pass the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import oracle_hash_sql, oracle_row_concat, row_concat, stable_hash32
from ..registry import register
from .validate import count_validation

KEYS = ["l_returnflag", "l_linestatus"]


@register(
    "a3_count_validation_join",
    """
    WITH src AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS src_cnt
      FROM lineitem GROUP BY 1, 2
    ),
    dst AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS dst_cnt
      FROM lineitem
      WHERE NOT (l_returnflag = 'R' AND l_linestatus = 'F')
      GROUP BY 1, 2
    )
    SELECT COALESCE(s.l_returnflag, d.l_returnflag) AS l_returnflag,
           COALESCE(s.l_linestatus, d.l_linestatus) AS l_linestatus,
           CAST(s.src_cnt AS BIGINT) AS src_cnt,
           CAST(d.dst_cnt AS BIGINT) AS dst_cnt,
           (s.src_cnt IS NOT DISTINCT FROM d.dst_cnt) AS passed
    FROM src s FULL OUTER JOIN dst d
      ON s.l_returnflag = d.l_returnflag AND s.l_linestatus = d.l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def a3_count_validation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (``migration.py:480-495``, ``validator.py:38-56``): per-partition
    src-vs-dst count equality for ALL partitions in one union aggregate —
    versus the reference's 2 scalar queries per partition. At 100 TB: two
    column-pruned scans, one shuffle of #partitions rows, no join."""
    src = load_table(spark, sf_dir, "lineitem")
    dst = src.filter(~((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F")))
    return count_validation(src, dst, KEYS).orderBy(*KEYS)


_CONCAT_COLS = ["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"]


@register(
    "a3_checksum_validation",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS row_cnt,
           CAST(SUM({oracle_hash_sql(oracle_row_concat(_CONCAT_COLS), bits=32)}) AS BIGINT)
             AS content_hash
    FROM lineitem
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def a3_checksum_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum upgrade of A3: order-insensitive per-partition content hash
    (sum of 32-bit stable row hashes). Same cost class as the count — one
    pass, map-side combine — but catches content corruption that equal row
    counts cannot (SURVEY §7.2 step 3)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(*KEYS)
        .agg(
            F.count(F.lit(1)).alias("row_cnt"),
            F.sum(stable_hash32(row_concat(_CONCAT_COLS))).alias("content_hash"),
        )
        .orderBy(*KEYS)
    )


@register(
    "dq_constraint_violations",
    """
    SELECT 'lineitem_orphan'        AS check_name,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_bad
    UNION ALL
    SELECT 'orders_orphan_customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           (SELECT COUNT(*) FROM lineitem
            WHERE CAST(l_quantity AS DECIMAL(18,2)) <= 0)
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE CAST(l_discount AS DECIMAL(18,2)) NOT BETWEEN 0 AND 1)
    UNION ALL
    SELECT 'orders_null_date',
           (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL)
    ORDER BY check_name
    """,
)
def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over the fixture warehouse:
    referential-integrity orphans (anti-joins), domain-range violations,
    and null-key counts — the pre-migration guardrail a real A4-style
    invariant check grows into (and the shape tools like dbt tests /
    Deequ compile to).

    Scale: each referential check is ONE left-anti join that shuffles only
    join keys; range/null checks are scan-local conditional counts. The
    union of five scalar rows is metadata-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def one(name: str, df) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    checks = [
        one(
            "lineitem_orphan",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"),
        ),
        one(
            "orders_orphan_customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        ),
        one(
            "lineitem_nonpositive_qty",
            li.filter(F.col("l_quantity").cast("decimal(18,2)") <= 0),
        ),
        one(
            "lineitem_discount_range",
            li.filter(
                ~F.col("l_discount").cast("decimal(18,2)").between(0, 1)
            ),
        ),
        one("orders_null_date", o.filter(F.col("o_orderdate").isNull())),
    ]
    out = checks[0]
    for df in checks[1:]:
        out = out.unionByName(df)
    return out.orderBy("check_name")
