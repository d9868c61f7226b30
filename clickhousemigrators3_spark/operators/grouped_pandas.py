"""Per-group statistics that read like ``applyInPandas`` jobs (SURVEY §7.3
"custom operators", option b) but run as JVM windows and aggregates: no
Python boundary, so each query stays inside whole-stage codegen and
oracles against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


@register(
    "grouped_zscore_per_lang",
    """
    SELECT doc_id,
           ROUND((n_chars - avg(n_chars) OVER (PARTITION BY lang))
                 / stddev_samp(n_chars) OVER (PARTITION BY lang), 6) AS z
    FROM documents ORDER BY doc_id
    """,
)
def grouped_zscore_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document length — per-group normalization
    (feature scaling, outlier trimming) in its pure-JVM window form: mean
    and stddev over a ``PARTITION BY lang`` window, no Python boundary, so
    the whole query stays inside whole-stage codegen (this is literally the
    oracle SQL's own shape). Output rounded to 6dp because the two engines
    compute variance by different algorithms (ulp-level drift)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang")
    z = F.round(
        (F.col("n_chars") - F.avg("n_chars").over(w))
        / F.stddev_samp("n_chars").over(w),
        6,
    )
    return d.select("doc_id", z.alias("z")).orderBy("doc_id")


@register(
    "grouped_linear_trend_per_user",
    """
    SELECT user_id,
           ROUND(COALESCE(regr_slope(value, epoch(ts)) * 86400, 0), 6)
               AS slope_per_day,
           COUNT(*) AS n
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def grouped_linear_trend_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event values over time via the native
    ``regr_slope`` aggregate — one shuffle, pure JVM HashAggregate, no
    Python boundary (the DuckDB oracle uses its own ``regr_slope``). Slope
    reported per *day* and rounded to 6dp to absorb fp summation-order
    drift between engines."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    # micros/1e6 matches DuckDB's epoch(ts) bit-for-bit (UTC session TZ)
    epoch = F.unix_micros(F.col("ts").cast("timestamp")) / 1e6
    return (
        e.groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.regr_slope(F.col("value"), epoch) * 86400.0, F.lit(0.0)
                ),
                6,
            ).alias("slope_per_day"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )
