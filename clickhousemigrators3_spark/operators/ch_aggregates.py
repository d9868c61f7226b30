"""ClickHouse-parity aggregate surfaces beyond the basics (SURVEY.md §2.3
covers the reference's own aggregations; these are the combinator-style
aggregates ClickHouse users lean on — groupBitAnd/Or/Xor, entropy,
topKWeighted, groupArrayMovingSum, runningDifference — re-expressed as
Spark built-ins so they stay inside whole-stage codegen).

Scale notes: every query here is a single grouped aggregation or a single
partitioned window — one shuffle each, no Python boundary, no driver-side
iteration. The moving-window forms reuse the same (user) partitioning the
event queries already shuffle on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import dataset_tag, load_table
from ..registry import register


@register(
    "bitwise_agg_surface",
    """
    SELECT event_type,
           CAST(bit_and(user_id) AS BIGINT) AS band,
           CAST(bit_or(user_id) AS BIGINT) AS bor,
           CAST(bit_xor(user_id) AS BIGINT) AS bxor,
           CAST(LEAST(COUNT(DISTINCT user_id), 10) AS BIGINT) AS uniq_upto_10
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def bitwise_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse groupBitAnd/groupBitOr/groupBitXor + uniqUpTo(10) parity:
    Spark's bit_and/bit_or/bit_xor aggregates (JVM, map-side combinable) and
    a capped distinct count. One grouped aggregation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.bit_and("user_id").alias("band"),
            F.bit_or("user_id").alias("bor"),
            F.bit_xor("user_id").alias("bxor"),
            F.least(F.count_distinct("user_id"), F.lit(10))
            .cast("long")
            .alias("uniq_upto_10"),
        )
        .orderBy("event_type")
    )


@register(
    "entropy_event_type_daily",
    """
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    t AS (SELECT day, SUM(n) AS tot FROM c GROUP BY day)
    SELECT c.day,
           ROUND(-SUM((CAST(n AS DOUBLE) / tot)
                      * log2(CAST(n AS DOUBLE) / tot)), 6) AS entropy,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM c JOIN t USING (day)
    GROUP BY c.day ORDER BY c.day
    """,
)
def entropy_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``entropy()`` parity: per-day Shannon entropy of the
    event-type distribution. Two grouped aggregations over the same day key
    (count per (day, type), then the -Σ p·log2 p combine) — the second
    reuses the first's partitioning, so one shuffle of the corpus total."""
    e = load_table(spark, sf_dir, "events")
    c = (
        e.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("day"))
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.withColumn("tot", tot)
        .groupBy("day")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .orderBy("day")
    )


@register(
    "topk_weighted_sources",
    """
    WITH w AS (
      SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS weight
      FROM documents GROUP BY 1, 2)
    SELECT lang, source, weight, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY weight DESC, source) AS rn
          FROM w)
    WHERE rn <= 3 ORDER BY lang, rank
    """,
)
def topk_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topKWeighted`` parity: per language, the top-3 sources
    by total character weight. Grouped sum then per-group window top-k —
    WindowGroupLimit keeps per-partition state at k rows, the same plan
    shape as window_topn (asserted there)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.groupBy("lang", "source").agg(
        F.sum("n_chars").cast("long").alias("weight")
    )
    win = Window.partitionBy("lang").orderBy(F.desc("weight"), F.asc("source"))
    return (
        w.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .select("lang", "source", "weight", F.col("rn").cast("long").alias("rank"))
        .orderBy("lang", "rank")
    )


@register(
    "moving_agg_per_user",
    """
    WITH m AS (
      SELECT user_id, event_id,
             SUM(CAST(value AS DECIMAL(18,2)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS msum,
             COUNT(*)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mcnt,
             value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM events)
    SELECT user_id, event_id,
           CAST(msum AS DOUBLE) AS moving_sum_3,
           ROUND(CAST(msum AS DOUBLE) / mcnt, 6) AS moving_avg_3,
           ROUND(value - COALESCE(prev, value), 2) AS running_diff
    FROM m ORDER BY user_id, event_id
    """,
)
def moving_agg_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse groupArrayMovingSum/Avg + runningDifference parity:
    per-user 3-row moving sum/avg over event values and the consecutive
    delta. One shuffle on user_id; both window frames share the same sort.
    The moving sum goes through DECIMAL(18,2) so the sliding-frame
    retraction order can never drift the float (registry determinism
    rule)."""
    e = load_table(spark, sf_dir, "events")
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    msum = F.sum(F.col("value").cast("decimal(18,2)")).over(frame)
    mcnt = F.count(F.lit(1)).over(frame)
    prev = F.lag("value").over(seq)
    return (
        e.select(
            "user_id",
            "event_id",
            msum.cast("double").alias("moving_sum_3"),
            F.round(msum.cast("double") / mcnt, 6).alias("moving_avg_3"),
            F.round(
                F.col("value") - F.coalesce(prev, F.col("value")), 2
            ).alias("running_diff"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "stats_correlation_surface",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
           ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def stats_correlation_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (ClickHouse corr/covarSamp/covarPop parity):
    single grouped aggregation, all moments accumulated map-side in one
    pass. Rounded because the two engines accumulate co-moments in
    different orders (covariance is not decimal-expressible)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar_s"
            ),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
                "covar_p"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "stats_regression_surface",
    """
    SELECT event_type,
           ROUND(regr_slope(value, epoch(ts)) * 86400, 6) AS slope_per_day,
           ROUND(regr_intercept(value, epoch(ts)), 4) AS intercept,
           ROUND(regr_r2(value, epoch(ts)), 6) AS r2,
           CAST(regr_count(value, epoch(ts)) AS BIGINT) AS n_pairs,
           ROUND(regr_avgy(value, epoch(ts)), 6) AS avg_y
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stats_regression_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full native linear-regression aggregate family (slope,
    intercept, r2, count, avgy) per event type — one JVM HashAggregate, the
    same epoch convention as grouped_linear_trend_per_user. ClickHouse
    expresses these via simpleLinearRegression; both engines here compute
    the closed-form moments in a single pass."""
    e = load_table(spark, sf_dir, "events")
    x = F.unix_micros(F.col("ts").cast("timestamp")) / 1e6
    y = F.col("value")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.regr_slope(y, x) * 86400.0, 6).alias("slope_per_day"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.regr_count(y, x).cast("long").alias("n_pairs"),
            F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
        )
        .orderBy("event_type")
    )


_PROFILE_COLS = ["l_returnflag", "l_linestatus", "l_linenumber", "l_quantity", "l_tax"]


@register(
    "profile_lineitem_columns",
    " UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM lineitem
        """
        for c in _PROFILE_COLS
    )
    + " ORDER BY col_name",
)
def profile_lineitem_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler — null count, distinct count, min/max per column in
    ONE table pass (the data-quality surface every migration validates
    with). Spark computes every column's metrics in a single wide
    aggregation and unpivots driver-free with ``stack``; the oracle's
    UNION ALL re-reads per column, which is exactly the n-pass cost this
    one-pass form avoids at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__nulls"),
            F.count_distinct(c).cast("long").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack}) AS "
                "(col_name, n_nulls, n_distinct, min_value, max_value)"
            )
        )
        .orderBy("col_name")
    )


@register(
    "date_arithmetic_surface",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
               AS plus_3m,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
           CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '1998-12-31') AS BIGINT) AS days_to_eoy
    FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey
    """,
)
def date_arithmetic_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic family (ClickHouse toLastDayOfMonth / addMonths /
    toQuarter / toDayOfWeek / toStartOfWeek / date_diff parity): pure JVM
    expressions over the scan, no shuffle beyond the final sort. DuckDB's
    ``dayofweek`` is 0-based Sunday-start vs Spark's 1-based, normalized in
    the oracle; month addition clamps end-of-month identically in both
    engines (2024-01-31 + 1 month = 2024-02-29)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).alias("plus_3m"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias(
            "days_to_eoy"
        ),
    ).orderBy("o_orderkey")


@register(
    "counter_analytics_per_user",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             CAST(value AS DECIMAL(18,2))
               - lag(CAST(value AS DECIMAL(18,2)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events)
    SELECT user_id,
           CAST(SUM(CASE WHEN delta > 0 THEN delta
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS delta_sum,
           ROUND((MAX(value) - MIN(value))
                 / NULLIF(epoch(MAX(ts)) - epoch(MIN(ts)), 0) * 3600, 6)
               AS bounding_ratio_per_hour,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def counter_analytics_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring-counter semantics (ClickHouse ``deltaSum`` /
    ``boundingRatio``): per user, the total of positive consecutive deltas
    (a reset-tolerant counter increase — negative jumps are counter resets
    and don't subtract) and the value-range-over-time-range rate. One lag
    window + one grouped agg, both on the user_id partitioning. Deltas ride
    DECIMAL(18,2) so the conditional sum is order-exact (registry rule)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("value").cast("decimal(18,2)").alias("v"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("v") - F.lag("v").over(w)
    s = e.withColumn("delta", delta)
    span_s = (
        F.unix_micros(F.max("ts").cast("timestamp"))
        - F.unix_micros(F.min("ts").cast("timestamp"))
    ) / 1e6
    return (
        s.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("delta") > 0, F.col("delta")).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            )
            .cast("double")
            .alias("delta_sum"),
            F.round(
                (F.max("value") - F.min("value"))
                / F.nullif(span_s, F.lit(0.0))
                * 3600.0,
                6,
            ).alias("bounding_ratio_per_hour"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


@register(
    "groupingsets_distinct_users",
    """
    WITH g AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users,
             CAST(GROUPING(CAST(date_trunc('day', ts) AS DATE)) * 2
                  + GROUPING(event_type) AS BIGINT) AS grp
      FROM events
      GROUP BY GROUPING SETS ((CAST(date_trunc('day', ts) AS DATE)),
                              (event_type),
                              (CAST(date_trunc('day', ts) AS DATE), event_type)))
    SELECT CAST(day AS VARCHAR) AS day, event_type, uniq_users, grp
    FROM g ORDER BY grp, day NULLS FIRST, event_type NULLS FIRST
    """,
)
def groupingsets_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users at THREE grains — per day, per type, per (day, type)
    — in one pass via GROUPING SETS, with GROUPING() disambiguating which
    grain each row belongs to (the ClickHouse totals/rollup-modifier
    shape). The day key is emitted as a string because grains that do not
    group by day yield NULL dates, which external comparators normalize
    inconsistently (None vs NaT). Spark plans one Expand + one distinct-aggregate; no re-scan per
    grain."""
    view = f"gsd_events_{dataset_tag(sf_dir)}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        WITH g AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                 COUNT(DISTINCT user_id) AS uniq_users,
                 CAST(GROUPING(CAST(date_trunc('day', ts) AS DATE)) * 2
                      + GROUPING(event_type) AS BIGINT) AS grp
          FROM {view}
          GROUP BY GROUPING SETS ((CAST(date_trunc('day', ts) AS DATE)),
                                  (event_type),
                                  (CAST(date_trunc('day', ts) AS DATE),
                                   event_type)))
        SELECT CAST(day AS STRING) AS day, event_type, uniq_users, grp
        FROM g ORDER BY grp, day NULLS FIRST, event_type NULLS FIRST
        """
    )


@register(
    "weighted_median_price_per_flag",
    """
    WITH per_value AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
      FROM lineitem GROUP BY 1, 2),
    cum AS (
      SELECT l_returnflag, v, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM per_value)
    SELECT l_returnflag,
           CAST(MIN(v) AS DOUBLE) AS weighted_median,
           CAST(MAX(tw) AS DOUBLE) AS total_weight
    FROM cum
    WHERE cw * 2 >= tw
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def weighted_median_price_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``quantileExactWeighted(0.5)(price, qty)`` parity: the
    smallest price whose cumulative quantity-weight reaches half the total,
    per return flag.

    Determinism: weights are pre-aggregated per DISTINCT value first, so
    the cumulative sum is over value-ordered unique values — no peer-row
    order dependence — and all weight arithmetic is DECIMAL (the threshold
    test is cross-multiplied, never a divided float). Scale: two grouped
    aggs + one window, all partitioned on the group key; state per group is
    |distinct values|, the same bound the exact-weighted quantile needs
    anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    per_value = li.groupBy(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("w"))
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = per_value.select(
        "l_returnflag",
        "v",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("v").cast("double").alias("weighted_median"),
            F.max("tw").cast("double").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


UNIQ_UP_TO_N = 25


@register(
    "uniq_up_to_per_type",
    f"""
    SELECT event_type,
           CAST(LEAST(COUNT(DISTINCT user_id), {UNIQ_UP_TO_N} + 1) AS BIGINT)
               AS uniq_up_to,
           COUNT(DISTINCT user_id) <= {UNIQ_UP_TO_N} AS is_exact
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def uniq_up_to_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``uniqUpTo(N)`` parity: exact distinct count while it is
    ≤ N, the sentinel N+1 once it exceeds N — the "is this column
    low-cardinality?" probe (partition-key discovery, dictionary-encoding
    decisions). The ClickHouse implementation caps per-group state at N+1
    values; here the cap is semantic (LEAST over an exact count) — the
    honest Spark equivalent of the bounded-state contract, with the
    exactness flag surfaced."""
    e = load_table(spark, sf_dir, "events")
    n = F.count_distinct("user_id")
    return (
        e.groupBy("event_type")
        .agg(
            F.least(n, F.lit(UNIQ_UP_TO_N + 1)).cast("long").alias("uniq_up_to"),
            (n <= UNIQ_UP_TO_N).alias("is_exact"),
        )
        .orderBy("event_type")
    )


SAMPLE_PER_GROUP = 5


@register(
    "group_array_sample_per_type",
    f"""
    SELECT event_type, event_id, rn AS sample_rank FROM (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT,
                        event_id) AS rn
      FROM events)
    WHERE rn <= {SAMPLE_PER_GROUP}
    ORDER BY event_type, sample_rank
    """,
)
def group_array_sample_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArraySample(k)`` parity, made deterministic: k
    representatives per group chosen by a stable hash ranking (md5-derived,
    identical in both engines) instead of a per-run RNG — reproducible
    pipelines need the sample to survive retries and backfills. Flattened
    to (group, member, rank) rows: the driver's compare rejects array
    outputs, and downstream joins want rows anyway.

    Scale: hash-ranked top-k per group is a WindowGroupLimit — per-partition
    state is k rows per group, the same reservoir bound the ClickHouse
    aggregate keeps."""
    from ..functions.hashing import stable_hash60

    e = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    w = Window.partitionBy("event_type").orderBy(
        stable_hash60(F.col("event_id").cast("string")), F.asc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_GROUP)
        .select(
            "event_type",
            "event_id",
            F.col("rn").cast("long").alias("sample_rank"),
        )
        .orderBy("event_type", "sample_rank")
    )


@register(
    "ch_group_bitmap_weekly_users",
    """
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def ch_group_bitmap_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupBitmap`` / ``groupBitmapState`` + ``Merge`` parity:
    EXACT distinct users per week, computed as mergeable daily bitmap
    partials OR-merged up to weeks — the exact-count twin of the HLL
    sketch query (``ev_hll_partial_merge_weekly``), same
    AggregatingMergeTree pattern, zero approximation.

    Spark-first: ``bitmap_bucket_number`` / ``bitmap_bit_position`` shard
    each user id into a fixed 32k-bit bucket; ``bitmap_construct_agg``
    builds the daily partial per (day, bucket), ``bitmap_or_agg`` merges
    partials to (week, bucket), and ``bitmap_count`` + SUM yields the exact
    total. All JVM aggregates, all map-side combinable.

    Scale: this is how a 100 TB event log serves exact weekly uniques
    without re-scanning raw events — daily partials are materialized once
    (bounded: 4 KB per bucket), weekly merges touch partials only. Late
    data re-aggregates one day's partial, not the week. The bucket column
    also bounds every bitmap to 32k bits regardless of the id domain, so
    no single aggregate state can blow an executor."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("day", "bkt")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    weekly = (
        daily.groupBy(
            F.date_trunc("week", F.col("day")).cast("date").alias("week"), "bkt"
        )
        .agg(F.bitmap_or_agg(F.col("bm")).alias("bm"))
        .select("week", F.bitmap_count(F.col("bm")).alias("n"))
    )
    return (
        weekly.groupBy("week")
        .agg(F.sum("n").cast("long").alias("exact_users"))
        .orderBy("week")
    )


@register(
    "ch_array_enumerate_uniq",
    """
    SELECT user_id, event_id, event_type,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS BIGINT)
             AS occurrence
    FROM events
    ORDER BY user_id, event_id
    """,
)
def ch_array_enumerate_uniq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``arrayEnumerateUniq(groupArray(event_type))`` parity:
    per user, each event tagged with the occurrence index of its type so
    far ("your 3rd click"). ClickHouse reaches this by materializing the
    whole per-user array and enumerating it; the Spark-first form never
    builds the array — a ROW_NUMBER over (user_id, event_type) gives the
    same numbering with per-row constant state and one shuffle, no
    per-user memory proportional to history."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            F.row_number().over(w).cast("long").alias("occurrence"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "ch_delta_sum_per_user",
    """
    WITH d AS (
      SELECT user_id, value,
             value - LAG(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS delta
      FROM events)
    SELECT user_id,
           CAST(ROUND(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) * 100)
                AS BIGINT) AS delta_sum_cents,
           CAST(COUNT(delta) AS BIGINT) AS n_deltas
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def ch_delta_sum_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``deltaSum(value)`` parity: the sum of positive
    consecutive increments per user — the counter-reset-tolerant rate
    primitive (a counter that resets to 0 contributes only its growth, not
    the reset drop). One LAG window and one grouped sum sharing the
    user_id partitioning; emitted in integer cents for float-order
    immunity."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("delta") > 0, F.col("delta")).otherwise(F.lit(0.0))
                )
                * 100
            )
            .cast("long")
            .alias("delta_sum_cents"),
            F.count("delta").alias("n_deltas"),
        )
        .orderBy("user_id")
    )


@register(
    "ch_welch_ttest_click_vs_view",
    """
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(value) AS m,
             var_samp(value) AS v
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type),
    w AS (
      SELECT MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
             MAX(CASE WHEN event_type = 'click' THEN m END) AS m1,
             MAX(CASE WHEN event_type = 'click' THEN v END) AS v1,
             MAX(CASE WHEN event_type = 'view' THEN n END) AS n2,
             MAX(CASE WHEN event_type = 'view' THEN m END) AS m2,
             MAX(CASE WHEN event_type = 'view' THEN v END) AS v2
      FROM s)
    SELECT ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
           ROUND(POW(v1 / n1 + v2 / n2, 2)
                 / (POW(v1 / n1, 2) / (n1 - 1)
                    + POW(v2 / n2, 2) / (n2 - 1)), 6) AS welch_df,
           CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view
    FROM w
    """,
)
def ch_welch_ttest_click_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``welchTTest(value, group)`` parity: Welch's unequal-
    variance t statistic and Welch–Satterthwaite degrees of freedom between
    click and view event values. Entirely from grouped moments (count,
    mean, sample variance) — one aggregation pass over the filtered scan,
    then scalar algebra on a 2-row relation; the same moment-combine shape
    every map-side-partial aggregate uses, so it holds at any scale."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))
    w = s.agg(
        pick("click", "n").alias("n1"), pick("click", "m").alias("m1"),
        pick("click", "v").alias("v1"), pick("view", "n").alias("n2"),
        pick("view", "m").alias("m2"), pick("view", "v").alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return w.select(
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            6,
        ).alias("welch_df"),
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_view"),
    )


@register(
    "ch_mann_whitney_click_vs_view",
    """
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'view')),
    rn AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (ORDER BY value, event_type) AS r
      FROM s),
    ar AS (SELECT value, AVG(r) AS avg_r FROM rn GROUP BY value),
    ranked AS (
      SELECT rn.event_type, ar.avg_r FROM rn JOIN ar ON rn.value = ar.value),
    agg AS (
      SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN avg_r END)
                  AS DOUBLE) AS r1,
             CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                  AS DOUBLE) AS n1,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                  AS DOUBLE) AS n2
      FROM ranked)
    SELECT ROUND(r1 - n1 * (n1 + 1) / 2, 6) AS u1,
           ROUND((r1 - n1 * (n1 + 1) / 2 - n1 * n2 / 2)
                 / sqrt(n1 * n2 * (n1 + n2 + 1) / 12), 6) AS z,
           CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view
    FROM agg
    """,
)
def ch_mann_whitney_click_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``mannWhitneyUTest`` parity: rank-sum U statistic between
    click and view values with midrank tie handling (average ROW_NUMBER per
    distinct value — exact rationals, so both engines agree bitwise), and
    the normal-approximation z WITHOUT tie variance correction (noted; the
    correction term is a second grouped pass over tie sizes if needed).

    Scale: one global sort for the ranking — same cost class as any exact
    rank statistic; at 100 TB use the bucketed-histogram approximation or
    sample. The per-value midrank join shuffles distinct values only."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select("event_type", "value")
    rn = e.withColumn(
        "r", F.row_number().over(Window.orderBy("value", "event_type"))
    )
    ar = rn.groupBy("value").agg(F.avg("r").alias("avg_r"))
    ranked = rn.join(ar, "value").select("event_type", "avg_r")
    agg = ranked.agg(
        F.sum(F.when(F.col("event_type") == "click", F.col("avg_r")))
        .cast("double")
        .alias("r1"),
        F.count(F.when(F.col("event_type") == "click", F.lit(1)))
        .cast("double")
        .alias("n1"),
        F.count(F.when(F.col("event_type") == "view", F.lit(1)))
        .cast("double")
        .alias("n2"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
    return agg.select(
        F.round(u1, 6).alias("u1"),
        F.round(
            (u1 - F.col("n1") * F.col("n2") / 2)
            / F.sqrt(
                F.col("n1") * F.col("n2") * (F.col("n1") + F.col("n2") + 1) / 12
            ),
            6,
        ).alias("z"),
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_view"),
    )


@register(
    "ch_ks_test_click_vs_view",
    """
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'view')),
    n AS (
      SELECT CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
               AS n1,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE)
               AS n2
      FROM s),
    cum AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
      FROM s GROUP BY value),
    e AS (
      SELECT value,
             SUM(c1) OVER (ORDER BY value) AS a1,
             SUM(c2) OVER (ORDER BY value) AS a2
      FROM cum)
    SELECT ROUND(MAX(ABS(a1 / n1 - a2 / n2)), 6) AS d_stat,
           CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view
    FROM e, n GROUP BY n1, n2
    """,
)
def ch_ks_test_click_vs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``kolmogorovSmirnovTest`` parity: the exact two-sample KS
    D statistic — the max ECDF gap between click and view value
    distributions, evaluated at every distinct value (where the max is
    always attained). Grouped counts per distinct value, one cumulative
    window over distinct values, one max. ECDF ratios are count/total —
    identical rationals in both engines.

    Scale note: the cumulative window is global, so its cost is the
    DISTINCT-value cardinality. Here values are fixed-precision (cents), so
    that is bounded (~tens of thousands) regardless of row count; for a
    truly continuous column, quantize to an ε-grid first — D changes by at
    most the grid's probability mass, and the window stays bounded."""
    s = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select("event_type", "value")
    n = s.agg(
        F.count(F.when(F.col("event_type") == "click", F.lit(1)))
        .cast("double")
        .alias("n1"),
        F.count(F.when(F.col("event_type") == "view", F.lit(1)))
        .cast("double")
        .alias("n2"),
    )
    cum = s.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = cum.select(
        F.sum("c1").over(w).alias("a1"), F.sum("c2").over(w).alias("a2")
    )
    return (
        ecdf.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            F.round(
                F.max(F.abs(F.col("a1") / F.col("n1") - F.col("a2") / F.col("n2"))),
                6,
            ).alias("d_stat")
        )
        .select(
            "d_stat",
            F.col("n1").cast("long").alias("n_click"),
            F.col("n2").cast("long").alias("n_view"),
        )
    )


@register(
    "ch_cramers_v_lang_source",
    """
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS obs
      FROM documents GROUP BY lang, source),
    rt AS (SELECT lang, SUM(obs) AS row_tot FROM o GROUP BY lang),
    ct AS (SELECT source, SUM(obs) AS col_tot FROM o GROUP BY source),
    n AS (SELECT SUM(obs) AS n FROM o),
    chi AS (
      SELECT SUM(POW(obs - row_tot * col_tot / n, 2)
                 / (row_tot * col_tot / n)) AS chi2,
             MAX(n) AS n,
             CAST((SELECT COUNT(*) FROM rt) AS DOUBLE) AS r,
             CAST((SELECT COUNT(*) FROM ct) AS DOUBLE) AS c
      FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n)
    SELECT ROUND(sqrt(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v,
           ROUND(chi2, 6) AS chi2,
           CAST(r AS BIGINT) AS n_langs, CAST(c AS BIGINT) AS n_sources
    FROM chi
    """,
)
def ch_cramers_v_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``cramersV(lang, source)`` parity: the chi-square-based
    association strength between two categorical columns. Everything
    derives from ONE contingency count (cells = lang × source, dozens of
    rows) — row/column margins and chi² are algebra over that tiny
    relation, so the corpus is scanned exactly once regardless of scale."""
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("obs")
    )
    rt = o.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = o.agg(F.sum("obs").alias("n"))
    r = rt.agg(F.count(F.lit(1)).cast("double").alias("r"))
    c = ct.agg(F.count(F.lit(1)).cast("double").alias("c"))
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    chi = (
        o.join(rt, "lang")
        .join(ct, "source")
        .crossJoin(F.broadcast(n))
        .agg(F.sum(F.pow(F.col("obs") - exp, 2) / exp).alias("chi2"),
             F.max("n").alias("n"))
        .crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(c))
    )
    return chi.select(
        F.round(
            F.sqrt(
                F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
        F.round("chi2", 6).alias("chi2"),
        F.col("r").cast("long").alias("n_langs"),
        F.col("c").cast("long").alias("n_sources"),
    )


BOOT_B = 50  # number of pseudo-resamples


def _boot_weight_sql(expr: str) -> str:
    """Pseudo-Poisson(1) weight from a stable hash in [0,1000): thresholds
    at the cumulative pmf (367, 735, 919, 980) give P(0)=.367, P(1)=.368,
    P(2)=.184, P(3)=.061, P(4)=.020."""
    h = f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT % 1000)"
    return (
        f"CASE WHEN {h} < 367 THEN 0 WHEN {h} < 735 THEN 1 "
        f"WHEN {h} < 919 THEN 2 WHEN {h} < 980 THEN 3 ELSE 4 END"
    )


@register(
    "stats_poisson_bootstrap_mean_ci",
    f"""
    WITH draws AS (
      SELECT b, value,
             {_boot_weight_sql("CAST(event_id AS VARCHAR) || '-' || CAST(b AS VARCHAR)")}
               AS w
      FROM events CROSS JOIN (SELECT unnest(generate_series(1, {BOOT_B})) AS b)),
    means AS (
      SELECT b, SUM(w * value) / SUM(w) AS m
      FROM draws GROUP BY b HAVING SUM(w) > 0),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn,
             COUNT(*) OVER () AS nb
      FROM means)
    SELECT ROUND((SELECT AVG(value) FROM events), 6) AS point_mean,
           ROUND(MAX(CASE WHEN rn = 3 THEN m END), 6) AS ci_lo,
           ROUND(MAX(CASE WHEN rn = nb - 2 THEN m END), 6) AS ci_hi,
           CAST(MAX(nb) AS BIGINT) AS n_resamples
    FROM ranked
    """,
)
def stats_poisson_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean of event values —
    the bootstrap that distributes: instead of drawing n rows WITH
    replacement (which needs a global sample per resample), every row
    independently contributes to each of {BOOT_B} resamples with a
    Poisson(1)-distributed multiplicity. Here the multiplicity is a
    DETERMINISTIC pseudo-Poisson from the md5 hash of (event_id,
    resample) — reproducible across engines and retries, same contract as
    the hash-ranked samplers. CI bounds are order statistics of the
    resample means (ranks 3 and B-2 of {BOOT_B} ≈ 5%/95%), not
    interpolated quantiles, so both engines agree exactly.

    Scale: one map producing B weighted copies per row (B bounded, no data
    movement per copy — the explode carries (b, value, w) scalars), one
    groupBy b with map-side partial sums. No global resampling state ever
    exists; this is how bootstrap CIs are actually computed on 100 TB."""
    e = load_table(spark, sf_dir, "events")
    draws = e.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit("-"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    w = (
        F.when(h < 367, 0)
        .when(h < 735, 1)
        .when(h < 919, 2)
        .when(h < 980, 3)
        .otherwise(4)
    )
    means = (
        draws.withColumn("w", w)
        .groupBy("b")
        .agg(
            (F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("m"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
    )
    ranked = means.select(
        "m",
        F.row_number().over(Window.orderBy("m")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    point = e.agg(F.round(F.avg("value"), 6).alias("point_mean"))
    ci = ranked.agg(
        F.round(F.max(F.when(F.col("rn") == 3, F.col("m"))), 6).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == F.col("nb") - 2, F.col("m"))), 6
        ).alias("ci_hi"),
        F.max("nb").cast("long").alias("n_resamples"),
    )
    return point.crossJoin(ci)


@register(
    "ch_theils_u_source_given_lang",
    """
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS c
      FROM documents GROUP BY lang, source),
    n AS (SELECT SUM(c) AS n FROM o),
    hs AS (  -- H(source)
      SELECT -SUM(p * ln(p)) AS h FROM (
        SELECT SUM(c) / (SELECT n FROM n) AS p FROM o GROUP BY source)),
    lt AS (SELECT lang, SUM(c) AS lt FROM o GROUP BY lang),
    hl AS (  -- H(source | lang = l) and P(l)
      SELECT o.lang, MAX(lt.lt) AS lt,
             -SUM((c / lt.lt) * ln(c / lt.lt)) AS hl
      FROM o JOIN lt ON o.lang = lt.lang GROUP BY o.lang),
    hsl AS (SELECT SUM((lt / (SELECT n FROM n)) * hl) AS h FROM hl)
    SELECT ROUND((hs.h - hsl.h) / hs.h, 6) AS theils_u,
           ROUND(hs.h, 6) AS h_source,
           ROUND(hsl.h, 6) AS h_source_given_lang
    FROM hs, hsl
    """,
)
def ch_theils_u_source_given_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``theilsU(source, lang)`` parity: the asymmetric
    uncertainty coefficient U(source|lang) = (H(source) − H(source|lang)) /
    H(source) — how much knowing the language reduces uncertainty about
    the source. Same single contingency count as Cramér's V; conditional
    entropy is a per-lang window over the (lang, source) cells."""
    d = load_table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    n = o.agg(F.sum("c").alias("n"))
    ps = (
        o.groupBy("source")
        .agg(F.sum("c").alias("sc"))
        .crossJoin(F.broadcast(n))
        .select((F.col("sc") / F.col("n")).alias("p"))
    )
    hs = ps.agg((-F.sum(F.col("p") * F.log(F.col("p")))).alias("h_source"))
    wl = Window.partitionBy("lang")
    cond = o.withColumn("lt", F.sum("c").over(wl)).withColumn(
        "term", (F.col("c") / F.col("lt")) * F.log(F.col("c") / F.col("lt"))
    )
    hsl = (
        cond.groupBy("lang")
        .agg(F.max("lt").alias("lt"), (-F.sum("term")).alias("hl"))
        .crossJoin(F.broadcast(n))
        .agg(F.sum((F.col("lt") / F.col("n")) * F.col("hl")).alias("h_cond"))
    )
    return (
        hs.crossJoin(hsl)
        .select(
            F.round(
                (F.col("h_source") - F.col("h_cond")) / F.col("h_source"), 6
            ).alias("theils_u"),
            F.round("h_source", 6).alias("h_source"),
            F.round("h_cond", 6).alias("h_source_given_lang"),
        )
    )


@register(
    "ch_group_array_intersect_types",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
             event_type
      FROM events),
    wks AS (SELECT user_id, COUNT(DISTINCT wk) AS n_weeks FROM ud GROUP BY 1),
    per_type AS (
      SELECT user_id, event_type, COUNT(DISTINCT wk) AS d
      FROM ud GROUP BY 1, 2)
    SELECT p.user_id,
           array_to_string(list(p.event_type ORDER BY p.event_type), ',')
             AS everyweek_types,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(MAX(wks.n_weeks) AS BIGINT) AS n_active_weeks
    FROM per_type p JOIN wks ON p.user_id = wks.user_id
    WHERE p.d = wks.n_weeks
    GROUP BY p.user_id ORDER BY p.user_id
    """,
)
def ch_group_array_intersect_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArrayIntersect`` parity: per user, the event types
    present in EVERY active week — the intersection of the per-week type
    sets (week granularity keeps the intersection non-degenerate on the
    fixture; day-level is the same plan). ClickHouse materializes per-unit
    arrays and intersects them; the scalable re-expression never builds an
    array: a type is in the intersection iff its distinct-week count
    equals the user's active-week count, so two grouped counts and a
    filter do it. Assembled key-sorted at the output boundary only."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        "event_type",
    ).distinct()
    wks = ud.groupBy("user_id").agg(
        F.count_distinct("wk").alias("n_weeks")
    )
    per_type = ud.groupBy("user_id", "event_type").agg(
        F.count_distinct("wk").alias("d")
    )
    hit = per_type.join(wks, "user_id").filter(
        F.col("d") == F.col("n_weeks")
    )
    return (
        hit.groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_list("event_type")), ",").alias(
                "everyweek_types"
            ),
            F.count(F.lit(1)).alias("n_types"),
            F.max("n_weeks").alias("n_active_weeks"),
        )
        .orderBy("user_id")
    )


@register(
    "ch_spearman_rank_corr",
    """
    WITH base AS (
      SELECT value,
             CAST(date_diff('microseconds',
                            TIMESTAMP '2024-01-01 00:00:00', ts) AS DOUBLE)
               AS x
      FROM events WHERE event_type = 'purchase'),
    rx AS (
      SELECT x, value,
             ROW_NUMBER() OVER (ORDER BY x, value) AS rx0
      FROM base),
    ry AS (SELECT value AS v, AVG(rn) AS ry_avg FROM (
             SELECT value, ROW_NUMBER() OVER (ORDER BY value, x) AS rn
             FROM base) GROUP BY value),
    ranked AS (
      SELECT rx.rx0 AS rx_r, ry.ry_avg AS ry_r
      FROM rx JOIN ry ON rx.value = ry.v)
    SELECT ROUND(corr(rx_r, ry_r), 6) AS spearman_rho,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ranked
    """,
)
def ch_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``rankCorr(x, y)`` parity: Spearman's ρ between purchase
    time and value — Pearson correlation over ranks, with midranks on tied
    values (times are unique microseconds, so x keeps plain row-number
    ranks; y midranks via per-value average). Rank computation is the same
    global-sort cost class as the Mann-Whitney query (sample or bucket at
    extreme scale); the corr itself is a single moment aggregate."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = e.select(
        "value",
        F.expr(
            "CAST(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '2024-01-01 00:00:00', ts) AS DOUBLE)"
        ).alias("x"),
    )
    rx = base.withColumn(
        "rx0", F.row_number().over(Window.orderBy("x", "value"))
    )
    ry = (
        base.withColumn(
            "rn", F.row_number().over(Window.orderBy("value", "x"))
        )
        .groupBy("value")
        .agg(F.avg("rn").alias("ry_avg"))
    )
    ranked = rx.join(ry, "value").select(
        F.col("rx0").alias("rx_r"), F.col("ry_avg").alias("ry_r")
    )
    return ranked.agg(
        F.round(F.corr("rx_r", "ry_r"), 6).alias("spearman_rho"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "stats_gini_user_activity",
    """
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY user_id),
    r AS (
      SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n, user_id) AS DOUBLE) AS i,
             CAST(COUNT(*) OVER () AS DOUBLE) AS k,
             SUM(n) OVER () AS tot
      FROM c)
    SELECT ROUND(2.0 * SUM(i * n) / (MAX(k) * MAX(tot))
                 - (MAX(k) + 1) / MAX(k), 6) AS gini,
           CAST(MAX(k) AS BIGINT) AS n_users,
           CAST(MAX(tot) AS BIGINT) AS n_events
    FROM r
    """,
)
def stats_gini_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the concentration
    metric behind every "does one hot key dominate?" question this repo's
    skew machinery answers operationally (0 = uniform activity, →1 = one
    user owns the corpus). Closed form over the rank-ordered counts:
    G = 2·Σ(i·nᵢ)/(k·Σn) − (k+1)/k, with deterministic (count, user_id)
    rank ties. The rank window is per-USER (≪ events); counts are exact
    integers so both engines compute identical rationals."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("double").alias("n"))
    r = c.select(
        "n",
        F.row_number()
        .over(Window.orderBy("n", "user_id"))
        .cast("double")
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("double").alias("k"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    return r.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("n")) / (F.max("k") * F.max("tot"))
            - (F.max("k") + 1) / F.max("k"),
            6,
        ).alias("gini"),
        F.max("k").cast("long").alias("n_users"),
        F.max("tot").cast("long").alias("n_events"),
    )


@register(
    "ch_skew_kurt_pop",
    """
    WITH m AS (
      SELECT l_returnflag,
             AVG(l_quantity) AS m1,
             AVG(l_quantity * l_quantity) AS m2r,
             AVG(l_quantity * l_quantity * l_quantity) AS m3r,
             AVG(l_quantity * l_quantity * l_quantity * l_quantity) AS m4r,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
           ROUND((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
                 / POW(m2r - m1 * m1, 1.5), 6) AS skew_pop,
           ROUND((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
                  - 3 * m1 * m1 * m1 * m1)
                 / POW(m2r - m1 * m1, 2.0), 6) AS kurt_pop
    FROM m ORDER BY l_returnflag
    """,
)
def ch_skew_kurt_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``skewPop``/``kurtPop`` (population third/fourth
    standardized moments) per return flag, computed from raw power sums in
    one grouped pass — the single-shuffle moment-sketch form that
    composes with any other aggregate in the same groupBy. (Spark's
    built-in ``skewness``/``kurtosis`` use the sample/excess conventions;
    the raw-moment algebra reproduces ClickHouse's population definitions
    exactly in both engines.)"""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("double").alias("x")
    )
    m = li.groupBy("l_returnflag").agg(
        F.avg("x").alias("m1"),
        F.avg(F.col("x") * F.col("x")).alias("m2r"),
        F.avg(F.col("x") * F.col("x") * F.col("x")).alias("m3r"),
        F.avg(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("m4r"),
        F.count(F.lit(1)).alias("n"),
    )
    var = F.col("m2r") - F.col("m1") * F.col("m1")
    m3 = (
        F.col("m3r")
        - 3 * F.col("m1") * F.col("m2r")
        + 2 * F.col("m1") * F.col("m1") * F.col("m1")
    )
    m4 = (
        F.col("m4r")
        - 4 * F.col("m1") * F.col("m3r")
        + 6 * F.col("m1") * F.col("m1") * F.col("m2r")
        - 3 * F.col("m1") * F.col("m1") * F.col("m1") * F.col("m1")
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(m3 / F.pow(var, 1.5), 6).alias("skew_pop"),
        F.round(m4 / F.pow(var, 2.0), 6).alias("kurt_pop"),
    ).orderBy("l_returnflag")


@register(
    "ch_bounding_ratio",
    """
    WITH ranked AS (
      SELECT event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) AS rl,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts ASC, event_id ASC) AS rf
      FROM events)
    SELECT event_type,
           ROUND((MAX(CASE WHEN rl = 1 THEN value END)
                  - MAX(CASE WHEN rf = 1 THEN value END))
                 / (epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
                 * 86400000000.0, 6)
             AS rate_per_day
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def ch_bounding_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``boundingRatio``: the slope between a group's first and
    last (x, y) points — (y_last - y_first)/(x_last - x_first), here per
    event type with x = time, scaled to per-day. Ties on the timestamp are
    broken by event_id via struct-ordered max_by/min_by so both engines
    pick the identical endpoint. One grouped aggregation, one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.max_by("value", ordk).alias("y_last"),
            F.min_by("value", ordk).alias("y_first"),
            F.max("ts").alias("t_max"),
            F.min("ts").alias("t_min"),
        )
        .select(
            "event_type",
            # microsecond-exact time axis: DuckDB's epoch() keeps the
            # fractional second while Spark's unix_timestamp truncates it —
            # unix_micros/epoch_us agree exactly in both engines
            F.round(
                (F.col("y_last") - F.col("y_first"))
                / (
                    # cast NTZ→timestamp for unix_micros (session TZ is
                    # pinned UTC, so the instant is unchanged)
                    F.unix_micros(F.col("t_max").cast("timestamp")).cast(
                        "double"
                    )
                    - F.unix_micros(F.col("t_min").cast("timestamp")).cast(
                        "double"
                    )
                )
                * 86400000000.0,
                6,
            ).alias("rate_per_day"),
        )
        .orderBy("event_type")
    )


@register(
    "ch_quantiles_exact_weighted",
    """
    WITH dw AS (
      SELECT l_returnflag, l_extendedprice AS x,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2),
    cum AS (
      SELECT l_returnflag, x, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY x) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM dw)
    SELECT l_returnflag,
           MIN(CASE WHEN cw * 4 >= tot * 1 THEN x END) AS wq25,
           MIN(CASE WHEN cw * 2 >= tot * 1 THEN x END) AS wq50,
           MIN(CASE WHEN cw * 10 >= tot * 9 THEN x END) AS wq90
    FROM cum GROUP BY 1 ORDER BY 1
    """,
)
def ch_quantiles_exact_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``quantileExactWeighted`` shape: exact weighted quantiles
    of price with quantity as the repeat weight — the smallest value whose
    cumulative weight reaches q·totalW, no interpolation. The rational
    thresholds (1/4, 1/2, 9/10) are compared in INTEGER cross-multiplied
    form (cw·denom ≥ num·tot), so both engines decide every boundary
    identically — no float-threshold edge cases.

    Scale: weights collapse per DISTINCT value first (the weighted
    histogram — |distinct values| rows, not |rows|), then one per-group
    cumulative window and a grouped min. One shuffle on the group key."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    dw = li.groupBy("l_returnflag", "x").agg(F.sum("w").alias("w"))
    wcum = Window.partitionBy("l_returnflag").orderBy("x")
    wtot = Window.partitionBy("l_returnflag")
    cum = dw.select(
        "l_returnflag",
        "x",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tot"),
    )
    def pick(num: int, den: int, name: str):
        return F.min(
            F.when(F.col("cw") * den >= F.col("tot") * num, F.col("x"))
        ).alias(name)

    return (
        cum.groupBy("l_returnflag")
        .agg(pick(1, 4, "wq25"), pick(1, 2, "wq50"), pick(9, 10, "wq90"))
        .orderBy("l_returnflag")
    )
