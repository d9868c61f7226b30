"""Embedding-column analytics beyond search: per-label centroids, vector
normalization stats, and an iterative Lloyd's k-means — the "train a small
model on a huge column" shape.

Centroid math is posexplode → grouped mean per (label, dim) → re-assemble
ordered arrays; everything stays JVM-side, shuffle carries (label, dim)
pairs. k-means iterates that same step under argmax-cosine assignment —
iterative and driver-looped, hence rows-only for the oracle check, with
convergence asserted in unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.vectors import cosine, cosine_pre, norm, sql_cosine, to_double
from ..registry import register

DIM = 64


@register(
    "embedding_label_centroids",
    f"""
    WITH flat AS (
      -- parallel unnests of equal length zip positionally in DuckDB
      SELECT label,
             unnest(CAST(embedding AS DOUBLE[])) AS val,
             unnest(generate_series(1, len(embedding))) AS dim
      FROM embeddings),
    means AS (
      SELECT label, dim, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS m
      FROM flat GROUP BY 1, 2)
    SELECT label,
           ROUND(CAST(SUM(m * m) AS DOUBLE), 6) AS centroid_sqnorm,
           COUNT(*) AS n_dims
    FROM means GROUP BY label ORDER BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column via posexplode + grouped
    mean; surfaced as the centroid's squared norm (a scalar both engines
    compute identically after a deterministic per-dim mean — full arrays
    compare fine too, but a 64-double column makes mismatch triage noisy).

    Sum order: grouped SUM over doubles is order-dependent, so the per-dim
    mean uses SUM(val)/COUNT — both engines sum the same ~N values per
    (label,dim) group; rounding the final scalar to 6dp absorbs the
    reduction-order ulp."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode(to_double(F.col("embedding"))).alias("dim", "val")
    )
    means = flat.groupBy("label", "dim").agg(
        (F.sum("val") / F.count(F.lit(1))).alias("m")
    )
    return (
        means.groupBy("label")
        .agg(
            F.round(F.sum(F.col("m") * F.col("m")), 6).alias("centroid_sqnorm"),
            F.count(F.lit(1)).alias("n_dims"),
        )
        .orderBy("label")
    )


@register(
    "vocab_dictionary_encoding",
    """
    WITH words AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents WHERE trim(text) <> ''),
    counts AS (SELECT term, COUNT(*) AS freq FROM words WHERE term <> '' GROUP BY 1)
    SELECT term, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS token_id
    FROM counts ORDER BY token_id
    """,
)
def vocab_dictionary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build (the tokenizer-training precursor): corpus term
    frequencies with deterministic frequency-ranked token ids. The global
    ROW_NUMBER is over #distinct-terms rows (vocabulary-sized), not corpus
    rows — fine on one partition at any corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.filter(F.trim(F.col("text")) != "")
        .select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
    )
    counts = words.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    return (
        counts.withColumn("token_id", F.row_number().over(w).cast("long"))
        .orderBy("token_id")
    )


K_CLUSTERS = 8
KMEANS_ITERS = 5


def _kmeans_ctes() -> list[str]:
    """Unrolled Lloyd's iterations as DuckDB CTE parts: a fixed iteration
    count makes the 'iterative' algorithm SQL-expressible. assign_i uses
    cent_{i-1}; assign{KMEANS_ITERS} is the final assignment and
    cent{KMEANS_ITERS-1} the centroids it is the argmax of. Shared by the
    k-means oracle and the kmeans-trained IVF oracle."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < {K_CLUSTERS})",
    ]
    for i in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"""assign{i} AS (
  SELECT vec_id, cluster, v FROM (
    SELECT e.vec_id, c.cluster, e.v,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {sql_cosine('e.v', 'c.cv')} DESC, c.cluster) AS rn
    FROM e, cent{i - 1} c) WHERE rn = 1)"""
        )
        if i < KMEANS_ITERS:
            parts.append(
                f"""flat{i} AS (
  SELECT cluster, unnest(v) AS val,
         unnest(generate_series(1, len(v))) AS dim
  FROM assign{i})"""
            )
            parts.append(
                f"""means{i} AS (
  SELECT cluster, dim, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS m
  FROM flat{i} GROUP BY 1, 2)"""
            )
            parts.append(
                f"""cent{i} AS (
  SELECT cluster, list(m ORDER BY dim) AS cv FROM means{i} GROUP BY cluster)"""
            )
    return parts


def _kmeans_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes())
        + f"\nSELECT vec_id, cluster FROM assign{KMEANS_ITERS} ORDER BY vec_id"
    )


@register("kmeans_lloyd_clusters", _kmeans_oracle())
def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding column: deterministic init
    (first K vectors), argmax-cosine assignment, centroid = per-dim mean,
    {KMEANS_ITERS} fixed-depth iterations chained in ONE fused job
    (``_lloyd_assign_unrolled`` — the corpus never shuffles; only K×DIM
    mean rows do; the convergence-stopped driver-loop twin ``_lloyd``
    covers the open-ended-training shape and provably lands on the same
    assignment). Returns (vec_id, cluster) — the trained version of
    ann_ivf_topk's sampled centroids. Oracle: the identical fixed-depth
    recurrence unrolled as a DuckDB CTE chain (_kmeans_oracle), so the
    check is full value parity, not rows-only."""
    assign = _lloyd_assign_unrolled(spark, sf_dir)
    return assign.select("vec_id", "cluster").orderBy("vec_id")


def assign_to_literal_centroids(
    e: DataFrame, cent_rows: dict[int, list[float]]
) -> DataFrame:
    """Nearest-centroid assignment with the centroid MODEL broadcast as a
    one-row array-of-structs relation: the argmax runs entirely map-side —
    no per-vector window sort, zero shuffle (the crossJoin against a
    broadcast single row is narrow). At 100 TB this is the difference
    between a narrow scan and shuffling corpus×K rows (each carrying a
    full embedding copy) per Lloyd iteration. Bounded-K path (the whole
    model must fit a broadcast row — fine to thousands of centroids; the
    DataFrame-centroid path in dedup._semdedup_assign covers larger K).

    Tie-break parity with the window/oracle form: argmax cosine, lowest
    cluster id on exact ties — struct(sim, -cluster) under array_max
    compares sim first, then -cluster (max of -cluster = lowest id)."""
    # the centroids travel as DATA (a one-row relation holding the whole
    # model as array<struct>), not as expression literals: a K×DIM literal
    # tree costs ~1 s of analysis/codegen PER PLAN, paid again every Lloyd
    # iteration — as a broadcast one-row crossJoin the plan stays
    # constant-size and the join is narrow (no shuffle either way)
    spark = e.sparkSession
    cents_one = spark.createDataFrame(
        [([(int(c), [float(x) for x in cv]) for c, cv in sorted(cent_rows.items())],)],
        "cents array<struct<cluster: long, cv: array<double>>>",
    )
    return _assign_via_model_row(e, cents_one)


def _assign_via_model_row(e: DataFrame, cents_one: DataFrame) -> DataFrame:
    """Map-side argmax-cosine assignment against a broadcast one-row model
    relation. Tie-break = lowest cluster id on exact ties (struct(sim,
    -cluster) under array_max). Zero shuffle of the corpus.

    Norms are pre-computed (opt round 14, guide §2.3): once per corpus row
    and once per centroid in the one-row model, so the per-(row, centroid)
    argmax work is a single dot-product traversal instead of three.
    Bit-identical to the inline cosine — same guard, same d / (na * nb)
    operation order, the norm itself the same sqrt(aggregate(...)) fold
    (the functions/vectors.cosine_pre argument)."""
    cents_pre = cents_one.select(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                c["cluster"].alias("cluster"),
                c["cv"].alias("cv"),
                norm(c["cv"]).alias("ncv"),
            ),
        ).alias("cents")
    )
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            cosine_pre(F.col("v"), c["cv"], F.col("_nv"), c["ncv"]).alias(
                "sim"
            ),
            (-c["cluster"]).alias("negc"),
        ),
    )
    return (
        e.withColumn("_nv", norm(F.col("v")))
        .crossJoin(F.broadcast(cents_pre))
        .select("vec_id", "v", F.array_max(scored).alias("_best"))
        .select(
            "vec_id",
            (-F.col("_best.negc")).cast("long").alias("cluster"),
            "v",
        )
    )


def _spark_dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _training_parts(view: str) -> list[str]:
    """Shared CTE list for the fixed-depth Lloyd chain (see _training_sql
    / _assign_training_sql).

    Optimization round 14 (guide §2.3): norms are PRE-computed — ``nv``
    once per corpus row in the ``e`` CTE, ``ncv`` once per centroid when
    each model row is built — so the per-(row, centroid) argmax work is a
    single dot-product traversal instead of three (the inline cosine
    re-derived both norms per comparison). Bit-identical by the
    functions/vectors.cosine_pre argument: same guard, same
    ``d / (na * nb)`` operation order, the norm value itself is the same
    ``sqrt(aggregate(...))`` over the same doubles. The slimmer lambda
    tree also cuts the chain's fixed parse/analysis cost (measured ~0.5 s
    per call at 5 iterations), which every consumer of the trained model
    pays."""
    cos = (
        "(CASE WHEN nv = 0D OR c.ncv = 0D THEN 0.0D "
        f"ELSE {_spark_dot_sql('v', 'c.cv')} / (nv * c.ncv) END)"
    )
    nv = f"sqrt({_spark_dot_sql('v', 'v')})"
    parts = [
        f"e AS (SELECT vec_id, v, {nv} AS nv FROM {view})",
        f"cent0 AS (SELECT CAST(vec_id AS LONG) AS cluster, v AS cv, nv AS ncv FROM e WHERE vec_id < {K_CLUSTERS})",
        "model0 AS (SELECT sort_array(collect_list(struct(cluster, cv, ncv))) AS cents FROM cent0)",
    ]
    for i in range(1, KMEANS_ITERS):
        parts.append(
            f"""assign{i} AS (
  SELECT vec_id, v,
         CAST(-array_max(transform(cents,
              c -> struct({cos} AS sim, -c.cluster AS negc))).negc AS LONG)
           AS cluster
  FROM e CROSS JOIN model{i - 1})"""
        )
        parts.append(
            f"flat{i} AS (SELECT cluster, posexplode(v) AS (dim, val) FROM assign{i})"
        )
        parts.append(
            f"means{i} AS (SELECT cluster, dim, SUM(val) / COUNT(1) AS m "
            f"FROM flat{i} GROUP BY cluster, dim)"
        )
        # Optimization round 15 (verdict r14 #3): the model regroup is a
        # flat two-level aggregate — per-cluster dim-sorted collect, then
        # one K-row collect, the exact shape model0 already uses — instead
        # of one global collect plus an array_distinct/filter/transform
        # lambda pyramid whose ncv term inlined the filtered-cv expression
        # three times. The fused training text's parse+analysis cost was
        # ~0.5 s/call, dominated by those nested HOF lambdas. Identical
        # values and order: sort_array over struct(dim, m) is dim-ascending
        # (dims unique per cluster), so cv is the same dim-ordered mean
        # list; ncv is the same sqrt(dot) fold over the same doubles;
        # sort_array over struct(cluster, ...) is cluster-ascending
        # (clusters distinct), matching the old sorted-_allm distinct
        # order; clusters that lose all members vanish in both forms. The
        # extra K-row groupBy runs inside the same single training job
        # (AQE off, one reducer — see _lloyd_unrolled).
        parts.append(
            f"""cent{i} AS (
  SELECT cluster, cv, sqrt({_spark_dot_sql('cv', 'cv')}) AS ncv
  FROM (SELECT cluster,
               transform(sort_array(collect_list(struct(dim, m))), s -> s.m)
                 AS cv
        FROM means{i} GROUP BY cluster))"""
        )
        parts.append(
            f"model{i} AS (SELECT sort_array(collect_list(struct(cluster, cv, ncv))) AS cents FROM cent{i})"
        )
    return parts


def _training_sql(view: str) -> str:
    """The fixed-depth Lloyd training chain as ONE Spark-SQL text — the
    Spark twin of the DuckDB ``_kmeans_ctes`` oracle. A generated SQL
    string parses in a single call; the equivalent DataFrame construction
    pays ~1 s of Py4J round-trips re-building the nested HOF lambdas on
    every run. Per iteration: broadcast the 1-row model (CROSS JOIN against
    a single-row aggregate), map-side argmax reassign (corpus never
    shuffles), grouped (cluster, dim) means, and an expression-side regroup
    of the flat means into the next 1-row model."""
    return (
        "WITH "
        + ",\n".join(_training_parts(view))
        + f"\nSELECT cents FROM model{KMEANS_ITERS - 1}"
    )


def _assign_training_sql(view: str) -> str:
    """Training chain PLUS the final assignment in the same SQL text —
    for callers that only need the trained assignment (kmeans clusters,
    SemDeDup prune). Fusing the final argmax into the training query
    drops the model's driver round-trip (collect → createDataFrame →
    re-broadcast) and one whole job submission; the assignment lineage is
    referenced ONCE here, so nothing is recomputed (the known dead end —
    whole-semdedup-in-one-SQL — came from the prune referencing the
    assignment twice through inlined CTEs). Bit-identical to assigning
    against the collected model: same expression over the same doubles."""
    parts = _training_parts(view)
    cos = (
        "(CASE WHEN nv = 0D OR c.ncv = 0D THEN 0.0D "
        f"ELSE {_spark_dot_sql('v', 'c.cv')} / (nv * c.ncv) END)"
    )
    parts.append(
        f"""assign{KMEANS_ITERS} AS (
  SELECT vec_id, v,
         CAST(-array_max(transform(cents,
              c -> struct({cos} AS sim, -c.cluster AS negc))).negc AS LONG)
           AS cluster
  FROM e CROSS JOIN model{KMEANS_ITERS - 1})"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, v, cluster FROM assign{KMEANS_ITERS}"
    )


def _lloyd_assign_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained final assignment (vec_id, v, cluster) as ONE fused job —
    persisted and MATERIALIZED inside the narrow-shuffle conf window (the
    model-update shuffles carry K×DIM partial rows; the corpus side is
    map-only, so one reducer is the scale-right width — see
    _lloyd_unrolled). Downstream consumers read the persisted rows, so
    later queries plan under the session's normal AQE/width settings."""
    from ..catalog import dataset_tag

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    view = f"_lloyd_e_{dataset_tag(sf_dir)}"  # dataset-scoped (advice r14)
    e.createOrReplaceTempView(view)
    _confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
    }
    _saved = {k: spark.conf.get(k) for k in _confs}
    try:
        for k, v in _confs.items():
            spark.conf.set(k, v)
        assign = spark.sql(_assign_training_sql(view))
        assign.persist()
        assign.count()  # materialize under the training-window confs
    finally:
        for k, v in _saved.items():
            spark.conf.set(k, v)
    return assign


def _lloyd_unrolled(spark: SparkSession, sf_dir: str):
    """Fixed-depth Lloyd training as ONE lazy plan — the benched twin of
    :func:`_lloyd`, shaped exactly like the unrolled DuckDB oracle CTEs.

    All ``KMEANS_ITERS−1`` centroid updates chain inside a single job
    (per iteration: broadcast the 1-row model, map-side reassign, grouped
    mean — the corpus NEVER shuffles, only K×DIM mean rows do), so the
    driver pays ONE analysis/codegen/scheduling round instead of one per
    iteration. The trained K×DIM model is then collected (the only data
    that ever crosses the driver) and the final assignment is a narrow
    map against it.

    Equivalence to the convergence-stopped `_lloyd` (tol=0.0): an exact
    fixed point at iteration j makes every later centroid update a no-op,
    so the fixed-depth chain lands on the identical final assignment —
    which is why both the driver-looped and the unrolled form value-match
    the same fixed-depth oracle. Returns (assign, cent, cent_rows)."""
    from ..catalog import dataset_tag

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    e.persist()
    # SQL chain reads the cached rows; dataset-scoped name (advice r14)
    view = f"_lloyd_e_{dataset_tag(sf_dir)}"
    e.createOrReplaceTempView(view)
    # Model-update shuffles carry K×DIM partial rows (the corpus side is
    # map-only), so one reducer IS the scale-right width — and AQE's
    # per-stage re-planning only adds driver latency to the 2·ITERS tiny
    # stages of the chain. Narrow both for the training window only
    # (measured at sf0.1: 2.9 s → 2.1 s), restore unconditionally.
    _confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
    }
    _saved = {k: spark.conf.get(k) for k in _confs}
    try:
        for k, v in _confs.items():
            spark.conf.set(k, v)
        cent_rows = {
            int(c["cluster"]): list(c["cv"])
            for c in spark.sql(_training_sql(view)).collect()[0]["cents"]
        }  # ← the single training job
    finally:
        for k, v in _saved.items():
            spark.conf.set(k, v)
    assign = assign_to_literal_centroids(e, cent_rows)
    cent_df = spark.createDataFrame(
        sorted(cent_rows.items()), "cluster long, cv array<double>"
    )
    return assign, cent_df, cent_rows


def _lloyd(spark: SparkSession, sf_dir: str, tol: float = 0.0):
    """Run the Lloyd loop up to a deterministic KMEANS_ITERS cap with a
    movement-threshold convergence stop; returns (final assignment with
    vectors, the centroid relation that assignment is the argmax of,
    iterations actually run) — the trained inputs the kmeans-IVF query
    needs.

    The K×DIM centroid relation is the ONLY thing that ever crosses the
    driver: after each update it is collected, compared against the
    previous centroids (max per-dimension movement), and re-injected as a
    literal broadcast relation. That gives (a) a convergence stop — at the
    default ``tol=0.0`` the loop exits only on an EXACT fixed point, where
    every remaining iteration would reproduce the same assignment
    bit-for-bit, so the unrolled fixed-depth DuckDB oracle still value-
    matches — and (b) linear lineage: each iteration's plan joins the
    cached corpus against a literal centroid table instead of nesting the
    whole previous iteration's plan (the nested form's analysis cost grows
    with depth; a real trainer on 100 TB runs tens of iterations)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    e.persist()
    cent_rows = {
        int(r["cluster"]): list(r["cv"])
        for r in e.filter(F.col("vec_id") < K_CLUSTERS)
        .select(F.col("vec_id").alias("cluster"), F.col("v").alias("cv"))
        .collect()
    }

    def centroid_df(rows: dict[int, list[float]]):
        return spark.createDataFrame(
            sorted(rows.items()), "cluster long, cv array<double>"
        )

    assign = cent = None
    iters = 0
    for it in range(KMEANS_ITERS):
        iters = it + 1
        cent = centroid_df(cent_rows)
        assign = assign_to_literal_centroids(e, cent_rows)
        if it == KMEANS_ITERS - 1:
            break  # cent holds the centroids this assignment used
        # one job, two stages: narrow assign+posexplode, then the grouped
        # mean whose map-side combine bounds the shuffle at K×DIM rows per
        # task; the K×DIM result is collected and re-assembled into arrays
        # driver-side (it IS the model — the only thing that may cross)
        flat = assign.select("cluster", F.posexplode(F.col("v")).alias("dim", "val"))
        means = flat.groupBy("cluster", "dim").agg(
            (F.sum("val") / F.count(F.lit(1))).alias("m")
        )
        new_rows: dict[int, list[float]] = {}
        for r in sorted(means.collect(), key=lambda r: (r["cluster"], r["dim"])):
            new_rows.setdefault(int(r["cluster"]), []).append(float(r["m"]))
        if set(new_rows) == set(cent_rows):
            moved = max(
                (
                    abs(a - b)
                    for c in new_rows
                    for a, b in zip(new_rows[c], cent_rows[c])
                ),
                default=0.0,
            )
            if moved <= tol:
                # converged: the assignment above is already the argmax of
                # (numerically) these centroids — stop before the cap
                break
        cent_rows = new_rows
    return assign, cent, iters


def _ivf_kmeans_oracle() -> str:
    from .similarity import IVF_TOP_K, N_PROBE, N_QUERIES
    from ..functions.vectors import sql_cosine

    last, cent = KMEANS_ITERS, KMEANS_ITERS - 1
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes())
        + f""",
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
probe AS (
  SELECT query_id, cluster FROM (
    SELECT q.query_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {sql_cosine('q.qv', 'c.cv')} DESC,
                                       c.cluster) AS rn
    FROM q, cent{cent} c)
  WHERE rn <= {N_PROBE}),
cand AS (
  SELECT p.query_id, a.vec_id AS cand_id, a.v
  FROM probe p JOIN assign{last} a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT c.query_id, c.cand_id, {sql_cosine('q.qv', 'c.v')} AS c
  FROM cand c JOIN q ON q.query_id = c.query_id)
SELECT query_id, cand_id AS neighbor_id, rn AS rank, ROUND(c, 6) AS cos_sim
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY c DESC, cand_id) AS rn
      FROM scored)
WHERE rn <= {IVF_TOP_K}
ORDER BY query_id, rank
"""
    )


@register("ann_ivf_kmeans_topk", _ivf_kmeans_oracle())
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over TRAINED centroids — the production form
    ann_ivf_topk's docstring promised: the inverted lists are the k-means
    assignment, the probe ranks the k-means centroids, and only the
    {N_PROBE} probed clusters' vectors are scored. The oracle composes the
    unrolled Lloyd CTE chain with the probe SQL, so training AND search are
    value-checked together. Scale: identical plan to the sampled-centroid
    IVF — assignment is one linear pass (already computed by training),
    probing reads nprobe/nlist of the corpus; writing the corpus
    partitioned by cluster turns the probe into partition pruning."""
    from .similarity import IVF_TOP_K, N_PROBE, N_QUERIES
    from ..functions.vectors import cosine as _cos

    assign, cent, _ = _lloyd_unrolled(spark, sf_dir)
    q = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            to_double(F.col("embedding")).alias("qv"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("psim"), F.asc("cluster"))
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("psim", _cos(F.col("qv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "cluster")
    )
    cand = (
        probe.join(assign, "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), "v")
    )
    scored = cand.join(F.broadcast(q), "query_id").withColumn(
        "c", _cos(F.col("qv"), F.col("v"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= IVF_TOP_K)
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("c"), 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def _centroids_oracle() -> str:
    last_means = KMEANS_ITERS - 1
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes())
        + f"""
SELECT cluster, CAST(dim AS BIGINT) AS dim, ROUND(m, 6) AS val
FROM means{last_means} ORDER BY cluster, dim
"""
    )


@register("kmeans_centroids_flat", _centroids_oracle())
def kmeans_centroids_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained k-means centroids themselves, flattened to
    (cluster, dim, val) rows so the training OUTPUT (not just the
    assignment) is value-checked against the unrolled-iteration oracle —
    and so a consumer can materialize the model without array columns."""
    _, cent, _ = _lloyd_unrolled(spark, sf_dir)
    return (
        cent.select(
            "cluster", F.posexplode(F.col("cv")).alias("dim0", "val")
        )
        .select(
            "cluster",
            (F.col("dim0") + 1).cast("long").alias("dim"),  # oracle is 1-based
            F.round(F.col("val"), 6).alias("val"),
        )
        .orderBy("cluster", "dim")
    )


N_SIL_CENTROIDS = 8

SILHOUETTE_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < {N_SIL_CENTROIDS}),
ranked AS (
  SELECT e.vec_id, c.cluster,
         1.0 - {sql_cosine('e.v', 'c.cv')} AS d,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {sql_cosine('e.v', 'c.cv')} DESC,
                                     c.cluster) AS rn
  FROM e, cent c),
ab AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN cluster END) AS cluster,
         MAX(CASE WHEN rn = 1 THEN d END) AS a,
         MAX(CASE WHEN rn = 2 THEN d END) AS b
  FROM ranked WHERE rn <= 2 GROUP BY vec_id)
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(AVG(ROUND((b - a) / GREATEST(a, b), 6)), 6) AS mean_silhouette
FROM ab GROUP BY cluster ORDER BY cluster
"""


@register("embedding_silhouette_by_centroid", SILHOUETTE_ORACLE)
def embedding_silhouette_by_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality diagnostic: simplified (centroid-based) silhouette
    per cluster — a(i) = cosine distance to the assigned (nearest)
    centroid, b(i) = distance to the runner-up centroid, s = (b-a)/max(a,b)
    averaged per cluster. The medoid-free form is the one that scales: the
    classic silhouette needs all pairwise member distances (quadratic);
    against centroids it is |corpus| x k with k bounded.

    Same deterministic centroid contract as the IVF queries (vec_id <
    {N_SIL_CENTROIDS} — swap in k-means-trained centroids via
    ``_lloyd``). One broadcast of k rows, one corpus scan, per-vector
    top-2 via WindowGroupLimit, one grouped mean. Per-row s is rounded to
    6dp BEFORE averaging so both engines average identical values."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cent = e.filter(F.col("vec_id") < N_SIL_CENTROIDS).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("cv")
    )
    ranked = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("c", cosine(F.col("v"), F.col("cv")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("c"), F.asc("cluster"))
            ),
        )
        .filter(F.col("rn") <= 2)
        .withColumn("d", F.lit(1.0) - F.col("c"))
    )
    ab = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cluster"))).alias("cluster"),
        F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("a"),
        F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("b"),
    )
    s = F.round(
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")), 6
    )
    return (
        ab.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg(s), 6).alias("mean_silhouette"),
        )
        .orderBy("cluster")
    )


_DRIFT_MOD = 4  # "new snapshot" = vec_id % 4 = 0 (the incremental split)


@register(
    "embedding_snapshot_drift",
    f"""
    WITH flat AS (
      SELECT label, CAST(vec_id % {_DRIFT_MOD} = 0 AS INT) AS is_new,
             unnest(CAST(embedding AS DOUBLE[])) AS val,
             unnest(generate_series(1, len(embedding))) AS dim
      FROM embeddings),
    m AS (
      SELECT label, dim,
             CAST(SUM(CASE WHEN is_new = 0 THEN val END) AS DOUBLE)
               / SUM(1 - is_new) AS m_old,
             CAST(SUM(CASE WHEN is_new = 1 THEN val END) AS DOUBLE)
               / SUM(is_new) AS m_new
      FROM flat GROUP BY 1, 2)
    SELECT label,
           ROUND(SUM((m_new - m_old) * (m_new - m_old)), 6) AS drift_sq,
           COUNT(*) AS n_dims
    FROM m GROUP BY label ORDER BY label
    """,
)
def embedding_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between snapshots: squared L2
    displacement of each label's centroid from the old snapshot
    (vec_id % {_DRIFT_MOD} ≠ 0) to the new one — the cheap first-line
    monitor for an embedding model or corpus shift before re-triggering
    SemDeDup/IVF retraining.

    Scale: same topology as embedding_label_centroids — posexplode, one
    shuffle on (label, dim), per-dim conditional means, label-sized
    output."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label",
        (F.col("vec_id") % _DRIFT_MOD == 0).cast("int").alias("is_new"),
        F.posexplode(to_double(F.col("embedding"))).alias("dim", "val"),
    )
    m = flat.groupBy("label", "dim").agg(
        (
            F.sum(F.when(F.col("is_new") == 0, F.col("val")))
            / F.sum(1 - F.col("is_new"))
        ).alias("m_old"),
        (
            F.sum(F.when(F.col("is_new") == 1, F.col("val")))
            / F.sum("is_new")
        ).alias("m_new"),
    )
    diff = F.col("m_new") - F.col("m_old")
    return (
        m.groupBy("label")
        .agg(
            F.round(F.sum(diff * diff), 6).alias("drift_sq"),
            F.count(F.lit(1)).alias("n_dims"),
        )
        .orderBy("label")
    )
