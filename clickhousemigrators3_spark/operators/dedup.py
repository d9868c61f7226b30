"""Deduplication operators over ``documents`` / ``embeddings`` (SURVEY.md
§7.3, BASELINE north-star): exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of each operator, beyond small-SF correctness):

* Exact dedup groups by a 60-bit content fingerprint — shuffle keys are
  16-byte hashes, never document bodies.
* MinHash-LSH: shingle → per-seed min-hash → banded signature → bucket
  join. Candidate generation is |bands| × |docs| rows; the quadratic
  verify join runs only on bucket-collision candidates. This is the
  standard sub-quadratic near-dup pipeline (cf. Broder '97) expressed
  entirely in built-in exprs — explode/min/collect_list/self-join.
* SimHash: 32-bit fingerprints via per-bit vote aggregation — one explode +
  one groupBy; hamming-adjacent docs land in identical fingerprints for
  this corpus size.
* All hashes are md5-derived (functions/hashing.py) so DuckDB oracles
  reproduce them exactly.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Storage level for CORPUS-SIZED cached relations (the exploded span
# fingerprints: O(docs × spans) rows). The DataFrame default persist is
# MEMORY_AND_DISK_DESER — deserialized JVM objects, several × the on-wire
# size; fine at fixture scale, but at 100 TB a corpus-sized deserialized
# cache evicts everything else or OOMs the executors. Serialized-in-memory
# (+ disk spill) keeps the reuse win at a bounded footprint; the true
# production path for the incremental flow is the PERSISTED index drive
# (operators/dedup_index.py), which keeps fingerprints as parquet and
# caches nothing.
_CORPUS_CACHE = StorageLevel.MEMORY_AND_DISK

from ..catalog import load_table, persist_owned
from ..functions.hashing import oracle_hash_sql, stable_hash32, stable_hash60
from ..functions.text import exploded_word_shingles, sql_word_shingles
from ..functions.vectors import (
    cosine,
    cosine_pre,
    dot,
    norm,
    sql_cosine,
    sql_dot,
    to_double,
)
from ..registry import register

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    """
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keep_id
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text with
    the retained (minimum) doc_id and the copy count. Shuffle carries only
    (hash, id) pairs."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("_h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


@register(
    "dedup_exact_retained",
    """
    SELECT doc_id, lang, source FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    ORDER BY doc_id
    """,
)
def dedup_exact_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retained rows themselves (first doc_id per distinct text) — the
    deterministic alternative to ``dropDuplicates`` (whose survivor choice
    is partition-order-dependent)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs
# ---------------------------------------------------------------------------

N_SEEDS = 16
BAND_SIZE = 4  # 4 bands × 4 rows
JACCARD_THRESHOLD = 0.5
SHINGLE_N = 3

# Affine permutation family over a 31-bit prime: minhash_i = min((a_i·h+b_i)
# mod P) with h = 32-bit stable hash of the shingle. One md5 per shingle
# (not per shingle×seed) — the seeds are pure arithmetic, 16 min-aggregates
# in a single groupBy, no row explosion. a_i·h < 2^62 so the ANSI long
# multiply can't overflow. Constants are fixed literals so the DuckDB oracle
# reproduces them exactly.
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_COEFFS: list[tuple[int, int]] = [
    (961748941, 179424673), (982451653, 373587883), (217645199, 617959159),
    (413158511, 797003413), (687995171, 104395301), (899809343, 295075147),
    (479001599, 523717123), (715225739, 982451707), (198491317, 336500717),
    (541593427, 785335189), (383721781, 154858631), (619219373, 846749339),
    (300301507, 952429583), (756065159, 458938217), (112272535, 662913017),
    (858599509, 263901989),
]


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exploded_word_shingles(d, "text", SHINGLE_N, "shingle").distinct()


_SQL_SHINGLES = f"""
  SELECT DISTINCT doc_id, unnest({sql_word_shingles('text', SHINGLE_N)}) AS shingle
  FROM documents
"""

_SQL_MINHASH_AGGS = ", ".join(
    f"MIN(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
    for i, (a, b) in enumerate(MINHASH_COEFFS)
)
_SQL_BAND_SIGS = ", ".join(
    "md5("
    + " || ',' || ".join(
        f"m{j}::VARCHAR" for j in range(band * BAND_SIZE, (band + 1) * BAND_SIZE)
    )
    + f") AS sig{band}"
    for band in range(N_SEEDS // BAND_SIZE)
)
_SQL_BAND_UNPIVOT = " UNION ALL ".join(
    f"SELECT doc_id, {band} AS band, sig{band} AS sig FROM sigs"
    for band in range(N_SEEDS // BAND_SIZE)
)

MINHASH_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
hashed AS (
  SELECT DISTINCT doc_id, {oracle_hash_sql('shingle', bits=32)} AS h FROM sh),
minh AS (SELECT doc_id, {_SQL_MINHASH_AGGS} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, {_SQL_BAND_SIGS} FROM minh),
bands AS ({_SQL_BAND_UNPIVOT}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
cnt AS (SELECT doc_id, COUNT(*) AS c FROM hashed GROUP BY 1),
inter AS (
  SELECT c.a_id, c.b_id, COUNT(*) AS i
  FROM cand c
  JOIN hashed sa ON sa.doc_id = c.a_id
  JOIN hashed sb ON sb.doc_id = c.b_id AND sb.h = sa.h
  GROUP BY 1, 2)
SELECT i.a_id, i.b_id,
       CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS jaccard
FROM inter i
JOIN cnt ca ON ca.doc_id = i.a_id
JOIN cnt cb ON cb.doc_id = i.b_id
WHERE CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


def lsh_perdoc(d: DataFrame) -> DataFrame:
    """``(doc_id, m0..m15, hs)`` from a ``documents`` relation: word-3-gram
    shingles → one 32-bit stable hash per shingle → ONE groupBy(doc_id)
    producing the 16 affine-permutation min-hashes AND the per-doc hash
    set. The reusable half of the LSH pipeline — the persisted incremental
    index (operators/dedup_index.py) stores exactly this relation."""
    raw = exploded_word_shingles(d, "text", SHINGLE_N, "shingle")
    hashed = raw.select("doc_id", stable_hash32(F.col("shingle")).alias("h"))
    # the 16 affine-min aggregates as parsed expression STRINGS (opt round
    # 14): the Column-object form built ~7 JVM handles per aggregate and
    # measured ~0.3 s of Py4J round trips per call; one F.expr per
    # aggregate is a single round trip each and parses to the identical
    # expression tree (same literals, same % MINHASH_P), so values are
    # unchanged.
    #
    # ONE exchange, not two (opt round 15, guide §2.4): the old form ran
    # distinct() over (doc_id, h) — a full shuffle of the corpus-sized
    # hashed-shingle relation — and then groupBy(doc_id), a SECOND full
    # shuffle of the same rows. min((a·h+b) % P) over a multiset equals the
    # min over its distinct set, and collect_set(h) IS the distinct hash
    # set, so the set semantics the distinct provided live inside the one
    # aggregation. Values are identical: same mins, same set elements (hs
    # consumers — array_intersect/size here, in dedup_index, and in the
    # containment/levenshtein verifies — are element-order-insensitive,
    # and the old collect_list-after-shuffle order was nondeterministic
    # anyway). Because a document's exploded shingles never leave its scan
    # partition, the partial aggregate dedups each doc map-side and the
    # single exchange carries one (doc_id, mins, set) row per document.
    return hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({a} * h + {b}) % {MINHASH_P})").alias(f"m{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)
        ],
        F.collect_set("h").alias("hs"),
    )


def lsh_bands(per_doc: DataFrame) -> DataFrame:
    """``(doc_id, band, sig)`` banded signatures from :func:`lsh_perdoc` —
    md5 over each band's minhash run, unpivoted for the bucket join."""
    # expression strings instead of Column-object trees (opt round 14, see
    # lsh_perdoc) — identical md5(concat_ws(',', CAST(... AS STRING)))
    # signatures, one Py4J round trip per band instead of ~10
    sig_cols = [
        F.expr(
            "md5(concat_ws(',', "
            + ", ".join(
                f"CAST(m{j} AS STRING)"
                for j in range(band * BAND_SIZE, (band + 1) * BAND_SIZE)
            )
            + "))"
        ).alias(f"sig{band}")
        for band in range(N_SEEDS // BAND_SIZE)
    ]
    sigs = per_doc.select("doc_id", *sig_cols)
    bs = "array(" + ", ".join(
        f"struct({band} AS band, sig{band} AS sig)"
        for band in range(N_SEEDS // BAND_SIZE)
    ) + ")"
    return sigs.select(
        "doc_id", F.expr(f"explode({bs})").alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def _lsh_scored_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared LSH verify input: word-3-gram shingles → one 32-bit stable
    hash per shingle → ONE groupBy(doc_id) producing the 16
    affine-permutation min-hashes AND the per-doc hash set AND its size →
    4-band signatures → bucket self-join → exact overlap via
    ``array_intersect`` on the two candidates' sets: ``(a_id, b_id, i, ca,
    cb)``. Every set-overlap verify (Jaccard, containment) is a filter over
    this one relation, so at scale they ride a single candidate generation.

    Plan shape (the round-3 rework): the old form persisted the exploded
    (doc_id, h) relation and verified by joining it twice per candidate —
    two shuffles of the biggest table in the pipeline. Collapsing signature
    + set construction into one aggregation means the corpus-sized relation
    is shuffled exactly once; the per-doc relation (one row per document,
    set bounded by document length — NOT corpus size) is what's persisted
    (owner ``lsh_perdoc``, ``catalog.persist_owned``), and candidate
    verification is two joins against it (AQE broadcasts them when small;
    they stay shuffle joins at 10^9 docs) followed by a narrow
    ``array_intersect``. Overlap is still computed over hashed shingle sets
    (4-byte elements, not strings), identically in the oracle."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = persist_owned(spark, "lsh_perdoc", sf_dir, lsh_perdoc(d))
    bands = lsh_bands(per_doc)
    a = bands.select(
        F.col("doc_id").alias("a_id"), F.col("band").alias("band"), F.col("sig").alias("sig")
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"), F.col("band").alias("band"), F.col("sig").alias("sig")
    )
    cand = (
        a.join(b, on=["band", "sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )

    sets_a = per_doc.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("hs_a"))
    sets_b = per_doc.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("hs_b"))
    return (
        cand.join(sets_a, "a_id")
        .join(sets_b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("i"),
            F.size("hs_a").alias("ca"),
            F.size("hs_b").alias("cb"),
        )
    )


@register("dedup_minhash_lsh_pairs", MINHASH_ORACLE)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: the shared candidate pipeline
    (``_lsh_scored_candidates``) + exact Jaccard verify ≥ 0.5. At 100 TB
    the only quadratic step (verify) touches bucket collisions only;
    everything else is linear explodes + grouped mins."""
    scored = _lsh_scored_candidates(spark, sf_dir)
    jac = F.col("i").cast("double") / (F.col("ca") + F.col("cb") - F.col("i"))
    return (
        scored.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    )


MINHASH_RECALL_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
hashed AS (
  SELECT DISTINCT doc_id, {oracle_hash_sql('shingle', bits=32)} AS h FROM sh),
cnt AS (SELECT doc_id, COUNT(*) AS c FROM hashed GROUP BY 1),
pair_i AS (
  SELECT sa.doc_id AS a_id, sb.doc_id AS b_id, COUNT(*) AS i
  FROM hashed sa JOIN hashed sb ON sb.h = sa.h AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT a_id, b_id FROM pair_i p
  JOIN cnt ca ON ca.doc_id = p.a_id
  JOIN cnt cb ON cb.doc_id = p.b_id
  WHERE CAST(p.i AS DOUBLE) / (ca.c + cb.c - p.i) >= {JACCARD_THRESHOLD}),
found AS ({MINHASH_ORACLE}),
hits AS (SELECT COUNT(*) AS n FROM truth t
         JOIN found f ON f.a_id = t.a_id AND f.b_id = t.b_id)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_found,
       ROUND((SELECT n FROM hits)
             / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6) AS recall
"""


@register("dedup_minhash_recall", MINHASH_RECALL_ORACLE)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the text-LSH path (the twin of
    dedup_embedding_lsh_recall): ground truth = EVERY pair with exact
    Jaccard ≥ {JACCARD_THRESHOLD}, computed by the inverted-index exact
    algorithm (self-join of the (doc, shingle-hash) relation on the hash,
    so only pairs sharing ≥1 shingle are scored — sub-quadratic, but still
    the expensive exact form); found = the banded-LSH pairs. Measures what
    the 4×4 band/row choice gives up. Gate duty only — never in the bench
    headline set, exactly like the embedding brute-force twin."""
    hashed = _shingles(spark, sf_dir).select(
        "doc_id", stable_hash32(F.col("shingle")).alias("h")
    ).distinct()
    cnt = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    sa = hashed.select(F.col("doc_id").alias("a_id"), "h")
    sb = hashed.select(F.col("doc_id").alias("b_id"), "h")
    pair_i = (
        sa.join(sb, "h")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ca = cnt.select(F.col("doc_id").alias("a_id"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("doc_id").alias("b_id"), F.col("c").alias("cb"))
    jac = F.col("i").cast("double") / (F.col("ca") + F.col("cb") - F.col("i"))
    truth = (
        pair_i.join(ca, "a_id")
        .join(cb, "b_id")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("a_id", "b_id")
    )
    found = dedup_minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    # truth and found are each referenced twice below but deliberately NOT
    # persisted — exchange/subquery reuse already shares the pipelines, and
    # a persist A/B on the embedding twin measured the cache barrier ~2x
    # slower (see dedup_embedding_lsh_recall)
    hits = found.join(truth, ["a_id", "b_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    return (
        n_true.crossJoin(n_found)
        .crossJoin(hits)
        .select(
            "n_true",
            "n_found",
            F.round(
                F.col("n_hits") / F.col("n_true").cast("double"), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32

_SIMHASH_BIT_SUMS_SQL = ", ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(SIMHASH_BITS)
)
_SIMHASH_FP_SQL = " + ".join(
    f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
)

SIMHASH_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents),
h AS (SELECT doc_id, {oracle_hash_sql('w')} AS h FROM w WHERE w <> ''),
bits AS (SELECT doc_id, {_SIMHASH_BIT_SUMS_SQL} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_FP_SQL} AS BIGINT) AS simhash
FROM bits ORDER BY doc_id
"""


@register("dedup_simhash_fingerprints", SIMHASH_ORACLE)
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (Charikar) 32-bit fingerprints over word unigrams
    (frequency-weighted by explode multiplicity): per-bit ±1 votes summed in
    one grouped aggregation, fingerprint assembled from vote signs. Hamming
    distance over these is the near-dup measure; identical fingerprints are
    dup candidates."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    h = words.withColumn("h", stable_hash60(F.col("w")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = h.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.cast("long").alias("simhash")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard pairs (exact, candidate-blocked)
# ---------------------------------------------------------------------------

BLOCK_N = 5  # candidate block: shared 5-gram
NGRAM_THRESHOLD = 0.4

NGRAM_ORACLE = f"""
WITH sh3 AS ({_SQL_SHINGLES}),
sh5 AS (
  SELECT DISTINCT doc_id, unnest({sql_word_shingles('text', BLOCK_N)}) AS shingle
  FROM documents),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sh5 a JOIN sh5 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh3 GROUP BY 1),
inter AS (
  SELECT c.a_id, c.b_id, COUNT(*) AS i
  FROM cand c
  JOIN sh3 sa ON sa.doc_id = c.a_id
  JOIN sh3 sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT i.a_id, i.b_id, CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS jaccard
FROM inter i
JOIN cnt ca ON ca.doc_id = i.a_id
JOIN cnt cb ON cb.doc_id = i.b_id
WHERE CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) >= {NGRAM_THRESHOLD}
ORDER BY a_id, b_id
"""


@register("dedup_ngram_jaccard_pairs", NGRAM_ORACLE)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over candidate pairs blocked by a shared
    5-gram — the "rare long shingle" blocking that keeps the pair space
    near-linear on natural text while the verify remains exact."""
    sh3 = _shingles(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    sh5 = exploded_word_shingles(d, "text", BLOCK_N, "shingle").distinct()
    a5 = sh5.select(F.col("doc_id").alias("a_id"), "shingle")
    b5 = sh5.select(F.col("doc_id").alias("b_id"), "shingle")
    cand = (
        a5.join(b5, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    cnt = sh3.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    sh_a = sh3.select(F.col("doc_id").alias("a_id"), "shingle")
    sh_b = sh3.select(F.col("doc_id").alias("b_id"), "shingle")
    inter = (
        cand.join(sh_a, "a_id")
        .join(sh_b, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ca = cnt.select(F.col("doc_id").alias("a_id"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("doc_id").alias("b_id"), F.col("c").alias("cb"))
    jac = F.col("i").cast("double") / (F.col("ca") + F.col("cb") - F.col("i"))
    return (
        inter.join(ca, "a_id")
        .join(cb, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= NGRAM_THRESHOLD)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.4

COSINE_PAIRS_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND({sql_cosine('a.v', 'b.v')}, 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {sql_cosine('a.v', 'b.v')} >= {COSINE_DUP_THRESHOLD}
ORDER BY a_id, b_id
"""


@register("dedup_embedding_cosine_pairs", COSINE_PAIRS_ORACLE)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, brute-force form (the correctness
    baseline — the scale path is the LSH/IVF bucketing in
    operators/similarity.py, which cuts the pair space before the exact
    cosine). Dot products are sequential-double JVM exprs, bit-identical to
    the oracle."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    # norms projected ONCE per side before the pair join (opt round 14 —
    # the cosine_pre pattern knn_bruteforce_topk already used): the inline
    # cosine re-derived both norms per pair, i.e. 3 interpreted array
    # traversals × N²/2 pairs; per-pair work is now a single dot product.
    # Bit-identical: same guard, same d / (na * nb) operation order.
    pre = e.withColumn("_n", norm(F.col("v")))
    a = pre.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"), F.col("_n").alias("na")
    )
    b = pre.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), F.col("_n").alias("nb")
    )
    cos = cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("_c", cos)
        .filter(F.col("_c") >= COSINE_DUP_THRESHOLD)
        .select("a_id", "b_id", F.round(F.col("_c"), 6).alias("cos_sim"))
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed embedding near-dup pairs (the scale path for vectors)
# ---------------------------------------------------------------------------

EMB_LSH_HP_BASE = 200  # hyperplanes = corpus vectors vec_id in [200, 224)
EMB_LSH_BITS = 3  # bits per band → 2^3 buckets per band
EMB_LSH_BANDS = 8  # candidate pairs agree on at least one full band

_EMB_LSH_CAND_SQL = f"""
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
hp AS (SELECT vec_id - {EMB_LSH_HP_BASE} AS hp_id, v AS hv
       FROM e WHERE vec_id >= {EMB_LSH_HP_BASE}
         AND vec_id < {EMB_LSH_HP_BASE + EMB_LSH_BITS * EMB_LSH_BANDS}),
bits AS (
  SELECT e.vec_id, hp.hp_id // {EMB_LSH_BITS} AS band,
         CASE WHEN {sql_dot('e.v', 'hp.hv')} > 0
              THEN CAST(1 AS BIGINT) << (hp.hp_id % {EMB_LSH_BITS}) ELSE 0 END AS b
  FROM e, hp),
buckets AS (
  SELECT vec_id, band, CAST(SUM(b) AS BIGINT) AS bucket FROM bits GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
"""

EMB_LSH_PAIRS_ORACLE = f"""
WITH {_EMB_LSH_CAND_SQL}
SELECT c.a_id, c.b_id, ROUND({sql_cosine('ea.v', 'eb.v')}, 6) AS cos_sim
FROM cand c
JOIN e ea ON ea.vec_id = c.a_id
JOIN e eb ON eb.vec_id = c.b_id
WHERE {sql_cosine('ea.v', 'eb.v')} >= {COSINE_DUP_THRESHOLD}
ORDER BY a_id, b_id
"""


def _emb_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH candidate pairs over embeddings: sign-of-dot against
    {EMB_LSH_BANDS}×{EMB_LSH_BITS} hyperplanes packs each vector into one
    bucket id per band; candidates are pairs sharing any band's bucket.
    Hyperplanes are corpus vectors (deterministic, oracle-reproducible);
    production would broadcast literal random normals — same plan. The
    bucket self-join carries only (vec_id, band, bucket) — 8-byte keys,
    never embeddings. BITS scales with log2(corpus/target bucket size), so
    at 10^9 vectors the bucket fan-in, and with it the verify cost, stays
    bounded; here 3 bits keeps recall high at the fixture's unusually low
    0.4 threshold (measured by dedup_embedding_lsh_recall)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    n_hp = EMB_LSH_BITS * EMB_LSH_BANDS
    hp = e.filter(
        (F.col("vec_id") >= EMB_LSH_HP_BASE)
        & (F.col("vec_id") < EMB_LSH_HP_BASE + n_hp)
    ).select((F.col("vec_id") - EMB_LSH_HP_BASE).alias("hp_id"), F.col("v").alias("hv"))
    bits = e.crossJoin(F.broadcast(hp)).select(
        "vec_id",
        F.expr(f"hp_id div {EMB_LSH_BITS}").alias("band"),
        F.when(
            dot(F.col("v"), F.col("hv")) > 0,
            F.expr(f"shiftleft(CAST(1 AS BIGINT), hp_id % {EMB_LSH_BITS})"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("b"),
    )
    buckets = bits.groupBy("vec_id", "band").agg(
        F.sum("b").cast("long").alias("bucket")
    )
    a = buckets.select(F.col("vec_id").alias("a_id"), "band", "bucket")
    b = buckets.select(F.col("vec_id").alias("b_id"), "band", "bucket")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


@register("dedup_embedding_lsh_pairs", EMB_LSH_PAIRS_ORACLE)
def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed (the scale path): hyperplane
    bucket candidates → exact cosine verify ≥ {COSINE_DUP_THRESHOLD}. Same
    pair schema as the brute-force baseline, but the quadratic step runs on
    bucket collisions only — at 10^9 vectors the all-pairs form is a 10^18
    cartesian while this stays ~linear in corpus × bucket fan-in. The
    brute-force twin (dedup_embedding_cosine_pairs) survives as the recall
    gate, measured by dedup_embedding_lsh_recall."""
    cand = _emb_lsh_candidates(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    # pre-projected norms, one dot per verified pair (see the brute-force
    # twin) — bit-identical to the inline cosine
    pre = e.withColumn("_n", norm(F.col("v")))
    ea = pre.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"), F.col("_n").alias("na")
    )
    eb = pre.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), F.col("_n").alias("nb")
    )
    cos = cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .withColumn("_c", cos)
        .filter(F.col("_c") >= COSINE_DUP_THRESHOLD)
        .select("a_id", "b_id", F.round(F.col("_c"), 6).alias("cos_sim"))
        .orderBy("a_id", "b_id")
    )


EMB_LSH_RECALL_ORACLE = f"""
WITH truth AS ({COSINE_PAIRS_ORACLE.strip()}),
found AS ({EMB_LSH_PAIRS_ORACLE.strip()}),
hits AS (SELECT count(*) AS n FROM truth t
         JOIN found f ON f.a_id = t.a_id AND f.b_id = t.b_id)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
       CAST((SELECT n FROM hits) AS BIGINT) AS n_hits,
       ROUND(CAST((SELECT n FROM hits) AS DOUBLE)
             / (SELECT count(*) FROM truth), 6) AS recall
"""


@register("dedup_embedding_lsh_recall", EMB_LSH_RECALL_ORACLE)
def dedup_embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the LSH embedding dedup: fraction of brute-force
    pairs (the exact baseline) that the bucketed path recovers. At 10^9
    vectors the exact side runs on a sampled panel only; the measurement
    plan (two pair pipelines + an intersection count) is unchanged."""
    truth = dedup_embedding_cosine_pairs(spark, sf_dir).select("a_id", "b_id")
    found = dedup_embedding_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    # NOT persisted, deliberately (opt round 15 negative result): truth and
    # found are each referenced twice below, but Spark's exchange/subquery
    # reuse already computes the expensive pipelines once — an A/B measured
    # persist at ~2x SLOWER (20.7-25.3 s vs 9.6-13.2 s per call, 3 rounds,
    # alternating): the cache materialization is a barrier that blocks the
    # optimizer's cross-subtree reuse without saving any work.
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_found = found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    n_hits = (
        truth.join(found, ["a_id", "b_id"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        n_true.crossJoin(n_found)
        .crossJoin(n_hits)
        .select(
            "n_true",
            "n_found",
            "n_hits",
            F.round(F.col("n_hits").cast("double") / F.col("n_true"), 6).alias(
                "recall"
            ),
        )
    )


FUZZY_MAX_DIST = 40
FUZZY_PREFIX = 100

FUZZY_ORACLE = f"""
WITH pairs AS ({{minhash}}),
docs AS (SELECT doc_id, substr(text, 1, {FUZZY_PREFIX}) AS head FROM documents)
SELECT p.a_id, p.b_id,
       CAST(levenshtein(da.head, db.head) AS BIGINT) AS edit_distance
FROM pairs p
JOIN docs da ON da.doc_id = p.a_id
JOIN docs db ON db.doc_id = p.b_id
WHERE levenshtein(da.head, db.head) <= {FUZZY_MAX_DIST}
ORDER BY a_id, b_id
"""


@register("dedup_fuzzy_levenshtein_pairs", FUZZY_ORACLE.format(minhash=MINHASH_ORACLE.strip()))
def dedup_fuzzy_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification layer on top of the MinHash candidates:
    Levenshtein over the first {FUZZY_PREFIX} chars, keeping pairs within
    {FUZZY_MAX_DIST} edits. Levenshtein is O(len²) per pair — exactly why it
    only ever runs on the LSH-candidate set, never pairwise over the corpus
    (both engines return identical integer distances — no rounding)."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.col("text"), 1, FUZZY_PREFIX).alias("head")
    )
    da = d.select(F.col("doc_id").alias("a_id"), F.col("head").alias("head_a"))
    db = d.select(F.col("doc_id").alias("b_id"), F.col("head").alias("head_b"))
    dist = F.levenshtein(F.col("head_a"), F.col("head_b"))
    return (
        pairs.join(da, "a_id")
        .join(db, "b_id")
        .withColumn("edit_distance", dist.cast("long"))
        .filter(F.col("edit_distance") <= FUZZY_MAX_DIST)
        .select("a_id", "b_id", "edit_distance")
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# Containment scoring over the LSH candidates (sub-document duplication)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.6

CONTAINMENT_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
hashed AS (
  SELECT DISTINCT doc_id, {oracle_hash_sql('shingle', bits=32)} AS h FROM sh),
minh AS (SELECT doc_id, {_SQL_MINHASH_AGGS} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, {_SQL_BAND_SIGS} FROM minh),
bands AS ({_SQL_BAND_UNPIVOT}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
cnt AS (SELECT doc_id, COUNT(*) AS c FROM hashed GROUP BY 1),
inter AS (
  SELECT c.a_id, c.b_id, COUNT(*) AS i
  FROM cand c
  JOIN hashed sa ON sa.doc_id = c.a_id
  JOIN hashed sb ON sb.doc_id = c.b_id AND sb.h = sa.h
  GROUP BY 1, 2)
SELECT i.a_id, i.b_id,
       CAST(i.i AS DOUBLE) / LEAST(ca.c, cb.c) AS containment
FROM inter i
JOIN cnt ca ON ca.doc_id = i.a_id
JOIN cnt cb ON cb.doc_id = i.b_id
WHERE CAST(i.i AS DOUBLE) / LEAST(ca.c, cb.c) >= {CONTAINMENT_THRESHOLD}
ORDER BY a_id, b_id
"""


@register("dedup_containment_pairs", CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) over shingle sets,
    on the same LSH candidate set as the Jaccard verify
    (``_lsh_scored_candidates``). Containment catches a short document
    embedded inside a long one (quote farms, boilerplate wrappers) where
    Jaccard stays low because the union is dominated by the long side — the
    standard companion metric in corpus dedup. Shares every stage with the
    Jaccard pipeline, so at scale the two verifies ride one candidate
    generation."""
    scored = _lsh_scored_candidates(spark, sf_dir)
    containment = F.col("i").cast("double") / F.least(F.col("ca"), F.col("cb"))
    return (
        scored.withColumn("containment", containment)
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("a_id", "b_id", "containment")
        .orderBy("a_id", "b_id")
    )


SPAN_N = 8


def _repeated_spans_oracle() -> str:
    grams = sql_word_shingles("text", SPAN_N)
    return f"""
WITH grams AS (
  SELECT DISTINCT doc_id, unnest({grams}) AS span FROM documents)
SELECT span,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM grams GROUP BY span HAVING COUNT(*) > 1
ORDER BY n_docs DESC, span
"""


@register("dedup_repeated_spans", _repeated_spans_oracle())
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection, the memorization-risk scan a
    training pipeline runs before the fuzzy dedups: every word {SPAN_N}-gram
    that appears verbatim in MORE THAN ONE document, with its document
    frequency and id range. This is the scalable stand-in for
    suffix-array substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): fixed-length spans instead of maximal
    repeats, which turns a global suffix sort into one explode + one
    groupBy.

    Scale plan: the shuffle key is the span (or at 100 TB its 64-bit
    rolling hash — swap ``span`` for ``xxhash64(span)`` to keep shuffle
    rows ~16 bytes); per-doc DISTINCT dedups locally before the exchange,
    so the shuffled relation is bounded by distinct (doc, span) pairs.
    Long-tail spans (df=1, the vast majority) die in the HAVING without
    ever being wide; no doc-vs-doc comparison happens at any point."""
    d = load_table(spark, sf_dir, "documents")
    spans = exploded_word_shingles(d, "text", SPAN_N, "span").distinct()
    return (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "span")
    )


WINNOW_K = 4   # k-gram length (words)
WINNOW_W = 4   # winnowing window (grams)
_POS_BITS = 20  # pos packs into 20 bits below the 32-bit hash


def _winnowing_oracle() -> str:
    grams = sql_word_shingles("text", WINNOW_K)
    h = oracle_hash_sql("g", 32)
    return f"""
WITH grams AS (
  SELECT doc_id, unnest(l) AS g,
         unnest(generate_series(1, len(l))) - 1 AS pos
  FROM (SELECT doc_id, {grams} AS l FROM documents)),
c AS (
  SELECT doc_id, pos,
         {h} * {1 << _POS_BITS} + ({(1 << _POS_BITS) - 1} - pos) AS comb
  FROM grams),
m AS (
  SELECT doc_id, pos,
         MIN(comb) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                         AND CURRENT ROW) AS sel
  FROM c),
f AS (SELECT DISTINCT doc_id, sel FROM m WHERE pos >= {WINNOW_W - 1})
SELECT doc_id,
       CAST(sel // {1 << _POS_BITS} AS BIGINT) AS fp_hash,
       CAST({(1 << _POS_BITS) - 1} - (sel % {1 << _POS_BITS}) AS BIGINT)
         AS fp_pos
FROM f ORDER BY doc_id, fp_pos
"""


@register("dedup_winnowing_fingerprints", _winnowing_oracle())
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken — the MOSS local
    fingerprinting algorithm): per document, from each sliding window of
    {WINNOW_W} consecutive word-{WINNOW_K}-gram hashes select the minimum
    (rightmost on ties), then dedup selections. Guarantees every match of
    length ≥ k+w-1 shares a fingerprint while keeping ~2/(w+1) of grams —
    the position-aware complement to MinHash (which fingerprints whole
    documents, not locations).

    Determinism + engine parity: (hash, rightmost-pos) argmin is packed
    into ONE bigint — hash in the high bits, bit-flipped position in the
    low {_POS_BITS} — so the windowed MIN is a plain integer min in both
    engines, no struct-ordering or FILTER-in-window divergence. Contract:
    documents under 2^{_POS_BITS} grams (enforce by chunking longer docs).

    Scale: one shuffle on doc_id, one sorted window with O(w) state,
    distinct over the selected ~2/(w+1) fraction. Fingerprint→doc
    inverted-index joins downstream reuse the (fp_hash) key."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions.text import _shingles_of_words, _words_array

    w = d.select("doc_id", _words_array(F.col("text")).alias("__w"))
    grams = w.select(
        "doc_id",
        F.posexplode(_shingles_of_words(F.col("__w"), WINNOW_K)).alias("pos", "g"),
    )
    pos_max = (1 << _POS_BITS) - 1
    comb = stable_hash32(F.col("g")) * (1 << _POS_BITS) + (
        F.lit(pos_max) - F.col("pos")
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    sel = (
        grams.select("doc_id", "pos", comb.alias("comb"))
        .select("doc_id", "pos", F.min("comb").over(win).alias("sel"))
        .filter(F.col("pos") >= WINNOW_W - 1)
        .select("doc_id", "sel")
        .distinct()
    )
    return sel.select(
        "doc_id",
        (F.col("sel") / (1 << _POS_BITS)).cast("long").alias("fp_hash"),
        (F.lit(pos_max) - F.col("sel") % (1 << _POS_BITS))
        .cast("long")
        .alias("fp_pos"),
    ).orderBy("doc_id", "fp_pos")


WINNOW_DF_CAP = 20      # drop boilerplate fingerprints shared by > cap docs
WINNOW_PAIR_MIN = 10    # docs sharing >= this many fingerprints are pairs


def _winnowing_pairs_oracle() -> str:
    fp = _winnowing_oracle().replace("ORDER BY doc_id, fp_pos", "")
    return f"""
WITH fp AS ({fp}),
u AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
keep AS (SELECT fp_hash FROM u GROUP BY fp_hash
         HAVING COUNT(*) <= {WINNOW_DF_CAP}),
uu AS (SELECT u.doc_id, u.fp_hash FROM u JOIN keep USING (fp_hash))
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM uu a JOIN uu b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_PAIR_MIN}
ORDER BY a_id, b_id
"""


@register("dedup_winnowing_pairs", _winnowing_pairs_oracle())
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from winnowing fingerprints: inverted-index
    self-join on fp_hash, pairs scored by shared-fingerprint count,
    threshold {WINNOW_PAIR_MIN}. Because winnowing guarantees any shared
    passage of length ≥ k+w-1 contributes a shared fingerprint, this
    catches partial-overlap plagiarism/quote-farm pairs that whole-document
    MinHash misses when the overlap is a small fraction of both docs.

    Scale guards (same posture as the LSH pipeline): fingerprints shared
    by more than {WINNOW_DF_CAP} documents are boilerplate and dropped
    BEFORE the join (caps per-key fan-out at {WINNOW_DF_CAP}²), and the
    join key is the 32-bit hash, never text. One extra shuffle over the
    fingerprint relation, which is already ~2/(w+1) of the gram count."""
    fps = dedup_winnowing_fingerprints(spark, sf_dir).select(
        "doc_id", "fp_hash"
    ).distinct()
    keep = (
        fps.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_DF_CAP)
        .select("fp_hash")
    )
    uu = fps.join(keep, "fp_hash")
    a = uu.select(F.col("doc_id").alias("a_id"), "fp_hash")
    b = uu.select(F.col("doc_id").alias("b_id"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_PAIR_MIN)
        .orderBy("a_id", "b_id")
    )


SEMANTIC_CONTAM_MOD = 97     # vec_id % MOD == 0 → "benchmark" slice
SEMANTIC_CONTAM_COS = 0.40   # similarity at/above which a doc is flagged
# (fixture embeddings are near-orthogonal random vectors — 0.40 is far into
# their tail; real text embeddings would use ~0.85+)

SEMANTIC_CONTAM_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ev AS (SELECT vec_id AS eval_id, v AS ev_v FROM e
       WHERE vec_id % {SEMANTIC_CONTAM_MOD} = 0),
tr AS (SELECT vec_id, v FROM e WHERE vec_id % {SEMANTIC_CONTAM_MOD} <> 0),
scored AS (
  SELECT tr.vec_id, ev.eval_id, {sql_cosine('tr.v', 'ev.ev_v')} AS c
  FROM tr, ev),
best AS (
  SELECT vec_id, eval_id, c,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY c DESC, eval_id) AS rn
  FROM scored)
SELECT vec_id, eval_id AS nearest_eval_id, ROUND(c, 6) AS cos_sim
FROM best WHERE rn = 1 AND c >= {SEMANTIC_CONTAM_COS}
ORDER BY vec_id
"""


@register("contamination_embedding_cosine", SEMANTIC_CONTAM_ORACLE)
def contamination_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination scan — the embedding-space complement of the
    n-gram contamination query: training vectors whose nearest benchmark
    (eval-slice) vector has cosine ≥ {SEMANTIC_CONTAM_COS} (fixture-calibrated — see constant
    note) are flagged as paraphrase-level eval leakage that exact n-gram overlap misses (the
    motivation behind embedding-based decontamination in recent LLM data
    work).

    Scale plan: the eval side is a benchmark suite — bounded by contract —
    so it broadcasts and the corpus is scanned ONCE with a JVM cosine; per
    training vector only the argmax survives (WindowGroupLimit). The
    threshold prunes output to the contaminated set. Identical topology to
    the kNN baseline; an IVF/PQ probe drops in unchanged when the eval
    suite grows past broadcast size."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    ev = e.filter(F.col("vec_id") % SEMANTIC_CONTAM_MOD == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("v").alias("ev_v")
    )
    tr = e.filter(F.col("vec_id") % SEMANTIC_CONTAM_MOD != 0)
    w = Window.partitionBy("vec_id").orderBy(F.desc("c"), F.asc("eval_id"))
    return (
        tr.crossJoin(F.broadcast(ev))
        .withColumn("c", cosine(F.col("v"), F.col("ev_v")))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("c") >= SEMANTIC_CONTAM_COS))
        .select(
            "vec_id",
            F.col("eval_id").alias("nearest_eval_id"),
            F.round("c", 6).alias("cos_sim"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# SemDeDup — cluster-then-prune semantic deduplication (Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication"). The method behind LLM-corpus semantic pruning: k-means
# the embedding space, then drop near-duplicates *within* each cluster, so
# the pairwise step is bounded by cluster size instead of corpus size.
# ---------------------------------------------------------------------------

SEMDEDUP_K = 8  # deterministic "trained" centroids: vec_id < 8 (IVF pattern)
SEMDEDUP_COS = COSINE_DUP_THRESHOLD  # prune b when cos(a, b) >= this, a < b

SEMDEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {SEMDEDUP_K}),
assign AS (
  SELECT vec_id, v, cent_id AS cluster FROM (
    SELECT e.vec_id, e.v, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {sql_cosine('e.v', 'c.cv')} DESC,
                                       c.cent_id) AS rn
    FROM e, cent c)
  WHERE rn = 1)
SELECT a.cluster AS cluster, b.vec_id AS pruned_id,
       ROUND(MAX({sql_cosine('a.v', 'b.v')}), 6) AS max_cos_in_cluster
FROM assign a JOIN assign b
  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.v', 'b.v')} >= {SEMDEDUP_COS}
GROUP BY a.cluster, b.vec_id
ORDER BY cluster, pruned_id
"""


@register("semdedup_cluster_prune", SEMDEDUP_ORACLE)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup closed form: assign every vector to its nearest of K
    centroids (here deterministic corpus vectors so the oracle reproduces
    them; production plugs in the k-means centroids from
    embeddings_ops.kmeans_centroids_flat), then inside each cluster drop
    any vector whose cosine to a lower-id cluster-mate reaches the
    threshold — the paper's keep-one-representative rule with the lowest
    id as the kept witness.

    Scale: the assignment pass is one linear scan against K broadcast
    centroids; the pairwise step self-joins on the cluster key, so its
    cost is sum(|cluster|^2) not |corpus|^2 — exactly the bound the paper
    engineered. K grows with corpus size (paper: 50k clusters for 10^9
    docs), keeping clusters near-constant; the cluster self-join shuffles
    the corpus relation once on an 8-byte key."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    # K is bounded (8) → collect the centroids once and assign map-side
    # against LITERAL centroids: zero-shuffle assignment (see
    # embeddings_ops.assign_to_literal_centroids for the scale argument)
    from .embeddings_ops import assign_to_literal_centroids

    cent_rows = {
        int(r["vec_id"]): list(r["v"])
        for r in e.filter(F.col("vec_id") < SEMDEDUP_K).collect()
    }
    return _semdedup_prune_assigned(assign_to_literal_centroids(e, cent_rows))


def _semdedup_assign(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment for a DataFrame centroid relation (the
    large-K path — literal inlining stops scaling past a few hundred
    centroids): one linear corpus scan against a broadcast (cluster, cv)
    relation, argmax cosine via ``max_by`` with the lowest cluster id as
    the deterministic tie-break. Partial (map-side) aggregation collapses
    the corpus×K scored rows to ONE row per vector before the shuffle —
    the old per-vector window sort shuffled all K scored copies of every
    embedding. Returns (vec_id, v, cluster)."""
    best = F.max_by(
        F.struct(F.col("cluster"), F.col("v")),
        F.struct(F.col("ac"), (-F.col("cluster")).alias("negc")),
    )
    return (
        e.crossJoin(F.broadcast(cent))
        .withColumn("ac", cosine(F.col("v"), F.col("cv")))
        .groupBy("vec_id")
        .agg(best.alias("_b"))
        .select("vec_id", F.col("_b.v").alias("v"), F.col("_b.cluster").alias("cluster"))
    )


def _semdedup_prune_assigned(
    assign: DataFrame, threshold: float = SEMDEDUP_COS
) -> DataFrame:
    """The paper's within-cluster prune, computed the way the SemDeDup
    paper itself does it: group the corpus by cluster and take the upper
    triangle of the per-cluster normalized gram matrix V·Vᵀ (one BLAS
    matmul per cluster inside Arrow-batched ``applyInPandas``) — drop any
    vector whose cosine to a lower-id cluster-mate reaches the threshold.

    Scale: ONE corpus shuffle on the 8-byte cluster key, then
    O(|cluster|^2) vectorized compute per group — sum(|cluster|^2) total,
    never |corpus|^2. The paper keeps cluster sizes near-constant by
    scaling K with the corpus (50k clusters at 10^9 docs), which also
    bounds each group's in-memory V. Measured at sf0.1: 0.48 s vs 1.75 s
    for a pure-JVM self-join on the cluster key with a higher-order-function
    dot product, which Spark evaluates interpreted — the per-pair dot is
    where the time goes, and a gram matrix is the vectorized form of
    exactly that work. Float note: BLAS accumulation order differs from a
    sequential fold; at the 6-decimal rounding of the output a threshold
    flip would need a pair within ~1e-13 of the threshold."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("cluster", LongType()),
            StructField("pruned_id", LongType()),
            StructField("max_cos_in_cluster", DoubleType()),
        ]
    )

    def _gram(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["v"].to_list())
        order = np.argsort(ids)
        ids, V = ids[order], V[order]
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        # zero-norm rows: cosine defined as 0 (same guard as cosine_pre)
        N = np.divide(V, norms, out=np.zeros_like(V), where=norms != 0)
        C = N @ N.T
        a, b = np.triu_indices(len(ids), 1)
        m = C[a, b] >= threshold
        empty = pd.DataFrame(
            {"cluster": [], "pruned_id": [], "max_cos_in_cluster": []}
        ).astype(
            {"cluster": "int64", "pruned_id": "int64",
             "max_cos_in_cluster": "float64"}
        )
        if not m.any():
            return empty
        hits = pd.DataFrame({"pruned_id": ids[b[m]], "c": C[a[m], b[m]]})
        out = hits.groupby("pruned_id", as_index=False)["c"].max()
        out["cluster"] = int(pdf["cluster"].iloc[0])
        out["max_cos_in_cluster"] = out["c"].round(6)
        return out[["cluster", "pruned_id", "max_cos_in_cluster"]]

    return (
        assign.select("cluster", "vec_id", "v")
        .groupby("cluster")
        .applyInPandas(_gram, out_schema)
        .orderBy("cluster", "pruned_id")
    )


def semdedup_prune_with_centroids(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame,
    threshold: float = SEMDEDUP_COS,
) -> DataFrame:
    """Production SemDeDup entry: prune against ANY trained centroid
    relation ``(cluster long, cv array<double>)`` — K is whatever the
    caller trained (the paper scales K with the corpus: 50k clusters at
    10^9 docs, keeping clusters near-constant so the within-cluster
    self-join stays bounded). Feed it ``embeddings_ops._lloyd``'s centroid
    output, a model trained elsewhere, or re-shape
    ``kmeans_centroids_flat`` rows back into arrays."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cent = centroids.select("cluster", "cv")
    return _semdedup_prune_assigned(_semdedup_assign(e, cent), threshold)


def _semdedup_trained_oracle() -> str:
    from .embeddings_ops import KMEANS_ITERS, _kmeans_ctes

    n = KMEANS_ITERS
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes())
        + f"""
SELECT a.cluster AS cluster, b.vec_id AS pruned_id,
       ROUND(MAX({sql_cosine('a.v', 'b.v')}), 6) AS max_cos_in_cluster
FROM assign{n} a JOIN assign{n} b
  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.v', 'b.v')} >= {SEMDEDUP_COS}
GROUP BY a.cluster, b.vec_id
ORDER BY cluster, pruned_id
"""
    )


@register("semdedup_prune_trained", _semdedup_trained_oracle())
def semdedup_prune_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with TRAINED centroids — the production wiring the
    closed-form query stubs out: Lloyd k-means (convergence-stopped,
    ``embeddings_ops._lloyd``) trains the K-centroid model, and the prune
    runs on ITS final assignment. Fully oracle-backed: the DuckDB twin
    unrolls the same fixed-depth Lloyd recurrence (exact-fixed-point stop
    keeps the assignments bit-identical) and applies the identical
    within-cluster prune."""
    from .embeddings_ops import _lloyd_assign_unrolled

    # training + final assignment fused into one job, persisted and
    # materialized inside the narrow-shuffle training window; the gram
    # prune then reads the cached rows (at scale: checkpoint the trained
    # model)
    assign = _lloyd_assign_unrolled(spark, sf_dir)
    return _semdedup_prune_assigned(assign)


# ---------------------------------------------------------------------------
# Incremental (cross-snapshot) dedup — new arrivals vs the existing corpus
# ---------------------------------------------------------------------------

INC_MOD = 4  # "new arrivals" = doc_id % 4 = 0 (deterministic at any SF)

_INC_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

INCREMENTAL_ORACLE = f"""
WITH pairs AS ({{minhash}}),
fp AS (SELECT doc_id, {oracle_hash_sql(_INC_NORM)} AS f FROM documents),
old_fp AS (SELECT DISTINCT f FROM fp WHERE doc_id % {INC_MOD} <> 0),
near_flagged AS (
  SELECT DISTINCT CASE WHEN a_id % {INC_MOD} = 0 THEN a_id ELSE b_id END
         AS doc_id
  FROM pairs
  WHERE (a_id % {INC_MOD} = 0) <> (b_id % {INC_MOD} = 0))
SELECT doc_id FROM fp
WHERE doc_id % {INC_MOD} = 0
  AND f NOT IN (SELECT f FROM old_fp)
  AND doc_id NOT IN (SELECT doc_id FROM near_flagged)
ORDER BY doc_id
"""


@register(
    "dedup_incremental_retained",
    INCREMENTAL_ORACLE.format(minhash=MINHASH_ORACLE.strip()),
)
def dedup_incremental_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: which NEW documents (here doc_id %
    {INC_MOD} = 0 plays the new snapshot) survive against the EXISTING
    corpus — dropped on an exact normalized-fingerprint match with any old
    doc, or on a MinHash-LSH near-dup link to an old doc. The shape every
    growing training corpus runs on each crawl drop: dedup the delta
    against the accumulated index, never re-pair the old corpus with
    itself.

    Scale: the exact gate is an anti-join on 8-byte fingerprints (old side
    is the accumulated fingerprint index — at 100 TB a bucketed table, so
    the join is exchange-free on ingest); the near-dup gate reuses the
    banded LSH pipeline and keeps only cross-snapshot collisions — in
    production the old corpus's band signatures are precomputed once, so
    per-delta cost is delta-sized, not corpus-sized. That "precomputed
    once" claim is implemented end-to-end in operators/dedup_index.py:
    the fingerprint + perdoc + band tables persist as manifest-published
    parquet and successive crawl drops dedup against the STORED index
    (tests/test_dedup_index.py drives two drops with idempotent replays)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = d.select("doc_id", stable_hash60(norm).alias("f"))
    is_new = F.col("doc_id") % INC_MOD == 0
    old_fp = fp.filter(~is_new).select("f").distinct()
    exact_clean = fp.filter(is_new).join(old_fp, "f", "left_anti")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    a_new = F.col("a_id") % INC_MOD == 0
    b_new = F.col("b_id") % INC_MOD == 0
    flagged = (
        pairs.filter(a_new != b_new)
        .select(F.when(a_new, F.col("a_id")).otherwise(F.col("b_id")).alias("doc_id"))
        .distinct()
    )
    return (
        exact_clean.join(flagged, "doc_id", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# cross-document exact substring dedup (Lee et al., "Deduplicating Training
# Data Makes Language Models Better" — the suffix-array modality at shingle
# grain)
# ---------------------------------------------------------------------------

SUB_K = 12       # span grain in words; production grain is ~50 tokens
SUB_MAX_DF = 64  # fingerprints in more docs than this are boilerplate, not
                 # duplication evidence (Lee et al. treat high-frequency
                 # repeats separately) — ignored for dedup decisions


def _substring_fps_oracle() -> str:
    grams = sql_word_shingles("text", SUB_K)
    h = oracle_hash_sql("span", 60)
    return f"""
fps AS (
  SELECT DISTINCT doc_id, {h} AS fp
  FROM (SELECT doc_id, unnest({grams}) AS span FROM documents)),
keep AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING COUNT(*) > 1 AND COUNT(*) <= {SUB_MAX_DF})
"""


def _substring_pairs_oracle() -> str:
    return f"""
WITH {_substring_fps_oracle().strip()}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM (SELECT f.* FROM fps f JOIN keep USING (fp)) a
JOIN (SELECT f.* FROM fps f JOIN keep USING (fp)) b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY a_id, b_id
"""


def _substring_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, fp) over every {SUB_K}-word span, restricted to
    fingerprints shared by 2..{SUB_MAX_DF} documents. One shuffle on the
    8-byte fingerprint; the per-doc DISTINCT dedups locally before the
    exchange, and the df gate kills both the df=1 long tail and the
    boilerplate head before anything quadratic can see them."""
    d = load_table(spark, sf_dir, "documents")
    spans = exploded_word_shingles(d, "text", SUB_K, "span")
    # hash-repartitioned by fp BEFORE the pair-distinct (opt round 15,
    # guide §2.4 — must stay expression-identical to the retained/
    # incremental queries' fps so the whole family shares ONE cache
    # entry): the one exchange satisfies the distinct's (doc_id, fp)
    # clustering, the df gate's fp grouping, the gated join, and the
    # pairs query's bucket self-join — all of which read the persisted
    # fp-partitioned rows with no further shuffle.
    fps = spans.select(
        "doc_id", stable_hash60(F.col("span")).alias("fp")
    ).repartition(F.col("fp")).distinct()
    # persist: the explode+hash+distinct corpus pass feeds the df gate AND
    # the gated join AND (in retained) the min-doc aggregate — without the
    # cache the physical plan re-scans documents once per consumer
    fps.persist(_CORPUS_CACHE)
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") > 1) & (F.col("df") <= SUB_MAX_DF))
        .select("fp")
    )
    gated = fps.join(keep, "fp")
    gated.persist(_CORPUS_CACHE)
    return gated


@register("dedup_substring_pairs", _substring_pairs_oracle())
def dedup_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing at least one verbatim {SUB_K}-word span, with
    the number of shared span fingerprints. The cross-document companion
    of dedup_repeated_spans: that one reports the SPANS, this one the
    DOC-PAIR evidence a dedup decision needs.

    Scale plan (same topology class as MinHash-LSH): fingerprints are the
    buckets — the pair join runs ONLY inside same-fingerprint buckets,
    whose size the df <= {SUB_MAX_DF} gate bounds, so the worst case is
    O(df_cap² × shared fps), never all-pairs. Shuffle rows are 16 bytes
    (doc_id, fp). At 100 TB the grain moves to ~50 tokens and the
    fingerprint index persists as a bucketed, manifest-published table —
    dedup_index.py's ``dedup_subfp`` with the O(delta)
    ``dedup_delta_substring_retained`` drive (exercised by
    tests/test_dedup_index.py::test_dedup_substring_index_*)."""
    fps = _substring_fps(spark, sf_dir)
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("a_id", "b_id")
    )


def _substring_retained_oracle() -> str:
    return f"""
WITH {_substring_fps_oracle().strip()},
kfps AS (SELECT f.* FROM fps f JOIN keep USING (fp)),
firsts AS (SELECT fp, MIN(doc_id) AS first_doc FROM kfps GROUP BY fp),
dropped AS (
  SELECT DISTINCT f.doc_id
  FROM kfps f JOIN firsts m ON f.fp = m.fp AND f.doc_id > m.first_doc)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
ORDER BY d.doc_id
"""


@register("dedup_substring_retained", _substring_retained_oracle())
def dedup_substring_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-writer-wins retention under substring evidence: a document is
    dropped when it shares any {SUB_K}-word span fingerprint with an
    EARLIER (lower doc_id) document; docs too short to produce a span are
    always retained. No pair relation is ever materialized — the drop
    test is fingerprint-vs-min(doc_id), one aggregate and one join on the
    same shuffle key, so this stays linear where the pairs query is
    bucket-quadratic.

    Optimization round 14 (guide §2.4): the df gate, the first-writer min
    and the drop test are ONE window pass over the distinct (doc_id, fp)
    relation — count(*)/min(doc_id) OVER (PARTITION BY fp) on a
    pair-distinct input ARE the distinct-doc frequency and the first
    writer, so the old aggregate → df-gate join → min aggregate → second
    join chain (two aggregations, two joins, a persisted intermediate
    with two consumers) collapses into explode → distinct → window →
    filter → anti-join. fps now has a single consumer, so the cache and
    its materialization pass are gone outright; the anti-join build side
    tolerates the (bounded, ≤{SUB_MAX_DF}-fold) duplicate doc_ids, so no
    distinct is re-introduced. Skew caveat for the 100 TB shape (advice
    r14): WindowExec buffers every row of a partition before the df
    filter runs, so a boilerplate fingerprint with df far above
    {SUB_MAX_DF} buffers (and spills) all its rows where the old hash
    aggregate kept O(1) state per fp and killed boilerplate before any
    join — on a corpus with extreme template repetition, pre-gate the df
    with an aggregate (the old shape) or salt the window key."""
    d = load_table(spark, sf_dir, "documents")
    spans = exploded_word_shingles(d, "text", SUB_K, "span")
    # ONE exchange for the whole chain (opt round 15, guide §2.4): the
    # explicit hash repartition on fp satisfies the pair-distinct's
    # (doc_id, fp) clustering requirement (a hash on a key subset
    # co-locates equal composite keys — the q21 move) AND every downstream
    # fp-keyed consumer: the window below, the df gate, and the pairs
    # query's bucket self-join all read the persisted rows already
    # partitioned by fp, so the per-call re-shuffle of the corpus-sized
    # fingerprint relation is gone. Bytes through the one exchange are
    # ~unchanged (partial distinct only deduped within-document repeats —
    # a doc's spans never leave their scan partition). Same boilerplate-fp
    # skew caveat as the window itself (see docstring).
    fps = spans.select(
        "doc_id", stable_hash60(F.col("span")).alias("fp")
    ).repartition(F.col("fp")).distinct()
    # the corpus explode+hash+distinct pass is the expensive half — keep it
    # persisted so repeated drives in one session (bench iterations, the
    # pairs/retained family sharing a session) read it instead of
    # re-exploding; the window chain below is its single in-plan consumer
    fps.persist(_CORPUS_CACHE)
    w_fp = Window.partitionBy("fp")
    dropped = (
        fps.withColumn("df", F.count(F.lit(1)).over(w_fp))
        .withColumn("first_doc", F.min("doc_id").over(w_fp))
        .filter(
            (F.col("df") > 1)
            & (F.col("df") <= SUB_MAX_DF)
            & (F.col("doc_id") > F.col("first_doc"))
        )
        .select("doc_id")
    )
    return (
        d.select("doc_id")
        .join(dropped, "doc_id", "left_anti")
        .orderBy("doc_id")
    )



def _substring_coverage_oracle() -> str:
    words = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    span = " || ' ' || ".join(f"w[s + {j}]" for j in range(SUB_K))
    h = oracle_hash_sql("span", 60)
    return f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE {words} END AS w
  FROM documents),
wins AS (
  SELECT doc_id, w,
         unnest(generate_series(1, greatest(len(w) - {SUB_K - 1}, 0))) AS s
  FROM docs),
fps AS (
  SELECT doc_id, s, {h} AS fp
  FROM (SELECT doc_id, s, {span} AS span FROM wins) q),
dup AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 1),
dupwins AS (SELECT f.doc_id, f.s FROM fps f JOIN dup USING (fp)),
spanstats AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans FROM dupwins GROUP BY doc_id),
covered AS (
  SELECT doc_id, COUNT(DISTINCT p) AS n_covered
  FROM (SELECT doc_id, unnest(generate_series(s, s + {SUB_K - 1})) AS p
        FROM dupwins) q
  GROUP BY doc_id),
toks AS (SELECT doc_id, len(w) AS n_tokens FROM docs)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(ss.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered
FROM toks t
LEFT JOIN spanstats ss USING (doc_id)
LEFT JOIN covered c USING (doc_id)
ORDER BY t.doc_id
"""


@register("dedup_substring_coverage", _substring_coverage_oracle())
def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee-et-al REMOVAL metric for cross-document substring dedup:
    per document, how many {SUB_K}-word windows are shared verbatim with
    ANOTHER document (``n_dup_spans``) and how many token positions those
    windows cover (``n_covered``) — n_covered / n_tokens is the fraction
    of the document that span-removal (rather than doc-dropping) would
    delete. Complements dedup_substring_pairs/retained: pairs give the
    drop evidence, this gives the surgical-removal accounting.

    Scale: linear end to end — one posexploded window scan, a grouped
    distinct-doc count per fingerprint (df relation, joined back on the
    8-byte fp), and a bounded position explode (×{SUB_K}) ONLY over
    duplicated windows (the rare case by construction). No pair relation,
    no df cap needed: a boilerplate span shared by every doc costs one
    fp-group row plus its own windows, never a cross join."""
    from ..functions.text import _shingles_of_words, _words_array

    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", _words_array(F.col("text")).alias("w")
    )
    wins = docs.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.posexplode(_shingles_of_words(F.col("w"), SUB_K)).alias(
            "s", "span"
        ),
    )
    fps = wins.select(
        "doc_id", "s", stable_hash60(F.col("span")).alias("fp")
    )
    fps.persist(_CORPUS_CACHE)
    dup = (
        fps.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("fp")
    )
    dupwins = fps.join(dup, "fp").select("doc_id", "s")
    dupwins.persist(_CORPUS_CACHE)
    spanstats = dupwins.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans")
    )
    covered = (
        dupwins.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + (SUB_K - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    toks = docs.select("doc_id", F.size("w").alias("n_tokens"))
    return (
        toks.join(spanstats, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce("n_covered", F.lit(0)).cast("long").alias(
                "n_covered"
            ),
        )
        .orderBy("doc_id")
    )


def _substring_incremental_oracle() -> str:
    grams = sql_word_shingles("text", SUB_K)
    h = oracle_hash_sql("span", 60)
    return f"""
WITH fps AS (
  SELECT DISTINCT doc_id, {h} AS fp
  FROM (SELECT doc_id, unnest({grams}) AS span FROM documents)),
old_kept AS (
  SELECT fp FROM fps WHERE doc_id % {INC_MOD} != 0
  GROUP BY fp HAVING COUNT(DISTINCT doc_id) <= {SUB_MAX_DF}),
dropped AS (
  SELECT DISTINCT doc_id FROM fps
  WHERE doc_id % {INC_MOD} = 0 AND fp IN (SELECT fp FROM old_kept))
SELECT doc_id FROM documents
WHERE doc_id % {INC_MOD} = 0
  AND doc_id NOT IN (SELECT doc_id FROM dropped)
ORDER BY doc_id
"""


@register(
    "dedup_substring_incremental_retained", _substring_incremental_oracle()
)
def dedup_substring_incremental_retained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental cross-document substring dedup: which NEW documents
    (doc_id % {INC_MOD} = 0 plays the crawl drop, as in
    dedup_incremental_retained) survive against the EXISTING corpus —
    dropped when any of their {SUB_K}-word span fingerprints already
    exists in an old document, excluding old-side boilerplate
    (fingerprints held by more than {SUB_MAX_DF} old docs: template
    repetition, not duplication evidence). Old docs are earlier by
    definition, so this is dedup_substring_retained's first-writer-wins
    rule at the snapshot boundary; delta-vs-delta duplication is the
    batch family's job on the drop itself.

    This is the emulated twin of the PERSISTED drive
    ``dedup_index.dedup_delta_substring_retained`` — the stored-index path
    (fingerprints as manifest-published parquet, O(delta) appends) is
    exercised by tests/test_dedup_index.py::test_dedup_substring_index_*,
    which assert it equals this relation.

    Scale: old-side work is one scan; the boilerplate df is counted per
    fingerprint (one shuffle on the 8-byte fp), the delta's fps join that
    relation on the same key, and no pair relation ever materializes —
    linear like the batch retained path."""
    d = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INC_MOD == 0
    spans = exploded_word_shingles(d, "text", SUB_K, "span")
    # fp-repartitioned before the distinct — expression-identical to
    # dedup_substring_retained's fps (one shared cache entry, one
    # exchange for distinct + window; opt round 15, guide §2.4)
    fps = spans.select(
        "doc_id", stable_hash60(F.col("span")).alias("fp")
    ).repartition(F.col("fp")).distinct()
    # corpus pass persisted for repeated drives — see
    # dedup_substring_retained
    fps.persist(_CORPUS_CACHE)
    # Optimization round 14 (guide §2.4): the old-side df count and the
    # new-side membership probe are ONE window pass over the pair-distinct
    # relation — a conditional count over the fp partition IS the old-doc
    # frequency (fps is (doc_id, fp)-distinct, so the old countDistinct
    # re-deduplicated already-unique pairs), and a new-side row is dropped
    # exactly when its fp's old count is in [1, {SUB_MAX_DF}]. This
    # replaces the aggregate → semi-join → distinct chain and retires the
    # persisted intermediate (fps now has a single consumer). The
    # anti-join build side tolerates duplicate doc_ids.
    w_fp = Window.partitionBy("fp")
    df_old = F.sum(F.when(~is_new, 1).otherwise(0)).over(w_fp)
    dropped = (
        fps.withColumn("df_old", df_old)
        .filter(is_new & (F.col("df_old") >= 1) & (F.col("df_old") <= SUB_MAX_DF))
        .select("doc_id")
    )
    return (
        d.filter(is_new)
        .select("doc_id")
        .join(dropped, "doc_id", "left_anti")
        .orderBy("doc_id")
    )
