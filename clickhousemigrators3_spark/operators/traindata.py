"""Training-data-pipeline operators beyond dedup/similarity/text-analysis:
PII redaction, repetition-based quality scoring (Gopher-style signals),
stratified per-stratum sampling, and token-budget shard packing — the
curation steps between "raw corpus" and "tokenizer-ready shards".

All pure JVM expressions; per-doc work is a narrow map, the only shuffles
are per-stratum windows (bounded by stratum cardinality, never global).
Reference parity: none (the reference is a migration tool, SURVEY.md §0) —
this is BASELINE north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.hashing import oracle_hash_sql
from ..registry import register

# fixtures carry no real PII (synthetic word salad), so the operator injects
# deterministic PII in-query and redacts it — the redaction regexes and the
# count assertions are then provably non-trivial in both engines
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RX = r"\d{3}-\d{3}-\d{4}"


@register(
    "text_pii_redaction",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents)
    SELECT doc_id,
           CAST(length(t) - length(regexp_replace(t, '{EMAIL_RX}', '', 'g'))
                AS BIGINT) > 0 AS had_email,
           CAST(regexp_matches(t, '{PHONE_RX}') AS BOOLEAN) AS had_phone,
           regexp_replace(regexp_replace(t, '{EMAIL_RX}', '[EMAIL]', 'g'),
                          '{PHONE_RX}', '[PHONE]', 'g') AS redacted
    FROM seeded ORDER BY doc_id
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: regexp-redact emails and phone numbers to typed
    placeholders, with per-doc found-PII flags for audit metrics. Narrow
    map over the scan — embarrassingly parallel; the regexes run in JVM
    codegen, never Python."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    return seeded.select(
        "doc_id",
        (F.length("t") - F.length(F.regexp_replace("t", EMAIL_RX, "")) > 0).alias(
            "had_email"
        ),
        (F.length("t") - F.length(F.regexp_replace("t", PHONE_RX, "")) > 0).alias(
            "had_phone"
        ),
        F.regexp_replace(
            F.regexp_replace("t", EMAIL_RX, "[EMAIL]"), PHONE_RX, "[PHONE]"
        ).alias("redacted"),
    ).orderBy("doc_id")


@register(
    "text_repetition_scores",
    """
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS g
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
            FROM documents WHERE trim(text) <> '')
      WHERE len(ws) >= 2),
    stats AS (
      SELECT doc_id,
             CAST(COUNT(g) AS BIGINT) AS n_bigrams,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
      FROM grams GROUP BY 1)
    SELECT doc_id, n_bigrams, n_distinct,
           CASE WHEN n_bigrams = 0 THEN 0.0
                ELSE 1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams END
             AS dup_bigram_frac
    FROM stats ORDER BY doc_id
    """,
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-style): fraction of duplicate word
    bigrams per document — high values flag boilerplate/spam for filtering.
    Explode → per-doc window (lead) → grouped count/count-distinct; shuffle
    keys are (doc_id, pos) / (doc_id, bigram), never full texts."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    words = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = words.select(
        "doc_id", F.concat_ws(" ", "w", F.lead("w").over(w)).alias("g"),
        F.lead("w").over(w).alias("_next"),
    ).filter(F.col("_next").isNotNull())
    stats = grams.groupBy("doc_id").agg(
        F.count("g").alias("n_bigrams"),
        F.count_distinct("g").alias("n_distinct"),
    )
    return stats.select(
        "doc_id",
        "n_bigrams",
        "n_distinct",
        F.when(F.col("n_bigrams") == 0, F.lit(0.0))
        .otherwise(1.0 - F.col("n_distinct").cast("double") / F.col("n_bigrams"))
        .alias("dup_bigram_frac"),
    ).orderBy("doc_id")


SAMPLE_PER_LANG = 20


@register(
    "stratified_sample_per_lang",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents)
    WHERE rn <= {SAMPLE_PER_LANG}
    ORDER BY lang, doc_id
    """,
)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: a fixed quota per language, chosen by stable
    content hash so the sample is deterministic, reproducible, and
    shuffle-light (per-stratum window with WindowGroupLimit — each
    partition keeps only quota rows). The domain-mixing primitive for
    balancing a training corpus across sources/languages."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_LANG)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


SHARD_TOKEN_BUDGET = 2000


@register(
    "pack_token_shards",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(length(trim(text)) -
                  length(replace(trim(text), ' ', '')) + 1 AS BIGINT)
               AS n_tokens
      FROM documents WHERE trim(text) <> '')
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       - n_tokens)
                      / {SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_id
    FROM toks ORDER BY lang, shard_id, doc_id
    """,
)
def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (sequence-packing precursor): documents
    are laid out in a deterministic hash order per language and assigned to
    shards by running token count, ~{SHARD_TOKEN_BUDGET} tokens per shard.
    Per-stratum window cumsum — state bounded per language partition; at
    100 TB you'd sub-stratify (lang, hash-prefix) to cap any one window's
    partition, same plan."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select(
        "doc_id",
        "lang",
        (
            F.length(F.trim("text"))
            - F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return toks.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / SHARD_TOKEN_BUDGET)
        .cast("long")
        .alias("shard_id"),
    ).orderBy("lang", "shard_id", "doc_id")


# ---------------------------------------------------------------------------
# Benchmark-contamination detection
# ---------------------------------------------------------------------------
# The "eval benchmark" is a deterministic slice of the corpus (doc_id % 97
# == 0) standing in for a held-out test suite; training docs sharing word
# 3-grams with it are flagged with an overlap ratio.
CONTAM_N = 3
CONTAM_MOD = 97


def _contam_oracle() -> str:
    from ..functions.text import sql_word_shingles

    grams = sql_word_shingles("text", CONTAM_N)
    return f"""
WITH grams AS (
  SELECT DISTINCT doc_id, unnest({grams}) AS g FROM documents),
eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % {CONTAM_MOD} = 0),
train AS (SELECT * FROM grams WHERE doc_id % {CONTAM_MOD} <> 0),
tot AS (SELECT doc_id, COUNT(*) AS total_grams FROM train GROUP BY 1),
ov AS (
  SELECT t.doc_id, COUNT(*) AS overlap_grams
  FROM train t JOIN eval_g e ON t.g = e.g GROUP BY 1)
SELECT o.doc_id AS doc_id,
       CAST(o.overlap_grams AS BIGINT) AS overlap_grams,
       CAST(t.total_grams AS BIGINT) AS total_grams,
       ROUND(CAST(o.overlap_grams AS DOUBLE) / t.total_grams, 6)
         AS contamination_pct
FROM ov o JOIN tot t ON o.doc_id = t.doc_id
ORDER BY o.doc_id
"""


@register("text_contamination_ngram_overlap", _contam_oracle())
def text_contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag training docs whose word
    {CONTAM_N}-grams overlap the eval slice's gram set, with the overlap
    ratio per doc.

    Scale plan: in production the eval side is a benchmark suite — tiny
    next to a 100 TB corpus — and AQE will broadcast it. No hint is forced,
    because HERE the eval slice is carved out of the corpus itself
    (doc_id % {CONTAM_MOD}), so it scales with SF; pinning a broadcast on
    an SF-scaling relation is exactly the anti-pattern this repo bans.
    AQE broadcasts it while it fits and falls back to a shuffle join
    beyond that. Then one groupBy on doc_id; no corpus-vs-corpus join
    ever happens."""
    from ..functions.text import exploded_word_shingles

    d = load_table(spark, sf_dir, "documents")
    grams = exploded_word_shingles(d, "text", CONTAM_N, "g").distinct()
    eval_g = grams.filter(F.col("doc_id") % CONTAM_MOD == 0).select("g").distinct()
    train = grams.filter(F.col("doc_id") % CONTAM_MOD != 0)
    tot = train.groupBy("doc_id").agg(F.count("*").alias("total_grams"))
    ov = (
        train.join(eval_g, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_grams"))
    )
    return (
        ov.join(tot, "doc_id")
        .select(
            "doc_id",
            "overlap_grams",
            "total_grams",
            F.round(
                F.col("overlap_grams").cast("double") / F.col("total_grams"), 6
            ).alias("contamination_pct"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Near-dup retained set (greedy keep-smaller-id over MinHash-LSH pairs)
# ---------------------------------------------------------------------------
def _retained_oracle() -> str:
    from .dedup import MINHASH_ORACLE

    return f"""
WITH pairs AS ({MINHASH_ORACLE.strip()})
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT b_id FROM pairs)
ORDER BY doc_id
"""


@register("dedup_minhash_retained", _retained_oracle())
def dedup_minhash_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus that survives near-dup removal: greedy policy dropping
    the larger doc_id of every MinHash-LSH duplicate pair (the
    transitive-closure variant is dedup_clusters_connected_components).

    Scale plan: the drop-list is the LSH pair set — it scales with the
    corpus's duplicate rate, so the left-anti join carries no broadcast
    hint (AQE broadcasts it only while it actually fits); the
    heavy lifting is the LSH pipeline itself (linear explodes + grouped
    mins, see dedup_minhash_lsh_pairs)."""
    from .dedup import dedup_minhash_lsh_pairs

    drop = dedup_minhash_lsh_pairs(spark, sf_dir).select(
        F.col("b_id").alias("doc_id")
    ).distinct()
    d = load_table(spark, sf_dir, "documents")
    return (
        d.join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-language percentile quality gate
# ---------------------------------------------------------------------------
GATE_PCT = 0.25


@register(
    "quality_percentile_gate",
    f"""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
           AS len_pctile
  FROM documents)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(len_pctile, 6) AS len_pctile
FROM r WHERE len_pctile >= {GATE_PCT}
ORDER BY doc_id
""",
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-percentile quality gate: keep docs at or above the 25th
    length percentile *within their language* — the distribution-aware
    filter a curation pipeline uses instead of one global length cutoff.

    percent_rank is computed per-lang with a doc_id tie-break so both
    engines rank identically. Scale plan: one shuffle on lang; at 100 TB
    you'd sub-stratify the window key or pre-aggregate a per-lang quantile
    sketch and broadcast the cutoffs — same semantics, bounded state."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(F.percent_rank().over(w), 6).alias("len_pctile"),
        )
        .filter(F.col("len_pctile") >= GATE_PCT)
        .orderBy("doc_id")
    )


DECONTAM_THRESHOLD = 0.02


def _decontam_oracle() -> str:
    return f"""
WITH contam AS ({_contam_oracle().strip()})
SELECT doc_id, lang, source FROM documents
WHERE doc_id % {CONTAM_MOD} <> 0
  AND doc_id NOT IN
    (SELECT doc_id FROM contam
     WHERE contamination_pct >= {DECONTAM_THRESHOLD})
ORDER BY doc_id
"""


@register("text_decontaminated_retained", _decontam_oracle())
def text_decontaminated_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training corpus after decontamination: the train slice minus
    docs whose eval-set {CONTAM_N}-gram overlap ratio reaches
    {DECONTAM_THRESHOLD} (the eval slice itself is excluded by
    definition). Closes the curation loop: contamination scan → threshold
    → clean retained set.

    Scale plan: the drop-list (contaminated doc_ids) scales with the
    contamination rate — the left-anti join carries no broadcast hint
    (AQE picks); no extra shuffle beyond the contamination scan itself."""
    contam = text_contamination_ngram_overlap(spark, sf_dir)
    drop = contam.filter(F.col("contamination_pct") >= DECONTAM_THRESHOLD).select(
        "doc_id"
    )
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % CONTAM_MOD != 0
    )
    return (
        d.join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the constant-memory scale path
# ---------------------------------------------------------------------------
# Defaults sized for the FIXTURE eval slice (~20k distinct grams at
# sf0.01). Production sizing: after inserting n distinct grams into an
# m-bit filter with k hashes, a non-member gram is false-positive with
#     fp ≈ (1 − e^(−k·n/m))^k
# so pick m ≈ −k·n / ln(1 − fp^(1/k)); for the near-optimal
# k = (m/n)·ln 2, fp ≈ 0.6185^(m/n) — ~10 bits/gram gives fp ≈ 1%,
# ~14.4 bits/gram gives fp ≈ 0.1%. A 1e9-gram benchmark suite at 0.1%
# fp is m ≈ 14.4 Gbit = 1.8 GB: still one broadcast table, constant
# regardless of corpus size. All entry points below take (bits, k)
# overrides; these module constants are only the fixture defaults.
BLOOM_BITS = 65536  # m: filter size in bits (2048 32-bit words)
BLOOM_K = 3         # k: hash functions per gram


def _bloom_retained_oracle() -> str:
    from ..functions.text import sql_word_shingles

    grams = sql_word_shingles("text", CONTAM_N)
    h = oracle_hash_sql("g || chr(31) || CAST(j AS VARCHAR)")
    return f"""
WITH grams AS (
  SELECT DISTINCT doc_id, unnest({grams}) AS g FROM documents),
eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % {CONTAM_MOD} = 0),
seeds AS (SELECT unnest(range({BLOOM_K})) AS j),
eval_pos AS (
  SELECT ({h} % {BLOOM_BITS}) AS pos FROM eval_g CROSS JOIN seeds),
bloom AS (
  SELECT pos // 32 AS word,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM eval_pos GROUP BY 1),
train AS (SELECT doc_id, g FROM grams WHERE doc_id % {CONTAM_MOD} <> 0),
probe0 AS (
  SELECT t.doc_id, t.g, ({h} % {BLOOM_BITS}) AS pos
  FROM train t CROSS JOIN seeds s(j)),
probe AS (
  SELECT doc_id, g, pos // 32 AS word,
         (1::BIGINT << CAST(pos % 32 AS INT)) AS mask
  FROM probe0),
gram_hits AS (
  SELECT pr.doc_id, pr.g,
         SUM(CASE WHEN b.bits IS NOT NULL AND (b.bits & pr.mask) = pr.mask
                  THEN 1 ELSE 0 END) AS set_bits
  FROM probe pr LEFT JOIN bloom b ON pr.word = b.word
  GROUP BY 1, 2),
doc AS (
  SELECT doc_id, COUNT(*) AS total_grams,
         SUM(CASE WHEN set_bits = {BLOOM_K} THEN 1 ELSE 0 END) AS bloom_hits
  FROM gram_hits GROUP BY 1)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % {CONTAM_MOD} <> 0
  AND doc_id NOT IN
    (SELECT doc_id FROM doc
     WHERE CAST(bloom_hits AS DOUBLE) / total_grams >= {DECONTAM_THRESHOLD})
ORDER BY doc_id
"""


def _bloom_positions(
    df: DataFrame, bits: int = BLOOM_BITS, k: int = BLOOM_K
) -> DataFrame:
    """df + (word, mask) per gram × seed — the k md5-derived bit probes."""
    from ..functions.hashing import stable_hash60

    seeds = df.sparkSession.range(k).select(F.col("id").alias("j"))
    return df.crossJoin(seeds).select(
        df["*"],
        (
            stable_hash60(
                F.concat(F.col("g"), F.lit("\x1f"), F.col("j").cast("string"))
            )
            % bits
        ).alias("pos"),
    ).select(
        df["*"],
        F.expr("pos div 32").alias("word"),
        F.expr("shiftleft(1L, CAST(pos % 32 AS INT))").alias("mask"),
    )


def bloom_filter_from_grams(
    eval_g: DataFrame, bits: int = BLOOM_BITS, k: int = BLOOM_K
) -> DataFrame:
    """Fold a gram set (column ``g``) into the (word, bits) Bloom table —
    at most ``bits``/32 rows regardless of input size. Sizing: with n
    distinct grams, fp ≈ (1 − e^(−k·n/bits))^k — see the module-constant
    comment for the production formula."""
    return (
        _bloom_positions(eval_g.select("g").distinct(), bits, k)
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_contaminated_ids(
    train_grams: DataFrame,
    bloom: DataFrame,
    bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """doc_ids whose bloom-positive gram ratio reaches DECONTAM_THRESHOLD.
    ``train_grams`` is (doc_id, g) distinct; ``bloom`` is (word, bits)
    built with the SAME (bits, k) — the probe recomputes the k hashes."""
    probe = _bloom_positions(train_grams, bits, k).join(
        F.broadcast(bloom), "word", "left"
    )
    gram_hits = probe.groupBy("doc_id", "g").agg(
        F.sum(
            F.when(
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
                1,
            ).otherwise(0)
        ).alias("set_bits")
    )
    doc = gram_hits.groupBy("doc_id").agg(
        F.count("*").alias("total_grams"),
        F.sum((F.col("set_bits") == k).cast("int")).alias("bloom_hits"),
    )
    return doc.filter(
        F.col("bloom_hits").cast("double") / F.col("total_grams")
        >= DECONTAM_THRESHOLD
    ).select("doc_id")


def publish_decontamination_bloom(
    benchmark_docs: DataFrame,
    out_path: str,
    bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> None:
    """Ship the filter, not the benchmark: fold ``benchmark_docs``
    (doc_id, text) into the Bloom table and publish it as one small
    parquet — ingest pipelines gate against the artifact without ever
    seeing benchmark text (also a governance win: the filter is one-way).
    Size (bits, k) for the benchmark suite's distinct-gram count n via
    fp ≈ (1 − e^(−k·n/bits))^k (module-constant comment); probes must
    reuse the same (bits, k).
    """
    from ..functions.text import exploded_word_shingles

    grams = exploded_word_shingles(
        benchmark_docs, "text", CONTAM_N, "g"
    ).select("g").distinct()
    # the artifact carries its own sizing (constant columns — a few bytes
    # RLE-encoded) so probes self-configure instead of trusting callers to
    # repeat the publisher's (bits, k)
    bloom_filter_from_grams(grams, bits, k).withColumn(
        "_m", F.lit(bits)
    ).withColumn("_k", F.lit(k)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out_path)


def read_decontamination_bloom(
    spark: SparkSession, path: str
) -> tuple[DataFrame, int, int]:
    """Load a published Bloom artifact → ``(bloom(word, bits), m, k)``.
    Pre-sizing-column artifacts fall back to the module defaults."""
    bloom = spark.read.parquet(path)
    if "_m" in bloom.columns:
        row = bloom.select("_m", "_k").first()
        if row is None:  # published-but-empty filter (no grams): zero
            # rows still carry the sizing COLUMNS but no values — fall
            # back to the module defaults instead of subscripting None
            return bloom.select("word", "bits"), BLOOM_BITS, BLOOM_K
        return bloom.select("word", "bits"), int(row["_m"]), int(row["_k"])
    return bloom, BLOOM_BITS, BLOOM_K


@register("text_decontamination_bloom_retained", _bloom_retained_oracle())
def text_decontamination_bloom_retained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination through a Bloom filter instead of the gram join:
    the eval slice's {CONTAM_N}-grams are folded into a {BLOOM_BITS}-bit
    filter (k={BLOOM_K} md5-derived hashes, cross-engine-stable so DuckDB
    rebuilds the identical filter), training grams probe it, and docs
    whose bloom-positive gram ratio reaches {DECONTAM_THRESHOLD} drop.

    Why it exists next to text_decontaminated_retained: at 100 TB the
    exact path joins the corpus gram relation against the benchmark gram
    set — fine while AQE can broadcast the benchmark, but the join's
    build side grows with the benchmark suite. The Bloom filter is
    CONSTANT-size (2048 words here, a few MB at production m) regardless
    of either side, broadcasts unconditionally, and never shuffles the
    corpus: build is one tiny aggregate on the eval side, probe is a
    map-side broadcast join + two bounded groupBys. No false negatives —
    every truly contaminated gram is bloom-positive — so the bloom
    retained set is a SUBSET of the exact retained set (asserted in
    tests); false positives only over-drop, tunable via m/k.
    """
    from ..functions.text import exploded_word_shingles

    d = load_table(spark, sf_dir, "documents")
    grams = exploded_word_shingles(d, "text", CONTAM_N, "g").distinct()
    bloom = bloom_filter_from_grams(
        grams.filter(F.col("doc_id") % CONTAM_MOD == 0)
    )
    train = grams.filter(F.col("doc_id") % CONTAM_MOD != 0)
    drop = bloom_contaminated_ids(train, bloom)
    base = d.filter(F.col("doc_id") % CONTAM_MOD != 0)
    return (
        base.join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _emb_retained_oracle() -> str:
    from .dedup import EMB_LSH_PAIRS_ORACLE

    return f"""
WITH pairs AS ({EMB_LSH_PAIRS_ORACLE.strip()})
SELECT vec_id, CAST(label AS INTEGER) AS label FROM embeddings
WHERE vec_id NOT IN (SELECT b_id FROM pairs)
ORDER BY vec_id
"""


@register("dedup_embedding_retained", _emb_retained_oracle())
def dedup_embedding_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings surviving cosine near-dup removal: greedy drop of the
    larger vec_id of every pair at/above the cosine threshold — the vector
    twin of dedup_minhash_retained.

    Scale plan: pair discovery is the bucketed hyperplane-LSH path
    (dedup_embedding_lsh_pairs) — bucket-collision candidates + exact
    cosine verify — not the O(n²) brute-force baseline, which survives
    only as the recall gate (dedup_embedding_lsh_recall). The drop-list
    scales with the duplicate rate, so the left-anti join carries no
    broadcast hint (AQE picks); no quadratic stage remains anywhere in
    the retained path."""
    from .dedup import dedup_embedding_lsh_pairs

    drop = dedup_embedding_lsh_pairs(spark, sf_dir).select(
        F.col("b_id").alias("vec_id")
    ).distinct()
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.join(drop, "vec_id", "left_anti")
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


def _quality_retained_oracle() -> str:
    from .clusters import CLUSTERS_ORACLE

    return f"""
WITH clusters AS ({CLUSTERS_ORACLE.strip().rstrip()}),
ranked AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM clusters c JOIN documents d USING (doc_id)),
drop_list AS (SELECT doc_id FROM ranked WHERE rn > 1)
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM drop_list)
ORDER BY doc_id
"""


@register("dedup_quality_retained", _quality_retained_oracle())
def dedup_quality_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup retention: within every duplicate CLUSTER
    (connected components over the LSH pairs — so transitive chains
    A≈B≈C collapse together), keep the single highest-quality member
    (longest text, doc_id tie-break) instead of the naive lowest-id. This
    is the retention policy real corpus curation wants: dropping the
    shorter/truncated variants of a duplicated document, not an arbitrary
    one.

    Scale: clusters come from the pair relation (≪ corpus); ranking is a
    window over cluster members only; the final drop is a left-anti join
    with no broadcast hint (the drop-list scales with the duplicate
    rate — AQE picks)."""
    from .clusters import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    members = dedup_clusters(spark, sf_dir).join(
        d.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    drop = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    return (
        d.join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


K_ANON = 5


@register(
    "privacy_k_anonymity_groups",
    f"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           COUNT(*) < {K_ANON} AS below_k
    FROM documents
    GROUP BY lang, source ORDER BY lang, source
    """,
)
def privacy_k_anonymity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (lang, source):
    group sizes with a below-k flag — groups smaller than k={K_ANON} are
    re-identification risks a release-gate either suppresses or
    generalizes (the privacy counterpart of the PII redaction scan).

    Scale: one grouped count on the quasi-identifier key; the output is
    |distinct quasi-identifier combinations|, metadata-sized."""
    d = load_table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return (
        d.groupBy("lang", "source")
        .agg(
            n.cast("long").alias("group_size"),
            (n < K_ANON).alias("below_k"),
        )
        .orderBy("lang", "source")
    )


@register(
    "pack_sequence_boundaries",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(length(trim(text)) -
                  length(replace(trim(text), ' ', '')) + 1 AS BIGINT)
               AS n_tokens
      FROM documents WHERE trim(text) <> ''),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER w - n_tokens AS cum_before
      FROM toks
      WINDOW w AS (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT doc_id, lang,
           CAST(FLOOR(cum_before / {SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_id,
           CAST(cum_before % {SHARD_TOKEN_BUDGET} AS BIGINT) AS start_offset,
           CAST(cum_before % {SHARD_TOKEN_BUDGET} + n_tokens AS BIGINT)
             AS end_offset
    FROM packed ORDER BY lang, shard_id, doc_id
    """,
)
def pack_sequence_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing with document boundaries — the tokenizer-ready
    completion of :func:`pack_token_shards`: each document gets its token
    start/end offset WITHIN its shard's concatenated sequence, which is
    exactly the metadata an attention-masking loader needs to keep packed
    documents from attending across boundaries. Same deterministic
    per-language hash order and running-token cumsum (one window, one
    shuffle); offsets are the cumsum modulo the shard budget, so no second
    pass over the data. A document straddling the budget line keeps
    end_offset > budget — the loader's signal to truncate or wrap, kept
    explicit rather than silently split."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = d.select(
        "doc_id",
        "lang",
        (
            F.length(F.trim("text"))
            - F.length(F.replace(F.trim("text"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return toks.select(
        "doc_id",
        "lang",
        F.floor(cum_before / SHARD_TOKEN_BUDGET).cast("long").alias("shard_id"),
        (cum_before % SHARD_TOKEN_BUDGET).cast("long").alias("start_offset"),
        (cum_before % SHARD_TOKEN_BUDGET + F.col("n_tokens"))
        .cast("long")
        .alias("end_offset"),
    ).orderBy("lang", "shard_id", "doc_id")


# ---------------------------------------------------------------------------
# CCNet-style LM quality filtering (Wenzek et al. 2020, "CCNet: Extracting
# high quality monolingual datasets from web crawl data"): score every
# document by its perplexity under a language model; low-perplexity docs are
# fluent "head" data, high-perplexity docs are noise. Here the LM is a
# Laplace-smoothed bigram model trained on the corpus itself — the whole
# pipeline (train + score) is two grouped counts and two key joins.
# ---------------------------------------------------------------------------

CCNET_ALPHA = 1.0  # Laplace smoothing

CCNET_PPL_ORACLE = """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''),
db AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i + 1])) AS bg
  FROM d WHERE len(w) >= 2),
bgc AS (SELECT bg, COUNT(*) AS cbg FROM db GROUP BY 1),
ctx AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS cctx
        FROM db GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT term) AS v
          FROM (SELECT unnest(w) AS term FROM d)),
scored AS (
  SELECT db.doc_id,
         ln((bgc.cbg + 1.0) / (ctx.cctx + 1.0 * vocab.v)) AS lp
  FROM db JOIN bgc USING (bg)
  JOIN ctx ON split_part(db.bg, ' ', 1) = ctx.w1
  CROSS JOIN vocab)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(-AVG(lp), 6) AS avg_nll
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


@register("ccnet_bigram_perplexity", CCNET_PPL_ORACLE)
def ccnet_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under a corpus-trained
    Laplace-smoothed bigram LM — the CCNet quality signal (their Kneser-Ney
    5-gram becomes a bigram model so the DuckDB oracle can replay training
    exactly; the pipeline shape is identical).

    Scale: the corpus explodes ONCE into bigram instances and those
    instances are shuffled ONCE — model "training" is a single grouped
    count (bigram-keyed, vocabulary-sized); context counts derive from the
    bigram counts by a vocabulary-sized re-aggregation (c(w1) = Σ c(w1 ·)),
    the smoothed log-prob is precomputed per DISTINCT bigram, and scoring
    is one join of instances onto that vocab-sized lp table (AQE usually
    broadcasts it) plus the doc-keyed aggregation. The scalar |V| crosses
    as a one-row broadcast. No driver loops, no Python in the hot path.
    CCNet's head/middle/tail split is a downstream bucketing of avg_nll
    against two broadcast quantile thresholds — deliberately not a global
    NTILE, which would funnel every doc through one window partition.

    The plan travels as ONE generated SQL text: the DataFrame-API
    construction of the nested zip_with/slice lambdas measured ~0.35 s of
    Py4J round-trips PER CALL (40% of this query's bench-min) — the same
    finding that shaped the Lloyd trainer. Expressions are character-
    identical to the previous Column form, so values are bit-equal."""
    from ..catalog import dataset_tag, persist_owned

    tag = dataset_tag(sf_dir)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        f"_ccnet_docs_{tag}"
    )
    # bigram construction mirrors the oracle's list_transform; adjacent-
    # pair zip streams both slices once (~1.7x the element_at form).
    # c(w1) = Σ_w2 c(w1 w2) derives from the bigram counts (no second
    # corpus pass); lp is precomputed per DISTINCT bigram so the corpus-
    # sized instance relation is shuffled exactly once; |V| is a one-row
    # broadcast.
    #
    # Optimization round 14 (guide §2.4/§5): the CTE text referenced d
    # twice and db twice, and Spark plans each reference as its own
    # subtree — documents was scanned and re-split THREE times and the
    # bigram explode ran twice. Persisting the word-array and
    # bigram-instance relations (registered as views, read by the same
    # SQL text) makes it one scan + one split + one explode; expressions
    # are character-identical, so values are unchanged.
    d_df = spark.sql(f"""
SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS w
FROM _ccnet_docs_{tag} WHERE trim(text) != ''""")
    # the two persists must OUTLIVE this call (the returned plan's action
    # reads them), so in-call unpersist is impossible — each is owned per
    # session instead, which unpersists the frame a PREVIOUS dataset left
    # (one dataset per session: per-sf_dir plans would otherwise
    # accumulate cache entries without bound) and forgets stopped sessions.
    # Same-dataset repeat calls re-persist plan-identical frames, which the
    # CacheManager dedups. One owner per frame: an owner holds one frame.
    persist_owned(spark, "ccnet_words", sf_dir, d_df)
    d_df.createOrReplaceTempView(f"_ccnet_d_{tag}")
    db_df = spark.sql(f"""
SELECT doc_id,
       explode(zip_with(slice(w, 1, size(w) - 1),
                        slice(w, 2, size(w) - 1),
                        (a, b) -> concat(a, ' ', b))) AS bg
FROM _ccnet_d_{tag} WHERE size(w) >= 2""")
    persist_owned(spark, "ccnet_bigrams", sf_dir, db_df)
    db_df.createOrReplaceTempView(f"_ccnet_db_{tag}")
    return spark.sql(f"""
WITH d AS (SELECT doc_id, w FROM _ccnet_d_{tag}),
db AS (SELECT doc_id, bg FROM _ccnet_db_{tag}),
bgc AS (SELECT bg, count(1) AS cbg FROM db GROUP BY bg),
ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1, sum(cbg) AS cctx
  FROM bgc GROUP BY split_part(bg, ' ', 1)),
vocab AS (
  SELECT count(DISTINCT term) AS v
  FROM (SELECT explode(w) AS term FROM d)),
lp_tbl AS (
  SELECT /*+ BROADCAST(vocab) */ bg,
         log((cbg + {CCNET_ALPHA}) / (cctx + {CCNET_ALPHA} * v)) AS lp
  FROM (SELECT bg, cbg, split_part(bg, ' ', 1) AS w1 FROM bgc) b
  JOIN ctx USING (w1) CROSS JOIN vocab)
SELECT doc_id, count(1) AS n_bigrams, round(-avg(lp), 6) AS avg_nll
FROM db JOIN lp_tbl USING (bg)
GROUP BY doc_id ORDER BY doc_id
""")


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al. 2023): weight
# every raw document by how target-like its hashed-n-gram bag is,
# log w(x) = mean_b[ ln p_target(b) - ln p_raw(b) ] over the doc's hashed
# feature instances, then resample by weight. The bucket distributions are
# tiny (DSIR_BUCKETS rows) whatever the corpus size.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_ALPHA = 1.0  # additive smoothing on both distributions
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")  # the "target domain"


def _dsir_oracle() -> str:
    from ..functions.hashing import oracle_hash_sql

    targets = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    bucket = f"({oracle_hash_sql('gram', 32)} % {DSIR_BUCKETS})"
    return f"""
WITH d AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''),
grams AS (
  SELECT doc_id, source, unnest(w) AS gram FROM d
  UNION ALL
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i + 1])) AS gram
  FROM d WHERE len(w) >= 2),
feats AS (SELECT doc_id, source, {bucket} AS b FROM grams),
praw AS (
  SELECT b, COUNT(*) AS c FROM feats GROUP BY 1),
ptgt AS (
  SELECT b, COUNT(*) AS c FROM feats
  WHERE source IN ({targets}) GROUP BY 1),
tot AS (
  SELECT (SELECT COUNT(*) FROM feats) AS nraw,
         (SELECT COUNT(*) FROM feats WHERE source IN ({targets})) AS ntgt),
w AS (
  SELECT praw.b,
         ln((COALESCE(ptgt.c, 0) + {DSIR_ALPHA})
            / (tot.ntgt + {DSIR_ALPHA} * {DSIR_BUCKETS}))
         - ln((praw.c + {DSIR_ALPHA})
              / (tot.nraw + {DSIR_ALPHA} * {DSIR_BUCKETS})) AS lw
  FROM praw LEFT JOIN ptgt USING (b) CROSS JOIN tot)
SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       ROUND(AVG(w.lw), 6) AS log_importance
FROM feats f JOIN w USING (b)
GROUP BY f.doc_id ORDER BY f.doc_id
"""


@register("dsir_importance_weights", _dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: hashed unigram+bigram features (stable
    md5-derived buckets, oracle-reproducible), smoothed bucket
    distributions for the target domain (a fixed source subset standing in
    for "Wikipedia-like") and the raw corpus, and per-document mean
    log-ratio — the quantity DSIR resamples by to select pretraining data
    matching a target distribution.

    Scale: features explode once; both distributions collapse to
    DSIR_BUCKETS rows (bounded at ANY corpus size → the weight relation is
    broadcast by construction); the per-doc aggregation shuffles doc-keyed
    rows once. The resample step itself is ``mixture_resample``'s pattern
    downstream."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .select(
            "doc_id",
            "source",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w"),
        )
    )
    uni = d.select("doc_id", "source", F.explode("w").alias("gram"))
    bi = (
        d.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                # adjacent-pair zip (streams both slices once) — ~1.7x the
                # element_at random-access form; values identical to the
                # oracle's list_transform construction
                F.zip_with(
                    F.slice(F.col("w"), 1, F.size("w") - 1),
                    F.slice(F.col("w"), 2, F.size("w") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("gram"),
        )
    )
    from ..functions.hashing import stable_hash32

    feats = uni.unionByName(bi).select(
        "doc_id",
        "source",
        (stable_hash32(F.col("gram")) % DSIR_BUCKETS).alias("b"),
    )
    is_target = F.col("source").isin(*DSIR_TARGET_SOURCES)
    praw = feats.groupBy("b").agg(F.count(F.lit(1)).alias("craw"))
    ptgt = (
        feats.filter(is_target)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ctgt"))
    )
    tot = feats.agg(
        F.count(F.lit(1)).alias("nraw"),
        F.count(F.when(is_target, 1)).alias("ntgt"),
    )
    w = (
        praw.join(ptgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ctgt"), F.lit(0)) + F.lit(DSIR_ALPHA))
                    / (F.col("ntgt") + F.lit(DSIR_ALPHA) * DSIR_BUCKETS)
                )
                - F.log(
                    (F.col("craw") + F.lit(DSIR_ALPHA))
                    / (F.col("nraw") + F.lit(DSIR_ALPHA) * DSIR_BUCKETS)
                )
            ).alias("lw"),
        )
    )
    return (
        feats.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.avg("lw"), 6).alias("log_importance"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models: ...
# Gopher", Appendix A1.1): the widely-reused doc-level heuristic gate
# (word-count bounds, mean-word-length bounds, symbol ratio, alphabetic-word
# fraction). Each signal is exposed so downstream filters can re-threshold.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8

GOPHER_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
  FROM documents WHERE trim(text) <> ''),
sig AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(length(t) - (len(ws) - 1) AS DOUBLE) / len(ws) AS mean_word_len,
         CAST(length(t) - length(replace(replace(t, '#', ''), '@', ''))
              AS DOUBLE) / len(ws) AS symbol_ratio,
         CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
              AS DOUBLE) / len(ws) AS alpha_word_frac
  FROM d)
SELECT doc_id, n_words, ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(symbol_ratio, 6) AS symbol_ratio,
       ROUND(alpha_word_frac, 6) AS alpha_word_frac,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND mean_word_len BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
        AND symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}
        AND alpha_word_frac > {GOPHER_MIN_ALPHA_FRAC}) AS passes
FROM sig ORDER BY doc_id
"""


@register("gopher_quality_gate", GOPHER_ORACLE)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's doc-level quality gate: word-count bounds, mean word
    length, symbol-to-word ratio ('#'/'@' here; the fixtures carry no
    ellipses), and the fraction of words containing an alphabetic
    character — with the pass/fail verdict AND each raw signal, since
    real pipelines re-tune the thresholds per corpus.

    Scale: a narrow per-row map over the scan — no shuffle at all except
    the final presentation sort; every signal is a JVM expression on the
    normalized text / token array staged in one projection."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .select(
            "doc_id",
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ").alias("t"),
            F.split(F.trim(F.lower("text")), r"\s+").alias("ws"),
        )
    )
    n_words = F.size("ws").cast("long")
    mean_word_len = (
        F.length("t") - (F.size("ws") - 1)
    ).cast("double") / F.size("ws")
    symbol_ratio = (
        F.length("t")
        - F.length(F.replace(F.replace(F.col("t"), F.lit("#")), F.lit("@")))
    ).cast("double") / F.size("ws")
    alpha_frac = (
        F.size(F.filter(F.col("ws"), lambda w: w.rlike("[a-z]"))).cast(
            "double"
        )
        / F.size("ws")
    )
    sig = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
    )
    return sig.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        (
            F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & F.col("mean_word_len").between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
            & (F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO)
            & (F.col("alpha_word_frac") > GOPHER_MIN_ALPHA_FRAC)
        ).alias("passes"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# CCNet head/middle/tail split: bucket every document into perplexity
# tertiles per language — the published pipeline keeps "head" (fluent) data
# and drops or down-weights "tail" (noisy) data.
# ---------------------------------------------------------------------------

CCNET_BUCKETS_ORACLE = f"""
WITH ppl AS ({CCNET_PPL_ORACLE.strip().rstrip()}),
j AS (
  SELECT p.doc_id, d.lang, p.avg_nll,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY p.avg_nll, p.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY d.lang) AS n
  FROM ppl p JOIN documents d USING (doc_id)),
b AS (
  SELECT lang, avg_nll,
         CASE WHEN rn * 3 <= n THEN 'head'
              WHEN rn * 3 <= 2 * n THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM j)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(MIN(avg_nll), 6) AS min_nll,
       ROUND(MAX(avg_nll), 6) AS max_nll
FROM b GROUP BY lang, bucket ORDER BY lang, bucket
"""


@register("ccnet_perplexity_buckets", CCNET_BUCKETS_ORACLE)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4): per
    language, rank documents by LM perplexity (ccnet_bigram_perplexity's
    avg_nll) and cut into tertiles by INTEGER rank arithmetic
    (rn*3 <= n / <= 2n) — exact across engines, no float thresholds. Output
    is the per-(lang, bucket) census with the nll range of each bucket.

    Scale: ranking partitions by lang, so no global sort; the published
    pipeline's alternative — bucketing against two precomputed quantile
    thresholds — is the broadcast-threshold variant when even a per-lang
    sort is too much, at the cost of exact tertile boundaries."""
    from pyspark.sql.window import Window

    ppl = ccnet_bigram_perplexity(spark, sf_dir).select("doc_id", "avg_nll")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = ppl.join(d, "doc_id")
    wl = Window.partitionBy("lang")
    j = j.select(
        "lang",
        "avg_nll",
        F.row_number().over(wl.orderBy("avg_nll", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wl).alias("n"),
    )
    bucket = (
        F.when(F.col("rn") * 3 <= F.col("n"), "head")
        .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
    )
    return (
        j.select("lang", "avg_nll", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("avg_nll"), 6).alias("min_nll"),
            F.round(F.max("avg_nll"), 6).alias("max_nll"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Learned-classifier quality filtering (FineWeb-Edu / DCLM style): score
# every document with a logistic model over hashed bag-of-words features.
# The rule-based (Gopher), perplexity (CCNet), and importance (DSIR) gates
# above cover the heuristic stages; this is the "apply a trained classifier
# to the whole corpus" stage.
# ---------------------------------------------------------------------------

CLS_BUCKETS = 64
CLS_BIAS = -0.2

# deterministic fixture weights — a stand-in for trained coefficients with
# the same shape (production swaps in the trained vector as a broadcast
# literal array; the plan is identical). w_b = ((37 b + 11) mod 21 − 10)/10
# spreads weights over [−1, 1] so both engines reproduce them exactly.
_CLS_W = "(((bucket * 37 + 11) % 21 - 10) / 10.0)"

CLASSIFIER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
b AS (
  SELECT doc_id, {oracle_hash_sql('tok', bits=32)} % {CLS_BUCKETS} AS bucket
  FROM toks WHERE tok <> ''),
per AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
doc AS (
  SELECT doc_id, SUM(c * {_CLS_W}) / SUM(c) AS dot
  FROM per GROUP BY doc_id)
SELECT doc_id,
       ROUND(1.0 / (1.0 + exp(-({CLS_BIAS} + dot))), 6) AS quality_prob,
       ROUND(1.0 / (1.0 + exp(-({CLS_BIAS} + dot))), 6) >= 0.5 AS keep
FROM doc ORDER BY doc_id
"""


@register("classifier_quality_score", CLASSIFIER_ORACLE)
def classifier_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression quality scoring over hashed bag-of-words
    features — the classifier-filtering stage of a modern training-data
    pipeline (FineWeb-Edu's educational-value model, DCLM's fastText
    filter): tokens hash into {CLS_BUCKETS} buckets, per-doc term
    frequencies dot a weight vector, sigmoid → keep/drop.

    Scale design: the model is a closed-form expression here (a trained
    model ships as a broadcast literal array — same plan either way, the
    weights are never a join side). Two shuffles, both bounded: (doc,
    bucket) counts (map-side combine caps the first at docs×{CLS_BUCKETS}
    rows) and the per-doc reduce. Everything is JVM expressions — no UDF
    in the scoring path, so a 100 TB corpus scores in one pass at scan
    speed."""
    from ..functions.hashing import stable_hash32

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    per = (
        toks.select(
            "doc_id",
            (stable_hash32(F.col("tok")) % CLS_BUCKETS).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = ((F.col("bucket") * 37 + 11) % 21 - 10) / 10.0
    doc = per.groupBy("doc_id").agg(
        (F.sum(F.col("c") * w) / F.sum("c")).alias("dot")
    )
    prob = F.round(
        1.0 / (1.0 + F.exp(-(F.lit(CLS_BIAS) + F.col("dot")))), 6
    )
    return doc.select(
        "doc_id",
        prob.alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    ).orderBy("doc_id")
