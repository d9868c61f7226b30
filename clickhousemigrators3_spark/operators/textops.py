"""Text-analysis operators over the ``documents`` table (SURVEY.md §7.3 /
BASELINE north-star: language-ID, quality scoring, token counting, document
fingerprinting).

All pure JVM expressions (regexp_count / split / md5) — no Python UDFs in
the hot path; at 100 TB each query is a single narrow map + small agg, no
shuffle beyond the final aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import oracle_hash_sql, stable_hash60
from ..functions.text import (
    PUNCT_PATTERN,
    STOP_PATTERN,
    TOKEN_PATTERN,
    WORD_PATTERN,
    langid_expr,
    rx_count,
    sql_langid,
    sql_rx_count,
)
from ..registry import register

def _words():
    # built lazily — Column construction needs an active SparkContext
    return rx_count(F.col("text"), WORD_PATTERN)


_SQL_WORDS = sql_rx_count("text", WORD_PATTERN)


@register(
    "text_token_counts",
    f"""
    SELECT doc_id,
           {_SQL_WORDS} AS n_words,
           {sql_rx_count('text', TOKEN_PATTERN)} AS n_tokens,
           {sql_rx_count('text', PUNCT_PATTERN)} AS n_punct
    FROM documents ORDER BY doc_id
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace-ish word count + BPE-ish regex token count
    (letter runs / digit runs / single punctuation) + punctuation count.
    One narrow projection over the scan — embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        _words().cast("long").alias("n_words"),
        rx_count(F.col("text"), TOKEN_PATTERN).cast("long").alias("n_tokens"),
        rx_count(F.col("text"), PUNCT_PATTERN).cast("long").alias("n_punct"),
    ).orderBy("doc_id")


@register(
    "text_quality_scores",
    f"""
    SELECT doc_id,
           {_SQL_WORDS} AS n_words,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST({sql_rx_count('text', PUNCT_PATTERN)} AS DOUBLE)
                     / length(text) END AS punct_ratio,
           CASE WHEN {_SQL_WORDS} = 0 THEN 0.0
                ELSE CAST({sql_rx_count('lower(text)', STOP_PATTERN)} AS DOUBLE)
                     / {_SQL_WORDS} END AS stopword_ratio,
           CASE WHEN {_SQL_WORDS} = 0 THEN 0.0
                ELSE CAST(length(text) AS DOUBLE) / {_SQL_WORDS} END AS chars_per_word,
           (CASE WHEN {_SQL_WORDS} >= 20 THEN 1 ELSE 0 END
            + CASE WHEN {_SQL_WORDS} = 0 THEN 0
                   WHEN CAST({sql_rx_count('lower(text)', STOP_PATTERN)} AS DOUBLE)
                        / {_SQL_WORDS} BETWEEN 0.05 AND 0.6 THEN 1 ELSE 0 END
            + CASE WHEN length(text) = 0 THEN 0
                   WHEN CAST({sql_rx_count('text', PUNCT_PATTERN)} AS DOUBLE)
                        / length(text) <= 0.2 THEN 1 ELSE 0 END) AS quality_score
    FROM documents ORDER BY doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword signals + a 0-3 integer
    quality score (the typical pre-training heuristic filter shape). All
    ratios are guarded divisions of identical integer counts — deterministic
    across engines."""
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_words = _words()
    n_punct = rx_count(text, PUNCT_PATTERN)
    n_stop = rx_count(F.lower(text), STOP_PATTERN)
    length = F.length(text)
    punct_ratio = F.when(length == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / length
    )
    stop_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_stop.cast("double") / n_words
    )
    chars_per_word = F.when(n_words == 0, F.lit(0.0)).otherwise(
        length.cast("double") / n_words
    )
    score = (
        F.when(n_words >= 20, 1).otherwise(0)
        + F.when(
            (n_words != 0) & stop_ratio.between(0.05, 0.6), 1
        ).otherwise(0)
        + F.when((length != 0) & (punct_ratio <= 0.2), 1).otherwise(0)
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        chars_per_word.alias("chars_per_word"),
        score.alias("quality_score"),
    ).orderBy("doc_id")


@register(
    "text_langid",
    f"""
    SELECT {sql_langid('text')} AS detected_lang, COUNT(*) AS n_docs
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: marker-stopword/CJK-range hit counts with deterministic
    argmax (n-gram-heuristic class of detectors). Returns the detected-lang
    distribution."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(langid_expr(F.col("text")).alias("detected_lang"))
        .groupBy("detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("detected_lang")
    )


_NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


@register(
    "text_fingerprints",
    f"""
    SELECT doc_id,
           {oracle_hash_sql(_NORM_SQL)} AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whitespace-normalized, case-folded 60-bit
    content hash — the join key for exact dedup across shards/snapshots."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", stable_hash60(norm).alias("fingerprint")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# TF-IDF and character n-gram profile
# ---------------------------------------------------------------------------

_SQL_TERMS = """
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''
"""


@register(
    "text_tfidf_top_terms",
    f"""
    WITH w AS ({_SQL_TERMS}),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w WHERE term <> '' GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term, tfidf, rn AS rank FROM (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) DESC,
                                         tf.term) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n)
    WHERE rn <= 3 ORDER BY doc_id, rank
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency per doc × ln(N/df), top-3 terms per document.
    Two grouped aggregations + a df join on term; the per-doc top-k is a
    WindowGroupLimit. The document-frequency relation is vocabulary-sized —
    a 100 TB corpus's long-tail vocabulary is itself billions of terms, so
    the tf⋈df join carries no broadcast hint (tf is already partitioned by
    term from its own groupBy, so AQE either broadcasts a small df or reuses
    the existing hash partitioning without an extra fact shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.filter(F.trim(F.col("text")) != "").select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window as W

    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            # rounded to 6dp: ln() differs by 1 ulp across engines, so both
            # the output value and the ranking key must be rounded
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .withColumn("rank", F.col("rank").cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


@register(
    "text_char_trigram_top20",
    """
    WITH g AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(length(text) - 2, 0)),
               i -> substr(text, i, 3))) AS tri
      FROM documents)
    SELECT tri, COUNT(*) AS cnt FROM g
    GROUP BY 1 ORDER BY cnt DESC, tri LIMIT 20
    """,
)
def text_char_trigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram frequency profile (the feature space of classic
    n-gram language detectors), global top-20. Explode is linear in corpus
    bytes; the aggregate shuffles only distinct trigrams."""
    d = load_table(spark, sf_dir, "documents")
    tri = d.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(0))),
                lambda i: F.col("text").substr(i, F.lit(3)),
            )
        ).alias("tri")
    )
    return (
        tri.groupBy("tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tri"))
        .limit(20)
    )


@register(
    "text_url_functions",
    """
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id
                 || '/view?lang=' || lang || '&ref=feed' AS url
      FROM documents)
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, 'lang=([^&#]+)', 1) AS lang_param,
           regexp_extract(url, '^([a-z]+)://', 1) AS protocol
    FROM u ORDER BY doc_id
    """,
)
def text_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function surface (ClickHouse ``domain`` / ``path`` /
    ``extractURLParameter`` / ``protocol`` parity): URLs derived
    deterministically from the fixture (the corpus carries no real URLs),
    then parsed with Spark's ``parse_url`` — JVM-side, no regex UDF. The
    oracle re-derives the same parts with anchored regexes, pinning
    ``parse_url``'s HOST/PATH/QUERY-key semantics cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/view?lang="),
        F.col("lang"),
        F.lit("&ref=feed"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
    ).orderBy("doc_id")


BIGRAM_TOP_N = 20


@register(
    "text_word_bigram_top20",
    f"""
    WITH words AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE trim(text) <> ''),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS bigram
      FROM words),
    counts AS (
      SELECT bigram, COUNT(*) AS cnt FROM pairs
      WHERE bigram NOT LIKE '% ' AND bigram NOT LIKE ' %'
      GROUP BY 1)
    SELECT bigram, cnt, rn AS rank FROM (
      SELECT bigram, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS rn
      FROM counts)
    WHERE rn <= {BIGRAM_TOP_N} ORDER BY rank
    """,
)
def text_word_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent word-pair (bigram) frequencies, top-{BIGRAM_TOP_N} — the
    n-gram language-model / tokenizer-merge-step primitive (one BPE
    training round counts exactly this over symbol pairs).

    Shape: pairs are built INSIDE the row via a positional transform over
    the token array (no self-join on position), then one explode + one
    grouped count — identical topology to the unigram vocab build. The
    global top-N ranks vocabulary-sized data."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the split once per row in its own projection — HOF
    # lambdas defeat Catalyst CSE, so referencing the raw split expression
    # from inside transform() would re-run the regex once per produced
    # bigram (same fix as functions/text.py exploded_word_shingles)
    wdf = d.filter(F.trim(F.col("text")) != "").select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    wc = F.col("w")
    pairs_expr = F.when(
        F.size(wc) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(wc) - 1),
            lambda i: F.concat_ws(" ", F.element_at(wc, i), F.element_at(wc, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = (
        wdf.select(F.explode(pairs_expr).alias("bigram"))
        .filter(~F.col("bigram").startswith(" ") & ~F.col("bigram").endswith(" "))
    )
    counts = pairs.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql.window import Window as W

    rw = W.orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= BIGRAM_TOP_N)
        .select("bigram", "cnt", "rank")
        .orderBy("rank")
    )


BPE_MERGES = 3
BPE_JOINER = "\x00"  # merged-token separator: cannot occur in whitespace tokens


def _bpe_pairs(tok_col):
    """Adjacent-pair array of a token array (positional, inside the row)."""
    return F.when(
        F.size(tok_col) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tok_col) - 1),
            lambda i: F.struct(
                F.element_at(tok_col, i).alias("l"),
                F.element_at(tok_col, i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _bpe_merge(tok_col, left: str, right: str):
    """Greedy left-to-right merge of every non-overlapping (left, right)
    adjacency — the BPE apply step as ONE fold expression (no UDF): the
    accumulator is the merged prefix; overlapping occurrences can't
    double-merge because a merged token (joined with a separator) never
    equals ``left``."""
    merged = left + BPE_JOINER + right
    return F.aggregate(
        tok_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


@register("bpe_merge_steps", None)  # driver-looped argmax → rows-only check
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first {BPE_MERGES} merge rounds of byte-pair-encoding training
    over whitespace tokens — tokenizer training as distributed relational
    passes. Each round: (1) adjacent-pair counts built positionally inside
    the row + one grouped count, (2) the single best pair (max count,
    lexicographic tie-break) crosses the driver — the ONLY driver state,
    like k-means centroids — and (3) the corpus re-tokenizes lazily via a
    greedy fold expression (_bpe_merge), so round N+1 counts pairs of
    merged tokens. Returns (merge_rank, left, right, pair_count).

    Rows-only for the driver (the loop's argmax makes SQL unrolling
    quadratic in vocabulary, not worth an oracle); the exact semantics are
    pinned by tests/test_engine_units.py::test_bpe_merges_match_reference,
    a pure-Python reference BPE on the same corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    corpus = (
        d.filter(F.trim(F.col("text")) != "")
        .select(F.filter(toks, lambda t: t != "").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    corpus.persist()
    cached = [corpus]
    merges: list[tuple[str, str, int]] = []
    for step in range(BPE_MERGES):
        # `toks` is a BOUND column here, not a nested fold expression:
        # each round re-projects the merged tokens under its own Project
        # (CollapseProject keeps a non-cheap expression referenced more
        # than once in its own projection), so the merge fold runs once
        # per row per round. The previous form threaded the accumulated
        # fold EXPRESSION into _bpe_pairs, whose lambda references it
        # three times per produced pair — Catalyst does not CSE inside
        # HOF lambdas, so round N re-evaluated the round-(N−1) fold once
        # per adjacent pair per row: measured 315 s → ~3 s at sf0.1
        # (opt round 14, guide §1/§4 hot-path rule in functions/text.py).
        pairs = corpus.select(F.explode(_bpe_pairs(F.col("toks"))).alias("p"))
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        # the collect above materialized THIS round's corpus cache, so the
        # superseded previous round's cache can go (opt round 15, advice
        # r14: the rounds used to accumulate BPE_MERGES+1 corpus-sized
        # cache entries per call, and the final round's never-read persist
        # on top)
        while len(cached) > 1:
            cached.pop(0).unpersist()
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((l, r, int(cnt)))
        if step < BPE_MERGES - 1:
            # persist each round's merged corpus: round N+1's pair count
            # then folds only ONE merge over cached rows instead of
            # re-folding the whole merge chain from the base tokens. The
            # FINAL round's merged corpus is never read — skip it.
            corpus = corpus.select(_bpe_merge(F.col("toks"), l, r).alias("toks"))
            corpus.persist()
            cached.append(corpus)
    # every action this query runs happened above (the per-round collects);
    # the returned frame is a driver-built local relation with no lineage
    # into the corpus, so nothing stays resident after the call
    while cached:
        cached.pop().unpersist()
    return spark.createDataFrame(
        [
            (i + 1, l.replace(BPE_JOINER, "+"), r.replace(BPE_JOINER, "+"), c)
            for i, (l, r, c) in enumerate(merges)
        ],
        "merge_rank long, left string, right string, pair_count long",
    ).orderBy("merge_rank")


@register(
    "text_zipf_fit",
    """
    WITH words AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents WHERE trim(text) <> ''),
    counts AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS freq
      FROM words WHERE term <> '' GROUP BY term),
    ranked AS (
      SELECT freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS DOUBLE)
               AS rnk
      FROM counts)
    SELECT ROUND(regr_slope(ln(freq), ln(rnk)), 6) AS zipf_slope,
           ROUND(regr_r2(ln(freq), ln(rnk)), 6) AS r2,
           CAST(COUNT(*) AS BIGINT) AS vocab_size
    FROM ranked
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: regress
    log(freq) on log(rank); natural text sits near slope −1, so a corpus
    whose slope drifts far off is a quality signal (boilerplate-heavy or
    synthetic text — this fixture's word salad is exactly such a case,
    which the flat slope exposes). One term count (shuffle = vocabulary),
    one rank window over the vocabulary, one regression aggregate.

    Scale note: the rank window is global over DISTINCT terms — vocabulary-
    sized, not corpus-sized; for a web-scale long tail, fit on the top-K
    frequency-ranked slice (the head determines the slope anyway)."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    words = d.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    counts = words.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("freq")
    )
    from pyspark.sql.window import Window as W

    ranked = counts.select(
        "freq",
        F.row_number()
        .over(W.orderBy(F.desc("freq"), F.asc("term")))
        .cast("double")
        .alias("rnk"),
    )
    return ranked.agg(
        F.round(
            F.regr_slope(F.log(F.col("freq")), F.log(F.col("rnk"))), 6
        ).alias("zipf_slope"),
        F.round(F.regr_r2(F.log(F.col("freq")), F.log(F.col("rnk"))), 6).alias(
            "r2"
        ),
        F.count(F.lit(1)).alias("vocab_size"),
    )


@register(
    "text_type_token_ratio",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents WHERE trim(text) <> ''),
    t AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS n_types
      FROM w WHERE term <> '' GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
           ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr
    FROM t ORDER BY doc_id
    """,
)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document — the lexical-diversity quality signal
    (low TTR = repetitive/boilerplate text; complements the duplicate-
    bigram fraction). One explode + one grouped count/count-distinct on
    (doc_id, term); ratio of exact integers, engine-identical."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    w = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    t = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("term").alias("n_types"),
    )
    return t.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias(
            "ttr"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# multiSearchAny — blocklist filtering (ClickHouse multiSearchAny /
# multiSearchFirstIndex; the C4/FineWeb bad-term and domain-blocklist gate)
# ---------------------------------------------------------------------------

BLOCKLIST_TERMS = ["slow", "merge", "big table"]  # fixture-vocab phrases

_BL_ARRAY = ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS)


@register(
    "text_blocklist_filter",
    f"""
    WITH hits AS (
      SELECT doc_id,
             list_filter([{_BL_ARRAY}],
                         t -> instr(lower(text), t) > 0) AS matched
      FROM documents)
    SELECT doc_id, matched[1] AS first_match,
           CAST(len(matched) AS BIGINT) AS n_matched
    FROM hits WHERE len(matched) > 0
    ORDER BY doc_id
    """,
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate (ClickHouse ``multiSearchAny`` + the first-index
    variant): flag documents containing any of N literal terms, report the
    first term matched (list order) and how many matched. The term array is
    a literal pushed into a JVM higher-order ``filter`` — no UDF, no
    shuffle; per-row cost is N substring scans, which ClickHouse itself
    pays (its Volnitsky multi-search amortizes — here N is small and the
    per-term scan is whole-stage codegen'd). At corpus scale this is a
    pure map over documents whose cost grows linearly with the number of
    terms."""
    d = load_table(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in BLOCKLIST_TERMS])
    matched = F.filter(
        terms, lambda t: F.instr(F.lower(F.col("text")), t) > 0
    )
    return (
        d.select("doc_id", matched.alias("matched"))
        .filter(F.size("matched") > 0)
        .select(
            "doc_id",
            F.element_at("matched", 1).alias("first_match"),
            F.size("matched").cast("long").alias("n_matched"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# ngramDistance — fuzzy string matching (ClickHouse ngramDistance /
# ngramSearch family): character-4-gram profile distance to a probe string.
# ---------------------------------------------------------------------------

NGRAM_PROBE = "small gizmo"
NGRAM_DIST_MAX = 0.75  # keep plausible fuzzy matches only


@register(
    "text_ngram_distance_probe",
    f"""
    WITH g AS (
      SELECT p_partkey, p_name,
             list_distinct(list_transform(
               range(1, greatest(length(p_name) - 3, 1) + 1),
               i -> substr(p_name, CAST(i AS INTEGER), 4))) AS gs,
             list_distinct(list_transform(
               range(1, greatest(length('{NGRAM_PROBE}') - 3, 1) + 1),
               i -> substr('{NGRAM_PROBE}', CAST(i AS INTEGER), 4))) AS gp
      FROM part),
    d AS (
      SELECT p_partkey, p_name,
             ROUND(1.0 - CAST(len(list_intersect(gs, gp)) AS DOUBLE)
                         / len(list_distinct(gs || gp)), 6) AS ngram_dist
      FROM g WHERE len(gs) > 0)
    SELECT p_partkey, p_name, ngram_dist
    FROM d WHERE ngram_dist <= {NGRAM_DIST_MAX}
    ORDER BY ngram_dist, p_partkey
    """,
)
def text_ngram_distance_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy match by character-4-gram profile distance to a constant probe
    (ClickHouse ``ngramDistance(haystack, needle)``; set-Jaccard variant of
    its multiset formula, documented deviation — identical ranking on these
    fixtures). The probe's gram set is a constant folded at plan time; the
    haystack grams are a per-row JVM higher-order transform — a pure map,
    no shuffle, so the fuzzy scan costs one pass at any corpus size.
    ClickHouse's ngramSearch thresholding is the WHERE clause."""
    p = load_table(spark, sf_dir, "part")
    gs = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(p_name) - 3, 1)),"
            " i -> substring(p_name, i, 4))"
        )
    )
    gp = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length('{NGRAM_PROBE}') - 3, 1)),"
            f" i -> substring('{NGRAM_PROBE}', i, 4))"
        )
    )
    d = (
        p.select("p_partkey", "p_name", gs.alias("gs"), gp.alias("gp"))
        .filter(F.size("gs") > 0)
        .select(
            "p_partkey",
            "p_name",
            F.round(
                1.0
                - F.size(F.array_intersect("gs", "gp")).cast("double")
                / F.size(F.array_distinct(F.concat("gs", "gp"))),
                6,
            ).alias("ngram_dist"),
        )
    )
    return d.filter(F.col("ngram_dist") <= NGRAM_DIST_MAX).orderBy(
        "ngram_dist", "p_partkey"
    )


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

_BM25_QUERY = ("hash", "join", "filter")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "text_bm25_topk",
    f"""
    WITH d AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             x -> x <> '')) AS dl
      FROM documents WHERE trim(text) <> ''),
    stats AS (
      SELECT COUNT(*) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM d),
    w AS ({_SQL_TERMS}),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM w
      WHERE term IN ('hash', 'join', 'filter') GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             SUM(ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({_BM25_K1} + 1.0)
                 / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * d.dl / stats.avgdl))) AS score
      FROM tf JOIN df USING (term) JOIN d USING (doc_id) CROSS JOIN stats
      GROUP BY 1)
    SELECT doc_id, ROUND(score, 6) AS bm25, rn AS rank FROM (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) AS rn
      FROM scored)
    WHERE rn <= 10 ORDER BY rank
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed keyword query — the lexical half of
    a retrieval/RAG stack (Robertson-Spärck Jones idf with the standard
    +1 smoothing, k1=1.2, b=0.75).

    Scale: document length is a narrow per-row map (no explode needed); the
    explode is immediately filtered to the query's terms, so the (doc, term)
    shuffle carries only matching postings — corpus-size-independent width
    per term. The df and corpus-stats relations are query-sized / one row →
    broadcast. The final top-k is a single WindowGroupLimit over the scored
    docs. Rounded to 6dp before ranking: ln() differs by 1 ulp across
    engines, so the ranking key itself must be rounded for a deterministic
    cross-engine order."""
    from pyspark.sql.window import Window as W

    scored = bm25_scores(spark, sf_dir, _BM25_QUERY)
    w = W.orderBy(F.desc(F.round(F.col("score"), 6)), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .withColumn("rank", F.col("rank").cast("long"))
        .filter(F.col("rank") <= 10)
        .select("doc_id", F.round("score", 6).alias("bm25"), "rank")
        .orderBy("rank")
    )


def bm25_scores(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...]
) -> DataFrame:
    """``(doc_id, score)`` BM25 relation for a literal term set — the
    scoring core shared by ``text_bm25_topk`` and the hybrid RRF fusion
    (operators/similarity.py). Topology per the text_bm25_topk docstring."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    dl = d.select("doc_id", F.size(toks).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    ).filter(F.col("term").isin(*terms))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (
        F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_norm).alias("score"))
    )
