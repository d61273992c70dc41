"""Text-analysis operators for training-data pipelines (beyond-reference tier).

Language-ID (marker-word heuristic), quality scoring (length/stopword ratios),
token counting, and document fingerprinting (md5 + min-shingle-hash, a
rolling-hash-style signature). All pure column algebra — JVM-side, no UDFs,
fully distributed; each query is one scan + (at most) one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skinnerdb_spark.operators.textprims import ORACLE_SHINGLES_CTE, fan_out, shingles_expr
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register
from skinnerdb_spark.state import memo


def _occurrences(text: F.Column, needle: str) -> F.Column:
    """# of occurrences of a literal substring (portable: length/replace)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / len(needle)


@register(
    "text_stats",
    """
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS char_len,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS avg_token_len,
           CAST((LENGTH(text) - LENGTH(REPLACE(text, 'the', ''))) / 3 AS DOUBLE)
             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS stopword_ratio
    FROM documents
    WHERE LENGTH(text) > 0
    """,
    tags=("text", "pipeline"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals. Whitespace tokenizer expressed as
    length arithmetic (identical semantics in both engines; no regex —
    dialects differ)."""
    d = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    text = F.col("text")
    no_space = F.length(F.replace(text, F.lit(" "), F.lit("")))
    n_tokens = F.length(text) - no_space + 1
    return d.select(
        "doc_id",
        F.length(text).cast("bigint").alias("char_len"),
        n_tokens.cast("bigint").alias("n_tokens"),
        (no_space.cast("double") / n_tokens).alias("avg_token_len"),
        (_occurrences(text, "the").cast("double") / n_tokens).alias("stopword_ratio"),
    )


@register(
    "text_quality",
    """
    SELECT doc_id,
           (CASE WHEN n_tokens BETWEEN 10 AND 500 THEN 0.5 ELSE 0.0 END
          + CASE WHEN avg_len BETWEEN 3.0 AND 9.0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN the_cnt > 0 THEN 0.2 ELSE 0.0 END) AS quality_score
    FROM (
        SELECT doc_id,
               LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
               CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS avg_len,
               LENGTH(text) - LENGTH(REPLACE(text, 'the', '')) AS the_cnt
        FROM documents WHERE LENGTH(text) > 0)
    """,
    tags=("text", "pipeline"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (heuristic band scoring)."""
    d = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    text = F.col("text")
    no_space = F.length(F.replace(text, F.lit(" "), F.lit("")))
    n_tokens = F.length(text) - no_space + 1
    avg_len = no_space.cast("double") / n_tokens
    the_cnt = F.length(text) - F.length(F.replace(text, F.lit("the"), F.lit("")))
    score = (
        F.when(n_tokens.between(10, 500), 0.5).otherwise(0.0)
        + F.when(avg_len.between(3.0, 9.0), 0.3).otherwise(0.0)
        + F.when(the_cnt > 0, 0.2).otherwise(0.0)
    )
    return d.select("doc_id", score.alias("quality_score"))


@register(
    "text_langid",
    """
    SELECT doc_id, lang AS lang_label,
           CASE WHEN POSITION(' der ' IN text) > 0 OR POSITION(' und ' IN text) > 0 THEN 'de'
                WHEN POSITION(' le '  IN text) > 0 OR POSITION(' les ' IN text) > 0 THEN 'fr'
                WHEN POSITION(' el '  IN text) > 0 OR POSITION(' los ' IN text) > 0 THEN 'es'
                WHEN POSITION(' the ' IN text) > 0 OR POSITION(' and ' IN text) > 0 THEN 'en'
                ELSE 'unknown' END AS lang_pred
    FROM documents
    """,
    tags=("text", "pipeline"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (n-gram-style detection; the synthetic
    corpus is English-vocabulary so this mostly predicts en/unknown — the
    operator's *mechanics* are what is verified)."""
    d = read_table(spark, sf_dir, "documents")

    def has(m: str) -> F.Column:
        return F.instr(F.col("text"), m) > 0

    pred = (
        F.when(has(" der ") | has(" und "), "de")
        .when(has(" le ") | has(" les "), "fr")
        .when(has(" el ") | has(" los "), "es")
        .when(has(" the ") | has(" and "), "en")
        .otherwise("unknown")
    )
    return d.select("doc_id", F.col("lang").alias("lang_label"), pred.alias("lang_pred"))


@register(
    "text_regex_tokens",
    """
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS word_tokens,
           CAST(LEN(regexp_extract_all(text, '[a-z]{4,}')) AS BIGINT) AS long_tokens
    FROM documents
    """,
    tags=("text", "pipeline"),
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (simple POSIX classes behave identically
    in Java regex and RE2, so this one regex family is oracle-safe; richer
    patterns would not be)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0)))
        .cast("bigint")
        .alias("word_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]{4,}"), F.lit(0)))
        .cast("bigint")
        .alias("long_tokens"),
    )


@register(
    "text_fingerprint",
    f"""
    WITH {ORACLE_SHINGLES_CTE},
    mins AS (SELECT doc_id, MIN(md5(s)) AS min_shingle_hash
             FROM sh GROUP BY doc_id)
    SELECT d.doc_id,
           SUBSTR(md5(d.text), 1, 16) AS fp,
           m.min_shingle_hash
    FROM documents d JOIN mins m ON d.doc_id = m.doc_id
    """,
    tags=("text", "pipeline"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-doc md5 prefix + min-hash over rolling
    3-word shingles (rolling-window signature, robust to small edits).

    Shuffle-free: the min-shingle-hash folds per row with array_min over the
    in-row shingle array (vs explode + groupBy + join — 3x faster and scales
    embarrassingly parallel; docs with < 3 words drop out like the oracle's
    len(w) >= 3 guard)."""
    d = fan_out(read_table(spark, sf_dir, "documents"))
    return (
        d.withColumn("w", F.split(F.col("text"), " "))
        # cheap guard (equivalent to size(sh) > 0): filtering on the heavy
        # shingle expression itself would push the whole transform below the
        # repartition and serialize it onto one core
        .filter(F.size("w") >= 3)
        .withColumn("sh", shingles_expr("w", k=3))
        .select(
            "doc_id",
            F.substring(F.md5(F.col("text").cast("binary")), 1, 16).alias("fp"),
            F.array_min(
                F.transform(F.col("sh"), lambda s: F.md5(s.cast("binary")))
            ).alias("min_shingle_hash"),
        )
    )


# --------------------------------------------------------------------------
# repetition filtering (Gopher-style): the removal rules that target
# degenerate/boilerplate docs — share of the most frequent word and
# duplicate-n-gram fractions. Our docs are single-line word streams, so the
# line-based rules have no signal here; the n-gram family is the applicable
# subset. Thresholds follow the published shape but sit near this corpus's
# median so the keep flag actually splits the data.
# --------------------------------------------------------------------------
TOP_WORD_MAX = 0.10  # keep if most frequent word covers <= 10% of tokens
DUP_TRIGRAM_MAX = 0.05  # keep if <= 5% of trigrams are repeats


@register(
    "text_repetition",
    f"""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
    m AS (SELECT doc_id,
                 len(w) AS n_words,
                 list_max(list_transform(list_distinct(w),
                          d -> len(list_filter(w, x -> x = d)))) AS topc,
                 list_transform(generate_series(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i + 1]) AS bi,
                 list_transform(generate_series(1, len(w) - 2),
                                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS tri
          FROM ws)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(topc AS DOUBLE) / n_words AS top_word_frac,
           1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi) AS dup_bigram_frac,
           1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri) AS dup_trigram_frac,
           CASE WHEN CAST(topc AS DOUBLE) / n_words <= {TOP_WORD_MAX}
                 AND 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri)
                     <= {DUP_TRIGRAM_MAX}
                THEN 1 ELSE 0 END AS keep
    FROM m
    """,
    tags=("text", "pipeline"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher-rule family): per doc the
    most-frequent-word token share and the duplicate bi/tri-gram fractions,
    plus the keep/remove decision.

    Entirely in-row — every metric is a lambda fold over the row's own word
    array (worst case O(distinct_words x n) per row for the mode count),
    zero explodes, zero shuffles: the scan partitioning IS the parallelism,
    so the filter runs map-side ahead of any downstream dedup shuffle."""
    d = fan_out(read_table(spark, sf_dir, "documents"))
    w = d.filter(F.col("text").isNotNull()).withColumn(
        "w", F.split("text", " ")
    ).filter(F.size("w") >= 3)
    m = w.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.expr(
            "array_max(transform(array_distinct(w), d -> size(filter(w, x -> x = d))))"
        ).alias("topc"),
        shingles_expr("w", k=2).alias("bi"),
        shingles_expr("w", k=3).alias("tri"),
    )
    top_frac = F.col("topc").cast("double") / F.col("n_words")
    dup_bi = F.lit(1.0) - F.size(F.array_distinct("bi")).cast("double") / F.size("bi")
    dup_tri = F.lit(1.0) - F.size(F.array_distinct("tri")).cast("double") / F.size("tri")
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        top_frac.alias("top_word_frac"),
        dup_bi.alias("dup_bigram_frac"),
        dup_tri.alias("dup_trigram_frac"),
        F.when(
            (top_frac <= TOP_WORD_MAX) & (dup_tri <= DUP_TRIGRAM_MAX), 1
        ).otherwise(0).alias("keep"),
    )


@register(
    "docs_length_quantiles",
    """
    SELECT source,
           quantile_cont(n_chars, 0.25) AS q25,
           quantile_cont(n_chars, 0.50) AS q50,
           quantile_cont(n_chars, 0.75) AS q75,
           quantile_cont(n_chars, 0.95) AS q95
    FROM documents
    GROUP BY source
    """,
    tags=("text", "pipeline"),
)
def docs_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles — the distribution table length
    filters and packing budgets are tuned from.

    Exact `percentile` (identical linear interpolation to DuckDB's
    quantile_cont — bit-equal, gate-verified), which buffers each group's
    values in an ObjectHashAggregate. That is the honest cost of EXACT order
    statistics; it is fine while any single group's values fit an executor
    (millions of docs per source)."""
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        *[
            F.expr(f"percentile(n_chars, {q})").alias(f"q{int(q * 100)}")
            for q in (0.25, 0.50, 0.75, 0.95)
        ]
    )


@register(
    "text_tfidf_topk",
    """
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE text IS NOT NULL AND LENGTH(text) > 0),
    toks AS (SELECT doc_id, t.term
             FROM d, UNNEST(string_split(text, ' ')) AS t(term)
             WHERE t.term <> ''),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
        FROM tf, dfreq, n WHERE tf.term = dfreq.term),
    ranked AS (
        SELECT doc_id, term, tf, df, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS BIGINT) AS rnk
        FROM scored)
    SELECT doc_id, term, tf, df, score, rnk FROM ranked WHERE rnk <= 3
    """,
    tags=("text", "pipeline", "tfidf"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — keyword extraction for corpus
    curation dashboards. Scoring is tf * N / df on EXACT integers with one
    IEEE double division (correctly rounded in both engines — hash-stable),
    deliberately NOT log-scaled: libm log() is not bit-reproducible across
    engines, and the per-doc RANKING under tf*N/df is the same monotone
    order as tf*log-idf for df < N.

    Scale shape: explode is map-side; (doc_id, term) tf and term df are two
    hash aggregations; the df side (one row per distinct TERM — vocabulary-
    bounded, orders of magnitude smaller than the corpus) broadcasts into
    the tf join, so the corpus-sized tf side never reshuffles by term — the
    remaining exchanges all carry vocabulary- or doc-sized aggregates
    (plan-audited; warm run 1.0 s at sf0.1). At a 100M-term web vocabulary,
    drop the broadcast hint and let AQE pick the exchange. No UDFs, no
    collects."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )

    def _tf() -> DataFrame:
        toks = d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        ).filter(F.col("term") != "")
        return toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))

    # r12 (guide §2.1): tf feeds BOTH the df aggregate and the scoring
    # join with different prunings, so the corpus explode + tf aggregate
    # re-executed per consumer (2 of the before-plan's 6 scans). The memo
    # bounds it to one explode per session (tracked LRU persist — .cache()
    # is MEMORY_AND_DISK, so an oversized tf spills instead of evicting
    # execution memory). sf10 same-session A/B: 29.4/13.6 -> 14.0/10.3 s.
    tf = memo(spark, sf_dir, "tfidf_tf", _tf)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql.window import Window

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


@register(
    "docs_vocab_stats",
    """
    WITH toks AS (
        SELECT source, t.term
        FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
        WHERE text IS NOT NULL AND LENGTH(text) > 0 AND t.term <> ''),
    counts AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
               FROM toks GROUP BY source, term)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS type_token_ratio
    FROM counts
    GROUP BY source
    """,
    tags=("text", "pipeline", "vocab"),
)
def docs_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics: token count, vocabulary size, hapax
    legomena (corpus frequency 1), and type-token ratio — the Zipf-shape
    signals a curation pipeline watches for synthetic/templated text (low
    TTR, few hapaxes) vs natural text.

    Two hash aggregations — (source, term) then source — with map-side
    partial aggregation on both; the explode never leaves the mapper. The
    ratio is one exact-int double division (hash-stable)."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("hapax"),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias(
            "type_token_ratio"
        ),
    )


def deletion_keys(names: DataFrame) -> DataFrame:
    """(name, k) for each name's own xxhash64 and the hash of each of its
    single-character deletions, deduplicated — the SymSpell key set of
    name_edit_distance_pairs."""
    idx = names.select(
        "name",
        F.explode(F.sequence(F.lit(0), F.length("name"))).alias("i"),
    )
    # i = 0 keeps the name itself; i >= 1 deletes the i-th character
    k = F.xxhash64(
        F.when(F.col("i") == 0, F.col("name")).otherwise(
            F.concat(
                F.expr("substring(name, 1, i - 1)"),
                F.expr("substring(name, i + 1, length(name) - i)"),
            )
        )
    )
    return idx.select("name", k.alias("k")).distinct()


@register(
    "name_edit_distance_pairs",
    """
    WITH names AS (SELECT DISTINCT c_name AS name FROM customer)
    SELECT a.name AS name_a, b.name AS name_b
    FROM names a JOIN names b
      ON a.name < b.name AND levenshtein(a.name, b.name) = 1
    """,
    tags=("text", "pipeline", "similarity"),
)
def name_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity join: all pairs of customer names at edit distance
    exactly 1 — the spell-variant/entity-resolution primitive.

    Scale path is SymSpell-style deletion neighborhoods, NOT the oracle's
    O(n^2) cross join: every name emits itself plus its |name| single-char
    deletions as bucket keys; any distance-1 pair (substitution, insertion,
    or deletion) provably shares >= 1 key, so candidates meet only inside a
    key bucket (one shuffle) and the exact Levenshtein verify (JVM built-in)
    runs on candidates alone. Same cap-able bucket-join skeleton as the LSH
    dedup family; both engines compute the identical integer edit distance,
    so the gate stays a hash check."""
    names = (
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_name").alias("name"))
        .distinct()
    )
    # bucket keys travel as int64 hashes: the deletion strings are ~|name|
    # chars each and the keyed table is |names| * (|name|+1) rows, so the
    # self-join shuffle is dominated by key bytes; a hash collision only
    # adds a candidate the exact Levenshtein verify rejects (output
    # unchanged).
    # r12 build shape (guide §4.1 + §2.1): the deletion index explodes
    # FIRST and the deletion string + xxhash64 evaluate as a TOP-LEVEL
    # projection — the old transform(...)-lambda chain ran interpreted
    # (the documented transform-lambda codegen dropout), and because the
    # self-join broadcasts one side, the whole keyed build executed TWICE
    # (once per side, no exchange to reuse). The distinct reproduces the
    # old array_union's in-row dedup of coinciding deletions, and the
    # frame is memoized so both join sides read one cached build. sf1:
    # cold 67.9 -> 13.3 s, warm 9.7 -> 4.0 s, output identical.
    keyed = memo(spark, sf_dir, "ned_keyed", lambda: deletion_keys(names))
    a = keyed.select(F.col("name").alias("name_a"), "k")
    b = keyed.select(F.col("name").alias("name_b"), "k")
    # verify BEFORE dedup: the in-row Levenshtein is cheaper than shuffling
    # the raw candidate multiset through a distinct — the final distinct
    # carries only true distance-1 pairs (4.5 s warm at sf0.1; the result
    # itself is 262k pairs, the largest output in the bench)
    return (
        a.join(b, ["k"])
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") == 1)
        .select("name_a", "name_b")
        .distinct()
    )


# Model weights for the linear quality classifier, published as exact
# rationals over a COMMON denominator so inference is cross-engine exact:
# score = (3*stop_frac + 4*uniq_frac + 2*long_frac) - 1, every *_frac sharing
# denominator n_tokens -> score = num/n_tokens for the exact integer
#   num = 3*n_stop + 4*n_uniq + 2*n_long - n_tokens,
# ONE IEEE division; the class test score >= 1.5 (the corpus-median margin,
# so both classes actually fire) clears to 2*num >= 3*n_tokens (pure integer
# comparison — no float in the decision path at all).
_QLR_STOPWORDS = ("the", "a", "and", "of", "to")


@register(
    "text_quality_lr",
    f"""
    WITH feats AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, t -> list_contains(
                   [{", ".join(repr(w) for w in _QLR_STOPWORDS)}], t))) AS n_stop,
               len(list_distinct(toks)) AS n_uniq,
               len(list_filter(toks, t -> length(t) >= 6)) AS n_long
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents
              WHERE text IS NOT NULL AND LENGTH(text) > 0))
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(3 * n_stop + 4 * n_uniq + 2 * n_long - n_tokens AS DOUBLE)
             / CAST(n_tokens AS DOUBLE) AS score,
           CASE WHEN 2 * (3 * n_stop + 4 * n_uniq + 2 * n_long - n_tokens)
                     >= 3 * n_tokens
                THEN 'keep' ELSE 'drop' END AS label
    FROM feats WHERE n_tokens > 0
    """,
    tags=("text", "pipeline", "classifier"),
)
def text_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE in-engine (the fastText-style
    keep/drop filter every corpus pipeline runs, with the trained weights
    baked in as literals): engineered features (stopword fraction, lexical
    diversity, long-token fraction) dotted with a fixed weight vector, one
    margin score + hard label per document. Weights are exact rationals
    over the shared denominator n_tokens, so the margin is a single IEEE
    division and the decision threshold is a pure integer comparison —
    bit-identical across engines (see weight comment above).

    Scale shape: everything is ONE in-row projection over the token array
    (size/filter/array_distinct lambdas, whole-stage codegen) — zero
    shuffles, zero UDFs; inference throughput is scan throughput. Swapping
    real trained weights in changes the literals, not the plan."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    stops = ", ".join(repr(w) for w in _QLR_STOPWORDS)
    toks = "filter(split(text, ' '), x -> x != '')"
    feats = d.select(
        "doc_id",
        F.expr(f"size({toks})").cast("bigint").alias("n_tokens"),
        F.expr(
            f"size(filter({toks}, t -> array_contains(array({stops}), t)))"
        ).alias("n_stop"),
        F.expr(f"size(array_distinct({toks}))").alias("n_uniq"),
        F.expr(f"size(filter({toks}, t -> length(t) >= 6))").alias("n_long"),
    ).filter(F.col("n_tokens") > 0)
    num = 3 * F.col("n_stop") + 4 * F.col("n_uniq") + 2 * F.col("n_long") - F.col("n_tokens")
    return feats.select(
        "doc_id",
        "n_tokens",
        (num.cast("double") / F.col("n_tokens").cast("double")).alias("score"),
        F.when(2 * num >= 3 * F.col("n_tokens"), "keep").otherwise("drop").alias("label"),
    )


# Vocabulary size for token-id encoding: top-K terms by corpus frequency
# (ties broken lexicographically); everything else maps to the OOV id 0.
TOKEN_VOCAB_K = 50

_TOKEN_IDS_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    toks AS (
        SELECT doc_id, CAST(g.i AS BIGINT) AS pos, t[g.i] AS term
        FROM base, UNNEST(generate_series(1, len(t), 1)) AS g(i)),
    counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM toks GROUP BY term),
    vocab AS (
        SELECT term, token_id FROM (
            SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term)
                              AS BIGINT) AS token_id
            FROM counts)
        WHERE token_id <= {TOKEN_VOCAB_K})
    SELECT toks.doc_id, toks.pos, toks.term,
           COALESCE(v.token_id, 0) AS token_id
    FROM toks LEFT JOIN vocab v ON toks.term = v.term
"""


@register("text_token_ids", _TOKEN_IDS_ORACLE, tags=("text", "pipeline", "tokenize"))
def text_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids: build a frequency-ranked vocabulary (top
    {TOKEN_VOCAB_K} terms, rank 1 = most frequent, ties lexicographic) and
    encode every document as (doc_id, pos, term, token_id) with OOV -> 0 —
    the id-mapping step in front of any sequence-model training pipeline
    (pack_sequences consumes exactly this shape).

    Scale shape: the vocabulary is a hash aggregate folded to |vocab| rows,
    ranked WITHOUT an unpartitioned window via ranked_topk
    (TakeOrderedAndProject + k x k broadcast theta-join — the r6 de-window
    idiom), then BROADCAST back onto the exploded token stream: the
    corpus-sized side never shuffles at all. The encode is one map-side
    projection + broadcast hash join — at 100 TB this is the cheapest
    possible shape for a bounded vocabulary; for open vocabularies swap the
    broadcast for a doc_id-bucketed shuffle join (AQE decides past the
    threshold)."""
    from skinnerdb_spark.queries.util import ranked_topk

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = d.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
            "pos0", "term"
        ),
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "term")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    vocab = ranked_topk(
        counts, [("cnt", "desc"), ("term", "asc")], TOKEN_VOCAB_K, rnk_col="token_id"
    ).select("term", "token_id")
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .select(
            "doc_id",
            "pos",
            "term",
            F.coalesce(F.col("token_id"), F.lit(0)).cast("bigint").alias("token_id"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge learning — the tokenizer-training primitive, as pure relational
# algebra with a fully unrolled DuckDB oracle.
# ---------------------------------------------------------------------------

BPE_MERGES = 4

#: pairs of adjacent symbols from the space-joined symbol string `sym`,
#: weighted later by the word count. ANSI-safe: the lambda guards i+1 in
#: bounds (CASE short-circuits), then NULL placeholders are filtered out —
#: no empty-array literal, no out-of-range element_at.
_PAIRS_EXPR = (
    "filter(transform(sequence(1, size(toks)), i -> "
    "CASE WHEN i < size(toks) THEN named_struct("
    "'lhs', element_at(toks, i), 'rhs', element_at(toks, i + 1)) "
    "ELSE NULL END), p -> p IS NOT NULL)"
)

#: greedy left-to-right, non-overlapping application of ONE merge (m_lhs,
#: m_rhs) to the symbol string: fold the tokens, gluing s onto the
#: accumulator when the accumulator ends with the space-delimited lhs and s
#: is the rhs. The space in the `right()` probe enforces the token boundary;
#: a just-merged token can never match again (its tail is lhs||rhs, not
#: ' '||lhs), which is exactly BPE's non-overlap rule on runs.
_APPLY_EXPR = (
    "aggregate(toks, CAST('' AS STRING), (acc, s) -> "
    "CASE WHEN right(acc, length(m_lhs) + 1) = concat(' ', m_lhs) AND s = m_rhs "
    "THEN concat(acc, s) ELSE concat(acc, ' ', s) END)"
)


def _bpe_oracle_body() -> str:
    """Shared CTE body: word table -> unrolled merge rounds w0..w{BPE_MERGES}
    with per-round winners m1..m{BPE_MERGES} (see _bpe_oracle docnotes)."""
    body = """
    WITH w AS (SELECT t.term AS word, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM documents, UNNEST(string_split(text, ' ')) t(term)
               WHERE text IS NOT NULL AND LENGTH(text) > 0 AND t.term <> ''
               GROUP BY t.term),
    w0 AS (SELECT word, cnt,
                  array_to_string(list_transform(
                      generate_series(1, CAST(length(word) AS BIGINT)),
                      i -> substr(word, CAST(i AS INT), 1)), ' ') AS sym
           FROM w)"""
    prev = "w0"
    for k in range(1, BPE_MERGES + 1):
        body += f""",
    t{k} AS (SELECT cnt, string_split(trim(sym), ' ') AS toks FROM {prev}),
    p{k} AS (SELECT toks[CAST(g.i AS INT)] AS lhs,
                    toks[CAST(g.i AS INT) + 1] AS rhs,
                    CAST(SUM(cnt) AS BIGINT) AS pair_cnt
             FROM t{k}, UNNEST(generate_series(1, len(toks) - 1)) g(i)
             GROUP BY 1, 2),
    m{k} AS (SELECT lhs, rhs, pair_cnt FROM p{k}
             ORDER BY pair_cnt DESC, lhs, rhs LIMIT 1),
    w{k} AS (SELECT word, cnt,
                    list_reduce(
                        list_prepend('', string_split(trim(sym), ' ')),
                        (acc, s) -> CASE
                            WHEN right(acc, length(m.lhs) + 1) = ' ' || m.lhs
                                 AND s = m.rhs
                            THEN acc || s ELSE acc || ' ' || s END) AS sym
             FROM {prev} CROSS JOIN m{k} m)"""
        prev = f"w{k}"
    return body


def _bpe_oracle() -> str:
    return _bpe_oracle_body() + "\n    " + "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, lhs, rhs, pair_cnt FROM m{k}"
        for k in range(1, BPE_MERGES + 1)
    )


@register(
    "text_bpe_merges",
    _bpe_oracle(),
    tags=("text", "pipeline", "tokenizer", "iterative"),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge learning: the first {BPE_MERGES} merge rules
    (rank, lhs, rhs, pair count at selection time) learned from the corpus —
    the tokenizer-training half of an LLM data pipeline, run entirely as
    relational algebra (the encode half is text_token_ids).

    Classic BPE iterates over a WORD-FREQUENCY table, not the corpus: one
    (word, cnt) aggregate up front (vocabulary-sized, tiny next to the
    corpus), then each merge round is (a) one map-side pair explode + count
    aggregate over the vocabulary, (b) a 1-row argmax, (c) an in-row fold
    applying the merge greedily left-to-right. The corpus is scanned ONCE at
    any scale; rounds touch only the vocabulary table. The 1-row winner
    stays executor-resident as a broadcast — never collected.

    Both per-round frames are cut out of the lineage with eager
    ``localCheckpoint`` (VERDICT r6 item 2): the round's ``words`` frame
    feeds BOTH the pair-count aggregate and (joined with the winner) the
    next round's ``words``, and the 1-row ``top`` feeds both the output row
    and the merge application — a fully lazy unroll therefore branches the
    vocabulary lineage 2^rounds ways and leans on optimizer exchange reuse.
    Checkpointing the vocabulary-sized frame (bounded by |vocab|, tiny next
    to the corpus) and the 1-row winner makes the plan linear in rounds BY
    CONSTRUCTION — exactly two vocabulary passes per round; rounds execute
    at plan-build time, which bench.py's build-inclusive timing attributes
    to this query.

    Cross-engine exactness is structural: counts are integers, the argmax
    tie-break is (cnt DESC, lhs, rhs), and the greedy fold is the same
    accumulator recurrence in Spark's `aggregate` and DuckDB's `list_reduce`
    (run-overlap semantics proven equal on ' a a a a' -> ' aa aa').

    Reference analogue: none — tokenizer training extends the reference's
    surface for the curation tier (SURVEY §6)."""
    merge_rows, _ = _bpe_rounds(spark, sf_dir, need_final_words=False)
    out = merge_rows[0]
    for mr in merge_rows[1:]:
        out = out.unionAll(mr)
    return out


def _bpe_rounds(
    spark: SparkSession, sf_dir: str, need_final_words: bool
) -> tuple[list[DataFrame], DataFrame | None]:
    """Shared BPE learner loop (see :func:`text_bpe_merges` for the scale
    and checkpoint rationale). Returns the per-round 1-row merge frames
    and, when ``need_final_words`` (the encode path), the post-round-
    {BPE_MERGES} word table (word, cnt, sym) checkpointed for reuse —
    the merges entry skips that final fold entirely."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn(
            "sym",
            F.expr(
                "array_join(transform(sequence(1, length(word)), "
                "i -> substring(word, CAST(i AS INT), 1)), ' ')"
            ),
        )
        .localCheckpoint(eager=True)
    )
    merge_rows = []
    for k in range(1, BPE_MERGES + 1):
        toks = words.withColumn("toks", F.expr("split(trim(sym), ' ')"))
        pair_counts = (
            toks.select("cnt", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").cast("bigint").alias("pair_cnt"))
        )
        top = (
            pair_counts.orderBy(F.desc("pair_cnt"), "lhs", "rhs")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        merge_rows.append(
            top.select(
                F.lit(k).cast("bigint").alias("merge_rank"), "lhs", "rhs", "pair_cnt"
            )
        )
        m = top.select(F.col("lhs").alias("m_lhs"), F.col("rhs").alias("m_rhs"))
        words = (
            toks.join(F.broadcast(m))
            .withColumn("sym", F.expr(_APPLY_EXPR))
            .select("word", "cnt", "sym")
        )
        if k < BPE_MERGES or need_final_words:
            # the merges entry never consumes the last round's fold; the
            # encode entry consumes it TWICE (piece ids + stream join)
            words = words.localCheckpoint(eager=True)
    return merge_rows, (words if need_final_words else None)


#: token budget per packed training sequence for the encode entry's seq_id
#: (mirrors pipeline.PACK_TOKENS but counts BPE pieces, not words)
BPE_PACK = 2048
#: rank cap for the BPE piece vocabulary — provably generous: after
#: {BPE_MERGES} merges the piece alphabet is at most |distinct characters
#: in the corpus| + {BPE_MERGES} symbols, so the cap can never truncate on
#: text data (it exists only because ranked_topk requires a finite k)
BPE_VOCAB_K = 4096


def _bpe_encode_oracle() -> str:
    final = f"w{BPE_MERGES}"
    return _bpe_oracle_body() + f""",
    wp AS (SELECT word, cnt, string_split(trim(sym), ' ') AS pieces
           FROM {final}),
    pc AS (SELECT t.piece AS piece, CAST(SUM(cnt) AS BIGINT) AS cnt
           FROM wp, UNNEST(wp.pieces) t(piece) GROUP BY t.piece),
    vocab AS (SELECT piece,
                     CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece)
                          AS BIGINT) AS token_id
              FROM pc),
    we AS (SELECT wp.word,
                  CAST(len(wp.pieces) AS BIGINT) AS n_pieces,
                  CAST(SUM(v.token_id) AS BIGINT) AS s1,
                  CAST(SUM(CAST(g.i AS BIGINT) * v.token_id) AS BIGINT) AS s2
           FROM wp, UNNEST(generate_series(1, len(wp.pieces))) g(i)
           JOIN vocab v ON v.piece = wp.pieces[CAST(g.i AS INT)]
           GROUP BY wp.word, len(wp.pieces)),
    base AS (SELECT doc_id, source,
                    list_filter(string_split(text, ' '), x -> x <> '') AS t
             FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    toks AS (SELECT doc_id, source, CAST(g.i AS BIGINT) AS pos, t[g.i] AS term
             FROM base, UNNEST(generate_series(1, len(t), 1)) AS g(i)),
    enc AS (SELECT t.doc_id, t.source,
                   CAST(SUM(we.n_pieces) AS BIGINT) AS n_pieces,
                   CAST(SUM(t.pos * 1000 * we.s1 + we.s2) AS BIGINT)
                       AS ids_checksum
            FROM toks t JOIN we ON t.term = we.word
            GROUP BY t.doc_id, t.source)
    SELECT doc_id, source, n_pieces, ids_checksum,
           CAST((SUM(n_pieces) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_pieces) // {BPE_PACK} AS BIGINT) AS seq_id
    FROM enc
"""


def shared_word_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_pieces, s1, s2): the learned-BPE per-word piece summary —
    merge learning + piece-vocabulary ranking + per-word id sums, memoized
    per (session, warehouse) like the LSH family chains so the tokenizer
    consumers (text_bpe_encode, text_fertility) learn the merges ONCE per
    session instead of once per entry. Shapes unchanged from the original
    in-entry build: merges fold over the (word, cnt) table, the piece
    alphabet ranks via ranked_topk (no unpartitioned window), the summary
    broadcasts onto consumers' corpus scans."""
    from skinnerdb_spark.queries.util import ranked_topk

    def build() -> DataFrame:
        _, words = _bpe_rounds(spark, sf_dir, need_final_words=True)
        wp = words.select(
            "word", "cnt", F.expr("split(trim(sym), ' ')").alias("pieces")
        )
        pc = (
            wp.select(F.explode("pieces").alias("piece"), "cnt")
            .groupBy("piece")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        vocab = ranked_topk(
            pc, [("cnt", "desc"), ("piece", "asc")], BPE_VOCAB_K, rnk_col="token_id"
        ).select("piece", F.col("token_id").cast("bigint").alias("token_id"))
        pe = wp.select(
            "word", F.posexplode("pieces").alias("i0", "piece")
        ).select("word", (F.col("i0") + 1).cast("bigint").alias("i"), "piece")
        return (
            pe.join(F.broadcast(vocab), "piece")
            .groupBy("word")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pieces"),
                F.sum("token_id").cast("bigint").alias("s1"),
                F.sum(F.col("i") * F.col("token_id")).cast("bigint").alias("s2"),
            )
        )

    return memo(spark, sf_dir, "bpe_we", build)


@register(
    "text_bpe_encode",
    _bpe_encode_oracle(),
    tags=("text", "pipeline", "tokenizer", "iterative"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BPE ENCODING (VERDICT r7 item 4 — closes the tokenizer
    chain): learn the {BPE_MERGES} merge rules (:func:`_bpe_rounds`, the
    exact frames text_bpe_merges emits), apply them to every word, assign
    frequency-ranked piece ids, and encode the FULL corpus to token ids —
    the actual corpus -> token-id step an LLM pipeline runs between
    tokenizer training and sequence packing. Output is one row per document
    with its encoded length, an order-sensitive exact checksum of the id
    sequence, and the pack_sequences-style training-sequence id the doc
    starts in — the packer's exact input contract (source, doc order,
    per-doc token count), now counted in BPE pieces.

    Scale shape — encode the VOCABULARY, not the corpus: merges fold over
    the (word, cnt) table (corpus scanned once, learner invariant), piece
    ids rank a provably-tiny piece alphabet (<= |charset| + {BPE_MERGES};
    ranked_topk, no unpartitioned window), and per-word (n_pieces, s1, s2)
    summaries broadcast onto the token stream so the corpus side needs ONE
    map-side hash join + one per-doc aggregate — no per-token explosion of
    the corpus ever materializes. The checksum is position-exact without a
    corpus-wide window: contribution of word at position p with piece ids
    v_1..v_m is p*1000*Σv_i + Σ i*v_i (piece index i < 1000 by word
    length), so SUM() over words reproduces Σ_tokens id * (1000*word_pos +
    piece_pos) — pure integer arithmetic, identical in DuckDB.

    Reference analogue: none (tokenizer tier is beyond-reference surface,
    SURVEY §6)."""
    from pyspark.sql.window import Window

    we = shared_word_pieces(spark, sf_dir)
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
            "pos0", "term"
        ),
    ).select(
        "doc_id", "source", (F.col("pos0") + 1).cast("bigint").alias("pos"), "term"
    )
    enc = (
        toks.join(F.broadcast(we), toks["term"] == we["word"])
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.sum(F.col("pos") * 1000 * F.col("s1") + F.col("s2"))
            .cast("bigint")
            .alias("ids_checksum"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # seq_id = (cumulative pieces before this doc) DIV pack size — exact
    # bigint integer division (ADVICE r8: the earlier float `/` + cast
    # loses precision once cumulative counts pass 2^53, contradicting the
    # oracle's `//` and the entry's 100 TB exactness contract)
    cum = (F.sum("n_pieces").over(w) - F.col("n_pieces")).alias("cum0")
    return enc.select(
        "doc_id", "source", "n_pieces", "ids_checksum", cum
    ).select(
        "doc_id",
        "source",
        "n_pieces",
        "ids_checksum",
        F.expr(f"cum0 DIV {BPE_PACK}").alias("seq_id"),
    )


_BIGRAM_ORACLE = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    big AS (
        SELECT doc_id, ts[CAST(g.i AS INT)] AS a, ts[CAST(g.i AS INT) + 1] AS b
        FROM toks, UNNEST(generate_series(1, len(ts) - 1)) g(i)),
    cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM big GROUP BY a, b),
    ca AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM cab GROUP BY a),
    inst AS (SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS k
             FROM big GROUP BY doc_id, a, b),
    j AS (SELECT i.doc_id, i.k,
                 CAST(CAST(c.cab AS DOUBLE) / c2.ca AS DECIMAL(27,12)) AS dp
          FROM inst i JOIN cab c USING (a, b) JOIN ca c2 USING (a))
    SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(k AS DECIMAL(10,0)) * dp) AS DOUBLE) / SUM(k) AS lm_score
    FROM j GROUP BY doc_id
"""


@register(
    "docs_bigram_lm_score",
    _BIGRAM_ORACLE,
    tags=("text", "pipeline", "quality", "lm"),
)
def docs_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document: the mean MLE
    transition probability P(w_i | w_{i-1}) of the doc's own bigrams under
    the corpus bigram model — the classic cheap perplexity proxy a curation
    pipeline uses to rank fluent text above templated/shuffled text (low
    mean transition probability = surprising word sequences).

    Stays in exactly comparable arithmetic: each transition probability is
    ONE exact-integer double division (correctly rounded, identical in both
    engines), rounded once into DECIMAL(28,12); per-doc sums of those
    decimals are exact and associative (the graph_pagerank recipe), and the
    final mean is a single decimal->double cast divided by an integer.

    Scale shape: the corpus explodes to bigram instances ONCE and is
    immediately pre-aggregated to (doc_id, a, b) with map-side combine;
    the (a, b) model and its prefix totals derive from that frame (cab =
    SUM(k)) so no second corpus pass exists in the DAG. The model join is
    vocabulary^2-bounded (AQE broadcasts it when small; co-partitions on the
    bigram key otherwise); the corpus-sized side shuffles once on the join
    key and once on doc_id. No UDFs, no floating-point order dependence.

    The per-doc score frame is session-memoized (shared_bigram_lm_scores):
    docs_ccnet_buckets composes this entry as its LM, and without the memo
    the whole bigram pipeline re-executed inside the tercile entry
    (sf10: ccnet 25 s, ~17 s of which was this recompute)."""
    return shared_bigram_lm_scores(spark, sf_dir)


def shared_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, n_bigrams, lm_score) — see
    :func:`docs_bigram_lm_score` for the algorithm contract."""
    return memo(spark, sf_dir, "bigram_lm", lambda: _bigram_lm_scores(spark, sf_dir))


def shared_bigram_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, a, b, k) bigram-instance pre-aggregate — the
    ONE corpus explode the whole bigram family (docs_bigram_lm_score,
    docs_kn_bigram_score, docs_ccnet_buckets via the LM memo) derives from.

    Why a memo and not an inline frame (r11 session 5): `inst` feeds the
    per-doc scoring join AND the model tables (cab -> ca/cb/ntot), whose
    column prunings differ, so ReusedExchange does not fire and one lazy
    plan re-executed the corpus explode per consumer — 5 parquet scans in
    docs_kn_bigram_score's before-plan (plans/r11/), the docs_dsir_weights
    dbt story exactly. The cache bounds that to one explode per session;
    the frame is the per-doc DISTINCT-bigram count (narrower than the
    exploded instance stream) and both LM entries read it."""
    def build() -> DataFrame:
        d = read_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        )
        big = (
            d.select("doc_id", F.col("text"))
            .withColumn("toks", F.expr("filter(split(text, ' '), x -> x != '')"))
            .select("doc_id", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .select("doc_id", F.col("p.lhs").alias("a"), F.col("p.rhs").alias("b"))
        )
        return big.groupBy("doc_id", "a", "b").agg(
            F.count(F.lit(1)).cast("bigint").alias("k")
        )

    return memo(spark, sf_dir, "bigram_inst", build)


def shared_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (a, b, cab) corpus bigram counts, c(ab) = SUM(k) over
    :func:`shared_bigram_instances` (exact). The vocab^2-bounded model
    feeds several consumers with different prunings (ca, cb, ntot and the
    scoring join of both bigram LMs; stot and the scored join of
    docs_pmi_topk), so ReusedExchange does not fire and, uncached, each
    consumer re-aggregated the instances (the docs_dsir_weights
    precedent)."""
    return memo(
        spark, sf_dir, "bigram_cab",
        lambda: shared_bigram_instances(spark, sf_dir)
        .groupBy("a", "b")
        .agg(F.sum("k").cast("bigint").alias("cab")),
    )


def _bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE corpus explode: the (doc_id, a, b) pre-aggregate is the shared
    # family memo and the corpus-wide model derives from it.
    inst = shared_bigram_instances(spark, sf_dir)
    cab = shared_bigram_counts(spark, sf_dir)
    ca = cab.groupBy("a").agg(F.sum("cab").cast("bigint").alias("ca"))
    j = (
        inst.join(cab, ["a", "b"])
        .join(ca, "a")
        .select(
            "doc_id",
            "k",
            F.expr(
                "CAST(CAST(cab AS DOUBLE) / ca AS DECIMAL(27,12))"
            ).alias("dp"),
        )
    )
    return j.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        (
            F.sum(F.expr("CAST(k AS DECIMAL(10,0)) * dp")).cast("double")
            / F.sum("k")
        ).alias("lm_score"),
    )


PMI_MIN_COUNT = 5
PMI_TOP = 30

_PMI_ORACLE = f"""
    WITH toks AS (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    uni AS (SELECT t.w AS term, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks, UNNEST(ts) t(w) GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
    big AS (SELECT ts[CAST(g.i AS INT)] AS a, ts[CAST(g.i AS INT) + 1] AS b
            FROM toks, UNNEST(generate_series(1, len(ts) - 1)) g(i)),
    cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
            FROM big GROUP BY a, b),
    stot AS (SELECT CAST(SUM(cab) AS BIGINT) AS s FROM cab),
    scored AS (
        SELECT c.a, c.b, c.cab,
               (CAST(c.cab AS DOUBLE) * (SELECT t FROM tot) * (SELECT t FROM tot))
               / (CAST((SELECT s FROM stot) AS DOUBLE) * ua.c * ub.c)
                   AS pmi_ratio
        FROM cab c JOIN uni ua ON ua.term = c.a JOIN uni ub ON ub.term = c.b
        WHERE c.cab >= {PMI_MIN_COUNT})
    SELECT a, b, cab, pmi_ratio, rnk FROM (
        SELECT a, b, cab, pmi_ratio,
               CAST(ROW_NUMBER() OVER (ORDER BY pmi_ratio DESC, a, b)
                    AS BIGINT) AS rnk
        FROM scored)
    WHERE rnk <= {PMI_TOP}
"""


@register(
    "docs_pmi_topk",
    _PMI_ORACLE,
    tags=("text", "pipeline", "collocation"),
)
def docs_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-{PMI_TOP} adjacent-bigram collocations by
    pointwise mutual information, min support {PMI_MIN_COUNT} — the phrase/
    multi-word-expression detector a tokenizer pipeline runs before merging
    frequent phrases into single tokens.

    PMI is monotone in the RATIO p(ab)/(p(a)p(b)) = cab*T^2/(S*ca*cb), so no
    logarithm is needed (libm is not bit-reproducible across engines): the
    ratio is one double expression over exact integers with an identical
    operation tree on both sides. Scale shape (r12, guide §2.1
    re-computation): the bigram counts derive from the session-memoized
    family model (``shared_bigram_counts``; cab = SUM(k) is the
    corpus count exactly — integer arithmetic) and the unigram counts are
    their own memoized vocab-sized frame — the old inline plan re-executed
    the corpus tokenize+explode per consumer (uni feeds tot/ca/cb and big
    feeds stot/scored with different prunings, so ReusedExchange never
    fired: 10 parquet scans / 6 Generates in the before-plan; sf10 warm
    8.7 -> see OPTIMIZATION_r12.md). The vocabulary-sized joins broadcast
    under AQE, scalar totals ride broadcast 1-row frames, and the top-k is
    `ranked_topk` (TakeOrderedAndProject + k x k rank join — no
    unpartitioned window)."""
    from skinnerdb_spark.queries.util import ranked_topk

    def _uni() -> DataFrame:
        d = read_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        )
        ts = d.withColumn("toks", F.expr("filter(split(text, ' '), x -> x != '')"))
        return (
            ts.select(F.explode("toks").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    uni = memo(spark, sf_dir, "pmi_uni", _uni)
    tot = uni.agg(F.sum("c").cast("bigint").alias("t"))
    big = shared_bigram_counts(spark, sf_dir)
    stot = big.agg(F.sum("cab").cast("bigint").alias("s"))
    ua = uni.select(F.col("term").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("term").alias("b"), F.col("c").alias("cb"))
    scored = (
        big.filter(F.col("cab") >= PMI_MIN_COUNT)
        .join(ua, "a")
        .join(ub, "b")
        .join(F.broadcast(tot))
        .join(F.broadcast(stot))
        .select(
            "a",
            "b",
            "cab",
            (
                (F.col("cab").cast("double") * F.col("t") * F.col("t"))
                / (F.col("s").cast("double") * F.col("ca") * F.col("cb"))
            ).alias("pmi_ratio"),
        )
    )
    return ranked_topk(
        scored, [("pmi_ratio", "desc"), ("a", "asc"), ("b", "asc")], PMI_TOP
    )


# --------------------------------------------------------------------------
# Kneser-Ney smoothed bigram fluency (r9): the production LM-filter math
# (MLE probabilities assign zero to unseen continuations; CCNet-style
# filters run a SMOOTHED model). Absolute discount d = 0.75 (Chen-Goodman's
# standard value), continuation probabilities from distinct-context counts.
# --------------------------------------------------------------------------
#: per-bigram interpolated-KN probability, ONE IEEE expression over exact
#: integers rounded ONCE into decimal (the docs_bigram_lm_score recipe —
#: +,-,*,/ and GREATEST are deterministic in both engines; the single
#: double->decimal rounding is the only rounding anywhere)
_KN_EXPR = (
    "CAST(GREATEST(CAST(cab AS DOUBLE) - 0.75, CAST(0 AS DOUBLE)) / ca"
    " + ((0.75 * CAST(n1a AS DOUBLE)) / ca)"
    " * (CAST(n1b AS DOUBLE) / n1tot) AS DECIMAL(27,12))"
)

_KN_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    big AS (
        SELECT doc_id, ts[CAST(g.i AS INT)] AS a, ts[CAST(g.i AS INT) + 1] AS b
        FROM toks, UNNEST(generate_series(1, len(ts) - 1)) g(i)),
    cabt AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM big GROUP BY a, b),
    cat AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca,
                   CAST(COUNT(*) AS BIGINT) AS n1a
            FROM cabt GROUP BY a),
    cbt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1b FROM cabt GROUP BY b),
    ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1tot FROM cabt),
    inst AS (SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS k
             FROM big GROUP BY doc_id, a, b),
    j AS (SELECT i.doc_id, i.k, {_KN_EXPR} AS pkn
          FROM inst i
          JOIN cabt USING (a, b) JOIN cat USING (a) JOIN cbt USING (b)
          CROSS JOIN ntot)
    SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(k AS DECIMAL(10,0)) * pkn) AS DOUBLE) / SUM(k)
               AS kn_score
    FROM j GROUP BY doc_id
"""


@register(
    "docs_kn_bigram_score",
    _KN_ORACLE,
    tags=("text", "pipeline", "quality", "lm"),
)
def docs_kn_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram fluency per document — the smoothed
    upgrade of docs_bigram_lm_score's MLE: P_KN(b|a) = max(c(ab)-d, 0)/c(a)
    + d·N1+(a,·)/c(a) · N1+(·,b)/N1+(·,·) with the standard absolute
    discount d = 0.75, so unseen-continuation mass is redistributed by how
    PROMISCUOUS a word's contexts are (the Kneser-Ney insight: 'Francisco'
    is frequent but only ever follows 'San'). This is the model shape real
    CCNet-style quality filters run; the MLE twin documents the difference.

    Exactness: every count (c(ab), c(a), the three N1+ distinct-context
    counts) is an exact integer aggregate; the per-bigram probability is
    ONE fixed IEEE expression over them rounded ONCE into DECIMAL(27,12);
    per-doc sums of those decimals are exact and associative, and the
    final mean is one decimal->double cast over an integer divide.

    Scale shape: identical to the MLE entry — the corpus explodes to
    bigram instances once, immediately pre-aggregated (map-side combine)
    into the instance table and the vocabulary^2-bounded model tables;
    the model joins broadcast when small / co-partition on the bigram key
    otherwise; n1tot is a 1-row broadcast."""
    # ONE corpus explode (r11, same fold as _bigram_lm_scores): the
    # (doc_id, a, b) pre-aggregate and the bigram model are shared family
    # memos; all three N1+ distinct-context counts derive from the model
    # exactly (5 corpus explodes in the uncached before-plan,
    # plans/r11/docs_kn_bigram_score_before.txt).
    inst = shared_bigram_instances(spark, sf_dir)
    cab = shared_bigram_counts(spark, sf_dir)
    ca = cab.groupBy("a").agg(
        F.sum("cab").cast("bigint").alias("ca"),
        F.count(F.lit(1)).cast("bigint").alias("n1a"),
    )
    cb = cab.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    ntot = cab.agg(F.count(F.lit(1)).cast("bigint").alias("n1tot"))
    j = (
        inst.join(cab, ["a", "b"])
        .join(ca, "a")
        .join(cb, "b")
        .join(F.broadcast(ntot))
        .select("doc_id", "k", F.expr(_KN_EXPR).alias("pkn"))
    )
    return j.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        (
            F.sum(F.expr("CAST(k AS DECIMAL(10,0)) * pkn")).cast("double")
            / F.sum("k")
        ).alias("kn_score"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility QA (r9 cont.): the acceptance report an LLM pipeline
# runs on a freshly trained tokenizer before committing a corpus encode —
# pieces-per-word (fertility) and word-bytes-per-piece (compression) broken
# down by source. A source whose fertility spikes is one the tokenizer
# serves badly (wrong domain/language mix in training); this is the
# per-source drift signal that decides retraining. Composes the learned
# tokenizer chain: shared_word_pieces (memoized merges + piece vocab).
# --------------------------------------------------------------------------


def _fertility_oracle() -> str:
    final = f"w{BPE_MERGES}"
    return _bpe_oracle_body() + f""",
    wn AS (SELECT word,
                  CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_pieces
           FROM {final}),
    base AS (SELECT doc_id, source,
                    list_filter(string_split(text, ' '), x -> x <> '') AS t
             FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    toks AS (SELECT doc_id, source, t[g.i] AS term
             FROM base, UNNEST(generate_series(1, len(t), 1)) AS g(i)),
    agg AS (SELECT t.source,
                   CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(wn.n_pieces) AS BIGINT) AS n_pieces,
                   CAST(SUM(strlen(t.term)) AS BIGINT) AS n_word_bytes
            FROM toks t JOIN wn ON t.term = wn.word
            GROUP BY t.source)
    SELECT source, n_docs, n_words, n_pieces, n_word_bytes,
           CAST(n_pieces AS DOUBLE) / n_words AS fertility,
           CAST(n_word_bytes AS DOUBLE) / n_pieces AS bytes_per_piece
    FROM agg ORDER BY source
"""


@register(
    "text_fertility",
    _fertility_oracle(),
    tags=("text", "pipeline", "tokenizer"),
)
def text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility (BPE pieces per whitespace word) and
    compression (word bytes per piece) over the learned-merge tokenizer.

    Scale shape: the per-word piece summary (vocabulary-sized) broadcasts
    onto ONE corpus token scan; the report aggregates to |source| rows with
    map-side combine. Counts are exact int64; the two ratios are single
    IEEE divisions of exact integers (the tf*N/df precedent), so the entry
    is hash-exact cross-engine. At 100 TB the corpus pass is the scan
    itself — the tokenizer side is corpus-size-independent."""
    we = shared_word_pieces(spark, sf_dir)
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias("term"),
    )
    agg = (
        toks.join(F.broadcast(we), toks["term"] == we["word"])
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.sum(F.octet_length("term")).cast("bigint").alias("n_word_bytes"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_pieces",
        "n_word_bytes",
        F.expr("CAST(n_pieces AS DOUBLE) / n_words").alias("fertility"),
        F.expr("CAST(n_word_bytes AS DOUBLE) / n_pieces").alias("bytes_per_piece"),
    ).orderBy("source")
