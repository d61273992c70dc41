"""Corpus-quality filters and robust statistics (beyond-reference tier).

Published training-data curation heuristics re-expressed as exact, fully
distributed column algebra:

  * ``docs_gopher_quality``   — the Gopher paper's rule-based quality filter
    (word-count bounds, mean-word-length band, stop-word evidence,
    max-word-frequency cap) as one explode + two-level aggregate.
  * ``docs_lexical_diversity``— type-token ratio, Simpson repetition index,
    hapax ratio: the lexical-diversity family used to drop templated text.
  * ``docs_dsir_weights``     — DSIR-style importance weights from hashed
    unigram features (target slice vs raw corpus), in exactly comparable
    arithmetic (integer counts, one correctly-rounded double ratio per
    bucket, decimal per-doc mean).
  * ``docs_ccnet_buckets``    — CCNet head/middle/tail perplexity terciles
    per source, composing the verified bigram LM.
  * ``ev_rate_limit``         — deterministic per-(user, hour) event cap by
    md5 rank (batch twin of streaming/windows.py::stream_rate_limit).
  * ``ev_winsorize``          — per-group winsorized mean with percentiles
    defined by explicit rank arithmetic (engine-portable; no reliance on
    percentile_disc tie conventions).
  * ``ev_countmin_sketch``    — Count-Min point estimates verified against
    exact counts (the third sketch beside HLL and Misra-Gries).

Reference counterpart: none (SkinnerDB stops at SQL analytics —
src/benchmark/ only runs join workloads); this module is part of the
LLM-data-pipeline extension tier the build brief requires. All entries are
zero-UDF, map-side-combinable, and shuffle at most twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from skinnerdb_spark.operators.textprims import MD5_INT, md5_int
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register
from skinnerdb_spark.state import memo

#: stop-word evidence list (Gopher uses an English function-word list; the
#: synthetic corpus vocabulary contains these members of it)
STOPWORDS = ("the", "a", "and", "of", "to", "in")

#: Gopher-style bounds tuned to discriminate on the synthetic corpus
#: (124/500 docs pass at sf0.01 — neither degenerate-keep nor degenerate-drop)
MIN_WORDS, MAX_WORDS = 30, 90
MIN_MEAN_WLEN, MAX_MEAN_WLEN = 3.9, 4.5
MIN_STOPWORD_HITS = 2
MAX_TOP_WORD_RATIO = 0.11

_WORDS_EXPR = "filter(split(text, ' '), x -> x != '')"

_SQL_STOPSET = ", ".join(f"'{w}'" for w in STOPWORDS)

#: shared DuckDB CTE: per-(doc, word) instance counts
_KC_CTE = """
    w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    inst AS (SELECT doc_id, t.w AS w FROM w, UNNEST(ws) t(w)),
    kc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS k
           FROM inst GROUP BY doc_id, w)
"""


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w, k): per-document word instance counts — ONE explode of the
    corpus immediately pre-aggregated (map-side combine), the scale-shape
    shared by the bigram/PMI/BPE entries."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    inst = d.select("doc_id", F.explode(F.expr(_WORDS_EXPR)).alias("w"))
    return inst.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("bigint").alias("k"))


@register(
    "docs_gopher_quality",
    f"""
    WITH {_KC_CTE},
    agg AS (
        SELECT doc_id,
               CAST(SUM(k) AS BIGINT) AS n_words,
               CAST(SUM(k * LENGTH(w)) AS BIGINT) AS chars,
               CAST(MAX(k) AS BIGINT) AS max_k,
               CAST(SUM(CASE WHEN w IN ({_SQL_STOPSET}) THEN 1 ELSE 0 END)
                    AS BIGINT) AS stopword_hits
        FROM kc GROUP BY doc_id)
    SELECT doc_id, n_words,
           CAST(chars AS DOUBLE) / n_words AS mean_word_len,
           stopword_hits,
           CAST(max_k AS DOUBLE) / n_words AS top_word_ratio,
           CAST(CASE WHEN n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                      AND CAST(chars AS DOUBLE) / n_words
                          BETWEEN {MIN_MEAN_WLEN} AND {MAX_MEAN_WLEN}
                      AND stopword_hits >= {MIN_STOPWORD_HITS}
                      AND CAST(max_k AS DOUBLE) / n_words <= {MAX_TOP_WORD_RATIO}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
    FROM agg
    """,
    tags=("text", "pipeline", "quality", "gopher"),
)
def docs_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 §A1.1 analogue):
    keep a document iff its word count, mean word length, stop-word evidence,
    and most-frequent-word share all sit inside the published-style bounds.

    Exactness: every signal is integer arithmetic except two divisions, each
    a single correctly-rounded int64/int64 double division compared against
    identical literals in both engines. Scale shape: one corpus explode with
    immediate (doc_id, w) pre-aggregation, then a doc_id-partitioned
    second-level aggregate — two shuffles total, no UDFs, no windows."""
    kc = _word_counts(spark, sf_dir)
    agg = kc.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_words"),
        F.sum(F.col("k") * F.length("w")).cast("bigint").alias("chars"),
        F.max("k").cast("bigint").alias("max_k"),
        F.sum(F.when(F.col("w").isin(*STOPWORDS), 1).otherwise(0))
        .cast("bigint")
        .alias("stopword_hits"),
    )
    mean_wlen = F.col("chars").cast("double") / F.col("n_words")
    top_ratio = F.col("max_k").cast("double") / F.col("n_words")
    keep = (
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & mean_wlen.between(MIN_MEAN_WLEN, MAX_MEAN_WLEN)
        & (F.col("stopword_hits") >= MIN_STOPWORD_HITS)
        & (top_ratio <= MAX_TOP_WORD_RATIO)
    )
    return agg.select(
        "doc_id",
        "n_words",
        mean_wlen.alias("mean_word_len"),
        "stopword_hits",
        top_ratio.alias("top_word_ratio"),
        F.when(keep, 1).otherwise(0).cast("bigint").alias("keep_flag"),
    )


@register(
    "docs_lexical_diversity",
    f"""
    WITH {_KC_CTE}
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS DOUBLE) / SUM(k) AS type_token_ratio,
           CAST(SUM(k * (k - 1)) AS DOUBLE)
             / (SUM(k) * (SUM(k) - 1)) AS simpson_index,
           CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_ratio
    FROM kc GROUP BY doc_id HAVING SUM(k) > 1
    """,
    tags=("text", "pipeline", "quality", "diversity"),
)
def docs_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per document: type-token ratio, Simpson
    repetition index (probability two random token draws are the same word —
    the Herfindahl concentration used to drop templated/repetitive text),
    and hapax-legomenon ratio.

    Simpson's numerator/denominator are pure int64 sums; each output is one
    correctly-rounded double division, so both engines agree bit-for-bit.
    Same two-shuffle explode/pre-aggregate shape as docs_gopher_quality."""
    kc = _word_counts(spark, sf_dir)
    agg = kc.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("k") * (F.col("k") - 1)).cast("bigint").alias("rep_pairs"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).cast("bigint").alias("hapax"),
    )
    return agg.filter(F.col("n_words") > 1).select(
        "doc_id",
        "n_words",
        "n_types",
        (F.col("n_types").cast("double") / F.col("n_words")).alias("type_token_ratio"),
        (
            F.col("rep_pairs").cast("double")
            / (F.col("n_words") * (F.col("n_words") - 1))
        ).alias("simpson_index"),
        (F.col("hapax").cast("double") / F.col("n_types")).alias("hapax_ratio"),
    )


#: DSIR hashed-feature space size and the "target distribution" slice
DSIR_BUCKETS = 1024
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")

_SQL_TARGETS = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)


@register(
    "docs_dsir_weights",
    f"""
    WITH w AS (SELECT doc_id, source,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    inst AS (SELECT doc_id, source,
                    {MD5_INT("t.w", 6)} % {DSIR_BUCKETS} AS b
             FROM w, UNNEST(ws) t(w)),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM inst GROUP BY b),
    traw AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr FROM raw),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
            FROM inst WHERE source IN ({_SQL_TARGETS}) GROUP BY b),
    ttgt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS tt FROM tgt),
    model AS (
        SELECT r.b,
               CAST((CAST(COALESCE(g.ct, 0) + 1 AS DOUBLE)
                     * CAST((SELECT tr FROM traw) + {DSIR_BUCKETS} AS DOUBLE))
                    / (CAST(r.cr + 1 AS DOUBLE)
                       * CAST((SELECT tt FROM ttgt) + {DSIR_BUCKETS} AS DOUBLE))
                    AS DECIMAL(27,12)) AS dp
        FROM raw r LEFT JOIN tgt g ON r.b = g.b),
    db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS k
           FROM inst GROUP BY doc_id, b)
    SELECT db.doc_id,
           CAST(SUM(db.k) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(db.k AS DECIMAL(10,0)) * m.dp) AS DOUBLE)
             / SUM(db.k) AS dsir_weight
    FROM db JOIN model m ON db.b = m.b
    GROUP BY db.doc_id
    """,
    tags=("text", "pipeline", "sampling", "dsir"),
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data-selection importance weight per document (Xie et al.
    2023 analogue): hash unigrams into {DSIR_BUCKETS} buckets, estimate the
    add-one-smoothed bucket distribution of a target slice
    (source ∈ DSIR_TARGET_SOURCES) and of the raw corpus, and score each doc
    by the mean target/raw probability ratio of its tokens. Pipelines sample
    raw data proportionally to these weights to tilt toward the target
    domain.

    Exactly comparable arithmetic: bucket ids come from md5 hex prefixes
    (identical in both engines, no RNG); each bucket ratio is one double
    expression over exact int64 counts with a fixed parenthesization, rounded
    once into DECIMAL(27,12); per-doc sums of those decimals are exact and
    associative; the final mean is one decimal→double cast divided by an
    integer (the docs_bigram_lm_score recipe).

    Scale shape: the corpus explodes ONCE and is immediately pre-aggregated
    (map-side combine) to a (doc_id, bucket, k) frame whose single shuffle
    every downstream frame derives from — the raw and target bucket models
    are second-level sums over it (ReusedExchange, the docs_bigram_lm_score
    cab→ca recipe), the model is {DSIR_BUCKETS} rows — broadcast by AQE for
    the scoring join — and the two scalar totals ride broadcast 1-row
    crossJoins. One corpus-sized shuffle, no UDFs."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    bucket = F.expr(md5_int("w", 6)) % DSIR_BUCKETS
    inst = d.select(
        "doc_id", "source", F.explode(F.expr(_WORDS_EXPR)).alias("w")
    ).select("doc_id", "source", bucket.alias("b"))
    # ONE corpus-sized shuffle: per-(doc, bucket) counts; is_tgt is constant
    # per doc so max() is a faithful carry-through
    dbt = inst.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max(
            F.when(F.col("source").isin(*DSIR_TARGET_SOURCES), 1).otherwise(0)
        ).alias("is_tgt"),
    )
    # dbt feeds FOUR consumers (raw/tgt models, their totals, the scoring
    # join) with DIFFERENT column prunings — the pruned subtrees are no
    # longer identical, so ReusedExchange does NOT fire and the corpus
    # explode+md5 re-executed per consumer (measured: 9 runtime scans,
    # 20.5 s at sf10 vs 5 s for the aggregate itself). Stats-bearing
    # memory cache (NOT DISK_ONLY: the frame is 4 int columns per
    # doc-bucket — ~0.3 GB at sf10, far below the verbatim-spans multi-GB
    # heap-competition threshold, and the 4 reads dominate the cost).
    # r12 (ADVICE r11): tracked by the state.memo LRU so eviction
    # unpersists it instead of stranding one frame per sf_dir.
    _dbt = dbt
    dbt = memo(spark, sf_dir, "dsir_dbt", lambda: _dbt)
    raw = dbt.groupBy("b").agg(F.sum("k").cast("bigint").alias("cr"))
    tgt = (
        dbt.filter(F.col("is_tgt") == 1)
        .groupBy("b")
        .agg(F.sum("k").cast("bigint").alias("ct"))
    )
    traw = raw.agg(F.sum("cr").cast("bigint").alias("tr"))
    ttgt = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("bigint").alias("tt"))
    model = (
        raw.join(tgt, "b", "left")
        .join(F.broadcast(traw))
        .join(F.broadcast(ttgt))
        .select(
            "b",
            (
                (
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    * (F.col("tr") + DSIR_BUCKETS).cast("double")
                )
                / (
                    (F.col("cr") + 1).cast("double")
                    * (F.col("tt") + DSIR_BUCKETS).cast("double")
                )
            )
            .cast("decimal(27,12)")
            .alias("dp"),
        )
    )
    return (
        dbt.join(model, "b")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            (
                F.sum(F.expr("CAST(k AS DECIMAL(10,0)) * dp")).cast("double")
                / F.sum("k")
            ).alias("dsir_weight"),
        )
    )


#: winsorization band: clamp below the 5th / above the 95th percentile
WINSOR_LO_PCT, WINSOR_HI_PCT = 5, 95


def value_at_rank(
    counts: DataFrame, group_col: str, col: str, out: str, k_sql: str
) -> DataFrame:
    """Value at ascending rank ``k`` within each group, selected from a
    per-distinct-value count frame ``(group_col, col, cnt)``: the row whose
    cumulative-count interval covers the rank. ``k_sql`` is a SQL expression
    over ``n`` (the group's total row count, = SUM(cnt)).

    This is the quantized-domain order-statistics shape (see
    ev_mad_outliers' design note): the caller pays ONE map-side-combinable
    corpus aggregation to build ``counts``; every rank selection after that
    runs over the bounded distinct-value frame — windows never touch input
    rows. For unbounded value domains use
    operators/quantiles.py::exact_value_at_ranks instead."""
    wn = Window.partitionBy(group_col)
    c = counts.select(
        group_col,
        col,
        "cnt",
        F.sum("cnt")
        .over(wn.orderBy(col).rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    k = F.expr(k_sql)
    return c.filter((F.col("cum") >= k) & (F.col("cum") - F.col("cnt") < k)).select(
        group_col, F.col(col).alias(out)
    )


@register(
    "ev_winsorize",
    f"""
    WITH r AS (
        SELECT event_type, event_id, value,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM events),
    b AS (
        SELECT event_type,
               MIN(CASE WHEN rn = ({WINSOR_LO_PCT} * n + 99) // 100
                        THEN value END) AS p_lo,
               MIN(CASE WHEN rn = ({WINSOR_HI_PCT} * n + 99) // 100
                        THEN value END) AS p_hi
        FROM r GROUP BY event_type)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           b.p_lo, b.p_hi,
           CAST(SUM(CAST(CASE WHEN e.value < b.p_lo THEN b.p_lo
                              WHEN e.value > b.p_hi THEN b.p_hi
                              ELSE e.value END AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*) AS winsor_mean
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.p_lo, b.p_hi
    """,
    tags=("events", "analytics", "robust"),
)
def ev_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clamped) mean of event value per event type —
    the robust aggregate a metrics pipeline uses when raw means are
    dominated by heavy tails.

    Percentiles are DEFINED by rank arithmetic — the value at ascending rank
    ceil(p·n/100), ties broken by event_id — rather than by each engine's
    percentile_disc, whose tie conventions differ; ceil-division is the
    integer form (p·n + 99) div 100. The clamped mean rides DECIMAL(18,6)
    so the per-group sum is associative (order-independent) across engines.

    Scale shape (r11, replacing the row_number window): events.value is
    2-decimal quantized (the ev_mad_outliers design-(3) doctrine), so ONE
    map-side-combinable (event_type, value) count aggregate — the only
    corpus-sized stage — reduces the input to a bounded distinct-value
    frame; both percentile ranks AND the clamped mean derive from that
    frame (clamp each distinct value once, weight by its count). The old
    window shape shuffled and SORTED the full corpus with parallelism =
    |event_type| (5 tasks regardless of cluster size — a 1000-executor
    anti-pattern) and re-scanned it for the clamp. The value-at-rank is
    identical under either tie-break: permuting equal values never changes
    which VALUE sits at a rank, and the weighted sum of clamped distinct
    values is exactly the row-wise sum (decimal × exact count)."""
    e = read_table(spark, sf_dir, "events")
    vc = e.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    p_lo = value_at_rank(
        vc, "event_type", "value", "p_lo", f"({WINSOR_LO_PCT} * n + 99) div 100"
    )
    p_hi = value_at_rank(
        vc, "event_type", "value", "p_hi", f"({WINSOR_HI_PCT} * n + 99) div 100"
    )
    bounds = p_lo.join(p_hi, "event_type")
    clamped = vc.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "p_lo",
        "p_hi",
        "cnt",
        F.when(F.col("value") < F.col("p_lo"), F.col("p_lo"))
        .when(F.col("value") > F.col("p_hi"), F.col("p_hi"))
        .otherwise(F.col("value"))
        .cast("decimal(18,6)")
        .alias("cv"),
    )
    return clamped.groupBy("event_type", "p_lo", "p_hi").agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        (F.sum(F.col("cv") * F.col("cnt")).cast("double") / F.sum("cnt")).alias(
            "winsor_mean"
        ),
    )


def _ccnet_oracle() -> str:
    # the LM is the hash-verified bigram entry; inline its oracle as a
    # derived table (DuckDB allows WITH inside a subquery)
    from skinnerdb_spark.operators.text import _BIGRAM_ORACLE

    return _CCNET_ORACLE_TEMPLATE.format(bigram=_BIGRAM_ORACLE)


_CCNET_ORACLE_TEMPLATE = """
    WITH base AS (SELECT * FROM (
        {bigram}
    )),
    src AS (SELECT doc_id, source FROM documents),
    r AS (SELECT b.doc_id, s.source, b.lm_score,
                 CAST(ROW_NUMBER() OVER (PARTITION BY s.source
                                         ORDER BY b.lm_score DESC, b.doc_id)
                      AS BIGINT) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY s.source) AS BIGINT) AS n
          FROM base b JOIN src s ON b.doc_id = s.doc_id)
    SELECT source,
           CASE ((rn - 1) * 3) // n WHEN 0 THEN 'head'
                                    WHEN 1 THEN 'middle'
                                    ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(lm_score) AS min_score,
           MAX(lm_score) AS max_score
    FROM r GROUP BY source, bucket
    """


@register(
    "docs_ccnet_buckets",
    _ccnet_oracle(),
    tags=("text", "pipeline", "quality", "ccnet"),
)
def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 analogue): rank
    every document within its source by language-model fluency and split each
    source into head/middle/tail terciles — the partition CCNet publishes and
    downstream pipelines sample from ("head" = most fluent third).

    Composes the hash-verified ``docs_bigram_lm_score`` as its LM (operators
    as building blocks — the docs_curation_gate pattern); tercile boundaries
    are pure rank arithmetic ((rn-1)*3 div n); the per-bucket outputs are
    COUNT/MIN/MAX only — selections, not float sums — so no cross-engine
    summation-order hazard exists.

    Scale shape: the rank window is PARTITIONED by source (parallel across
    sources); everything upstream inherits the bigram entry's one-explode
    shape; the final aggregate is |source|x3 rows."""
    from skinnerdb_spark.operators.text import docs_bigram_lm_score

    base = docs_bigram_lm_score(spark, sf_dir)
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(F.desc("lm_score"), F.asc("doc_id"))
    wn = Window.partitionBy("source")
    r = (
        base.join(src, "doc_id")
        .select(
            "source",
            "lm_score",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
        )
    )
    bucket = (
        F.when(F.expr("((rn - 1) * 3) div n") == 0, "head")
        .when(F.expr("((rn - 1) * 3) div n") == 1, "middle")
        .otherwise("tail")
    )
    return r.groupBy("source", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("lm_score").alias("min_score"),
        F.max("lm_score").alias("max_score"),
    )


#: rate limiter: keep at most K events per (user, hour)
RATE_LIMIT_K = 3


@register(
    "ev_rate_limit",
    f"""
    SELECT event_id, user_id, hour_ts, rn
    FROM (
        SELECT event_id, user_id, date_trunc('hour', ts) AS hour_ts,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id, date_trunc('hour', ts)
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                    AS BIGINT) AS rn
        FROM events)
    WHERE rn <= {RATE_LIMIT_K}
    """,
    tags=("events", "streaming", "sampling"),
)
def ev_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key rate limiter: keep at most {RATE_LIMIT_K} events
    per (user, hour), selected by md5(event_id) rank — the batch twin of a
    streaming throttle (and of trainer-side per-user example caps). md5 rank
    instead of arrival order makes the survivor set a uniform, reproducible
    sample with no RNG (the sample_* family's recipe).

    Scale shape: one window PARTITIONED by the high-cardinality
    (user, hour) key — fully parallel, no global sort; the filter drops rows
    before anything downstream, so the operator is shuffle-once and
    output-bounded at K x |keys|."""
    e = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts").alias("hour_ts")
    w = Window.partitionBy("user_id", F.date_trunc("hour", "ts")).orderBy(
        F.md5(F.col("event_id").cast("string").cast("binary")), F.asc("event_id")
    )
    return (
        e.select(
            "event_id",
            "user_id",
            hour,
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= RATE_LIMIT_K)
    )


#: Count-Min sketch geometry: d independent hash rows x w counters. w = 64
#: is deliberately SMALLER than the ~150-user key space at the sf0.01
#: driver-gate SF, so collisions occur there (91/150 keys overestimate) and
#: the overestimate mechanics are actually exercised — a sketch wider than
#: its key space would verify nothing.
CMS_DEPTH = 4
CMS_WIDTH = 64


@register(
    "ev_countmin_sketch",
    f"""
    WITH h AS (
        SELECT user_id, d.d AS d,
               {MD5_INT("CAST(d.d AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)", 6)}
                 % {CMS_WIDTH} AS b
        FROM events CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) d(d)),
    counters AS (
        SELECT d, b, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY d, b),
    keys AS (
        SELECT DISTINCT user_id, d, b FROM h),
    est AS (
        SELECT k.user_id, CAST(MIN(c.c) AS BIGINT) AS cms_n
        FROM keys k JOIN counters c ON k.d = c.d AND k.b = c.b
        GROUP BY k.user_id),
    truth AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM events GROUP BY user_id)
    SELECT t.user_id, t.true_n, e.cms_n,
           CAST(e.cms_n - t.true_n AS BIGINT) AS overestimate
    FROM truth t JOIN est e ON t.user_id = e.user_id
    """,
    tags=("events", "sketch", "streaming"),
)
def ev_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates for per-user event counts, verified
    against the exact counts — the third classic sketch beside the HLL
    distinct-count and Misra-Gries heavy-hitter entries. CMS guarantees
    cms_n >= true_n (never under), with overestimates from bucket
    collisions; the component test pins both properties and the geometry
    here (w={CMS_WIDTH} < |users|) forces real collisions.

    Exactness: hash rows are md5 prefixes (the DSIR bucket recipe —
    identical hex in both engines, no RNG), counters and the min-estimate
    are pure int64 — nothing floating anywhere.

    Scale shape (the reason CMS exists): the corpus-sized work is ONE
    map-side-combinable per-user count aggregate — the bucket hash depends
    only on (d, user_id), never on the individual event, so the sketch rows
    derive EXACTLY from the per-user counts: the (d, b) counter is the
    integer sum of true_n over the users hashing into the cell, identical
    to counting the exploded event stream (r11: the previous shape exploded
    the corpus x{CMS_DEPTH} TWICE — the counter and key subtrees prune
    different columns, so ReusedExchange never fired — plus a third corpus
    scan for `truth`; 6 scans in the before-plan, one in the after-plan).
    Everything past the first aggregate operates on the |users|-sized
    frame (cached — bounded, stats-bearing): the x{CMS_DEPTH} explode, the
    {CMS_DEPTH * CMS_WIDTH}-cell counter sum, and the broadcast estimate
    lookup. Constant sketch memory at ANY stream size, mergeable across
    shards by addition (the same contract the streaming rollup uses). The
    exact `truth` side exists only to verify the sketch at test scale."""
    e = read_table(spark, sf_dir, "events")
    d_arr = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d")
    bucket = (
        F.expr(md5_int("concat(CAST(d AS STRING), ':', CAST(user_id AS STRING))", 6))
        % CMS_WIDTH
    )
    # ONE corpus pass; cached because `truth` feeds three consumers with
    # different prunings (the dbt/no-ReusedExchange story above). r12
    # (ADVICE r11): tracked by the state.memo LRU — raw .cache() was
    # never unpersisted across a multi-SF session.
    truth = memo(
        spark, sf_dir, "cms_truth",
        lambda: e.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("true_n")
        ),
    )
    # (user_id, d) is unique by construction, so h needs no DISTINCT
    h = truth.select("user_id", "true_n", d_arr).select(
        "user_id", "true_n", "d", bucket.alias("b")
    )
    counters = h.groupBy("d", "b").agg(F.sum("true_n").cast("bigint").alias("c"))
    est = (
        h.select("user_id", "d", "b")
        .join(F.broadcast(counters), ["d", "b"])
        .groupBy("user_id")
        .agg(F.min("c").cast("bigint").alias("cms_n"))
    )
    return truth.join(est, "user_id").select(
        "user_id",
        "true_n",
        "cms_n",
        (F.col("cms_n") - F.col("true_n")).cast("bigint").alias("overestimate"),
    )


#: per-source token budget for quality-ordered data pruning — FIXED by the
#: training plan, not by corpus size, so the kept set (and this entry's
#: output) is budget-bounded at any scale factor. 800 sits below every
#: source's sf0.01 volume (~1.1-1.6k tokens), so the cutoff class FIRES at
#: the oracle-gate SF too (kept ~60%, dropped ~40%), not only at scale.
PRUNE_BUDGET_TOKENS = 800


@register(
    "docs_quality_prune_budget",
    f"""
    WITH feats AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               3 * len(list_filter(toks, t -> list_contains(
                       ['the', 'a', 'and', 'of', 'to'], t)))
                 + 4 * len(list_distinct(toks))
                 + 2 * len(list_filter(toks, t -> length(t) >= 6))
                 - len(toks) AS num
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents
              WHERE text IS NOT NULL AND LENGTH(text) > 0)),
    scored AS (
        SELECT f.doc_id, d.source, CAST(f.n_tokens AS BIGINT) AS n_tokens,
               CAST(f.num AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) AS score
        FROM feats f JOIN documents d ON d.doc_id = f.doc_id
        WHERE f.n_tokens > 0),
    ranked AS (
        SELECT source, doc_id, n_tokens,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
               CAST(SUM(n_tokens) OVER (PARTITION BY source
                        ORDER BY score DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM scored
        WINDOW w AS (PARTITION BY source ORDER BY score DESC, doc_id))
    SELECT source, rnk, doc_id, n_tokens, cum_tokens
    FROM ranked WHERE cum_tokens <= {PRUNE_BUDGET_TOKENS}
    """,
    tags=("pipeline", "pruning", "quality"),
)
def docs_quality_prune_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered data pruning under a token budget — the
    DataComp/FineWeb-style selection step: rank each source's documents by
    the verified linear quality score (text_quality_lr's margin — operator
    COMPOSITION, the dedup_keep_best pattern) and keep the best documents
    until the per-source token budget is exhausted (a straddling document
    is dropped, budget never exceeded). The budget is fixed by the
    training plan, NOT by corpus size, so the kept set is budget-bounded
    at any scale: 100x more candidate documents means a pickier selection,
    not a bigger output.

    Exactness: the ordering key is the classifier margin (one IEEE
    division of exact integers — bit-identical both engines) with doc_id
    tie-break, so the per-source order, the running token sums over it,
    and the cutoff row are all cross-engine identical; every OUTPUT column
    is an exact integer.

    Scale shape: one in-row scoring projection, a doc_id-co-partitioned
    join for the source column, ONE window shuffle on source (the same
    bounded-cardinality partitioning as the mixture entries); output rows
    are bounded by budget / min-tokens regardless of corpus size."""
    from skinnerdb_spark.operators.text import text_quality_lr

    q = text_quality_lr(spark, sf_dir)
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = q.join(d, "doc_id")
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.select(
        "source",
        "doc_id",
        "n_tokens",
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cum_tokens"),
    )
    return ranked.filter(F.col("cum_tokens") <= PRUNE_BUDGET_TOKENS).select(
        "source", "rnk", "doc_id", "n_tokens", "cum_tokens"
    )


@register(
    "ev_mad_outliers",
    """
    WITH r AS (
        SELECT event_type, event_id, value,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM events),
    med AS (
        SELECT event_type,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
        FROM r GROUP BY event_type),
    dev AS (
        SELECT e.event_type, e.event_id, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type),
    dr AS (
        SELECT event_type, med, adev,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY adev, event_id) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM dev),
    mad AS (
        SELECT event_type, med,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS mad
        FROM dr GROUP BY event_type, med)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           m.med, m.mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type, m.med, m.mad
    """,
    tags=("events", "analytics", "robust"),
)
def ev_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection per event type — the
    robust counterpart of ev_anomaly_hours' 2-sigma rule (one wild value
    moves a mean and sigma; it moves a median and MAD almost not at all)
    and the third member of the robust-stats family with ev_winsorize.

    Exactness: both medians are DEFINED by rank — the value at ascending
    rank ceil(n/2) — never an engine median() whose interpolation/tie
    conventions differ. (The oracle's event_id tie-break cannot change the
    selected VALUE: tied rows share it.) Deviations are single IEEE
    subtractions of identical inputs, the flag threshold one multiply +
    compare — identical expression shapes both engines, so med, mad, and
    every outlier count are bit-identical.

    Scale shape — chosen by measurement across three designs:
    (1) per-type rank windows sort the corpus on |event_type| ~ 5
    partitions — 8x at the sf1→sf10 step, rejected; (2) two rounds of the
    distributed k-th selection (operators/quantiles.py) scale flat but pay
    ~9-13 s of fixed multi-level job latency per call pair — right for
    UNBOUNDED value domains, wrong here; (3) this one: events.value is
    2-decimal fixed-point (cents — 54k distinct values at 10M rows), so
    ONE map-side-combinable (event_type, value) count aggregate reduces
    the corpus to a bounded distinct-value frame and every median, MAD,
    and outlier count derives from CUMULATIVE COUNTS over that tiny frame
    — a single corpus scan total, windows only over aggregated rows. The
    moment a value domain is unbounded, design (2) is the documented
    fallback; for quantized metric data, (3) is the production shape."""
    e = read_table(spark, sf_dir, "events")
    # the ONLY corpus-sized stage: per-(type, value) counts, map-side combined
    vc = e.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    med = value_at_rank(vc, "event_type", "value", "med", "(n + 1) div 2")
    # deviations per DISTINCT value, weights carried as counts — no corpus rescan
    devc = (
        vc.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "med",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
            "cnt",
        )
        .groupBy("event_type", "med", "adev")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = value_at_rank(devc, "event_type", "adev", "mad", "(n + 1) div 2")
    return (
        devc.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("adev") > 3 * F.col("mad"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select("event_type", "n_events", "med", "mad", "n_outliers")
    )
