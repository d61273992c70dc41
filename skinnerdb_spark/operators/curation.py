"""Data-curation operators for training-set assembly (beyond-reference tier).

Four operators a production data pipeline runs between raw corpus and
training mix, exercising the warehouse columns the rest of the tier doesn't:

- events_json_extract : semi-structured (JSON string) property extraction —
  the ubiquitous "props column" pattern; stays entirely in JVM expressions
  (get_json_object), no UDF
- sample_class_balanced : deterministic k-per-class sample over
  embeddings.label — class rebalancing with md5-rank (no RNG, identical on
  any engine/partitioning, like sample_stratified)
- docs_source_mix : per-source token counts -> mixture weights — the
  "data mixture" table every LLM training run is configured from
- knn_label_vote : 5-NN majority-vote label prediction scored against the
  vector's own label — the standard embedding-quality eval, built on the
  exact brute-force top-k

Scale shapes: json extraction is map-side column algebra; balanced sampling
is one window shuffle on label; source mix is one groupBy plus a window over
the (tiny) aggregated table; knn reuses the broadcast top-k and adds a
bounded groupBy over |queries| * k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skinnerdb_spark.operators.similarity import _BRUTE_ORACLE, sim_bruteforce_topk
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register

PER_CLASS = 20  # class-balanced sample size per label


@register(
    "events_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          FROM events) t
    GROUP BY event_type
    """,
    tags=("pipeline", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction: events.props is a JSON string
    ({"k": N}); pull k out with get_json_object — JVM-side JSON path, no
    Python — and aggregate per event type. The scan prunes to two columns and
    the single groupBy is the only shuffle; at 100 TB this is the exact shape
    of a clickstream-props rollup."""
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "sample_class_balanced",
    f"""
    WITH r AS (
        SELECT vec_id, label,
               CAST(ROW_NUMBER() OVER (
                    PARTITION BY label
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rnk
        FROM embeddings)
    SELECT vec_id, label, rnk FROM r WHERE rnk <= {PER_CLASS}
    """,
    tags=("pipeline", "sampling"),
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-class sample: rank rows inside each label by
    md5(vec_id) (uniform, engine-portable, no RNG — the same reproducibility
    argument as sample_stratified) and keep the first PER_CLASS. One window
    shuffle on label; the downsampled classes stay exactly balanced however
    skewed the input distribution is."""
    e = read_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), F.asc("vec_id")
    )
    return (
        e.select("vec_id", "label")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= PER_CLASS)
    )


@register(
    "docs_source_mix",
    """
    WITH per AS (
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source, lang)
    SELECT source, lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
               AS mix_weight
    FROM per
    """,
    tags=("pipeline", "mixture"),
)
def docs_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-mixture table: per (source, lang) document and token
    counts plus each source's share of total tokens — what a data-mixing
    config (e.g. source up/down-weighting) is derived from. One groupBy over
    the corpus; the global-total window runs over the already-aggregated
    per-source table (tens of rows), not the corpus."""
    d = read_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    # broadcast scalar-total join instead of an unpartitioned window (the
    # window would single-partition the per-group table; same exact sum)
    total = per.agg(F.sum("n_tokens").alias("__tot"))
    return per.join(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("__tot").cast("double")).alias(
            "mix_weight"
        ),
    )


@register(
    "knn_label_vote",
    f"""
    WITH nn AS ({_BRUTE_ORACLE}),
    votes AS (
        SELECT n.query_id, e.label, COUNT(*) AS n_votes
        FROM nn n JOIN embeddings e ON e.vec_id = n.neighbor_id
        GROUP BY n.query_id, e.label),
    best AS (
        SELECT query_id, label AS pred_label, n_votes,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, label) AS r
        FROM votes)
    SELECT b.query_id, q.label AS own_label, b.pred_label, b.n_votes,
           CAST(CASE WHEN b.pred_label = q.label THEN 1 ELSE 0 END AS INTEGER)
               AS correct
    FROM best b JOIN embeddings q ON q.vec_id = b.query_id
    WHERE b.r = 1
    """,
    tags=("pipeline", "similarity", "eval"),
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval: predict each query vector's label by majority
    vote of its 5 exact nearest neighbors (ties break toward the smaller
    label) and score against the vector's own label. Reuses the broadcast
    brute-force top-k; the vote is a groupBy over |queries| x k rows."""
    e = read_table(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    topk = sim_bruteforce_topk(spark, sf_dir)
    votes = (
        topk.join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    best = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )
    own = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("own_label")
    )
    return best.join(F.broadcast(own), "query_id").select(
        "query_id",
        "own_label",
        "pred_label",
        "n_votes",
        F.when(F.col("pred_label") == F.col("own_label"), 1).otherwise(0).alias("correct"),
    )


@register(
    "ev_gap_fill",
    """
    WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
               FROM events GROUP BY event_type, h),
    rng AS (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx
            FROM b GROUP BY event_type),
    spine AS (SELECT event_type, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
              FROM rng)
    SELECT s.event_type, s.h,
           COALESCE(b.n, 0) AS n,
           CASE WHEN b.n IS NULL THEN 1 ELSE 0 END AS was_gap
    FROM spine s LEFT JOIN b ON b.event_type = s.event_type AND b.h = s.h
    """,
    tags=("events", "timeseries", "curation"),
)
def ev_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly spine per event_type (from
    that type's own observed [min, max] hour range), zero-filled where no
    events landed — the step that makes downstream window math (moving
    averages, anomaly z-scores) correct on sparse telemetry.

    Scale shape: the spine generates from the tiny per-type range table —
    ``sequence()`` + explode per GROUP ROW, never a cross join of types x
    hours (a cartesian the plan suite bans); the join back to hourly counts
    is aggregate-to-aggregate, orders of magnitude smaller than the event
    stream."""
    ev = read_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    spine = (
        b.groupBy("event_type")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    return spine.join(b, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.when(F.col("n").isNull(), 1).otherwise(0).alias("was_gap"),
    )


@register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("pivot", "surplus"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority x status, via Spark's native
    .pivot() with the value list given EXPLICITLY — the at-scale contract
    (without it Spark runs an extra distinct-collect job over the fact table
    to discover column values, and the output schema becomes data-dependent).
    Missing combinations coalesce to 0 to match SQL's SUM(CASE...)."""
    o = read_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        *[F.coalesce(c, F.lit(0)).cast("bigint").alias(c) for c in ("F", "O", "P")],
    )


@register(
    "unpivot_part_attrs",
    """
    SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val
    FROM part WHERE p_partkey <= 200
    UNION ALL
    SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val
    FROM part WHERE p_partkey <= 200
    """,
    tags=("pivot", "surplus"),
)
def unpivot_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide attribute columns to (key, attr, val) long form —
    Spark's native .unpivot (one pass, map-side; the UNION ALL oracle form
    would scan the table once per attribute)."""
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 200)
        .select("p_partkey", F.col("p_retailprice").alias("retailprice"),
                F.col("p_size").cast("double").alias("size"))
    )
    return p.unpivot("p_partkey", ["retailprice", "size"], "attr", "val")


# --------------------------------------------------------------------------
# funnel analysis: ordered view -> click -> purchase conversion per user —
# the product-analytics staple (a MATCH_RECOGNIZE-lite over event sequences).
# Each step must occur strictly AFTER the previous step's first occurrence.
# --------------------------------------------------------------------------
@register(
    "ev_funnel_conversion",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS first_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS first_click
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > v.first_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS first_purchase
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.first_click
          GROUP BY e.user_id)
    SELECT v.user_id, v.first_view, c.first_click, p.first_purchase
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
    tags=("events", "funnel", "curation"),
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel: per user, the first 'view', the first 'click'
    after that view, and the first 'purchase' after that click (NULL where
    the funnel stalls). Three conditional MIN aggregations keyed on user_id:
    the view/click/purchase subsets are DISJOINT, so although the plan holds
    an exchange per step, total shuffle volume is a single pass over the
    funnel's events; every intermediate (v/c/p) is user-sized, and the final
    left joins carry only per-user firsts."""
    e = read_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return v.join(c, "user_id", "left").join(p, "user_id", "left").select(
        "user_id", "first_view", "first_click", "first_purchase"
    )


# --------------------------------------------------------------------------
# cohort retention: users grouped by first-activity day, activity counted per
# day offset — the cohort heatmap every growth dashboard draws.
# --------------------------------------------------------------------------
@register(
    "ev_retention_cohorts",
    """
    WITH cohorts AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT c.cohort_day,
               date_diff('day', c.cohort_day, date_trunc('day', e.ts))
                 AS day_offset,
               e.user_id
        FROM events e JOIN cohorts c ON c.user_id = e.user_id)
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity
    GROUP BY cohort_day, day_offset
    """,
    tags=("events", "retention", "curation"),
)
def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: cohort = day of a user's first event;
    n_active = distinct cohort users active at each day offset. The cohort
    assignment shuffles by user_id once; the activity join reuses it; the
    final matrix aggregation carries (cohort, offset, user) distinct rows —
    bounded by active-user-days, far below raw event volume."""
    e = read_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        e.join(cohorts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
            "user_id",
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )


# --------------------------------------------------------------------------
# token-budget rebalancing: sample each source down to an equal share of the
# total token budget — the "flatten the mixture" curation step between
# docs_source_mix (observe) and training (consume).
# --------------------------------------------------------------------------
@register(
    "sample_source_target_mix",
    """
    WITH toks AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
            FROM toks),
    ranked AS (
        SELECT source, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                    PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM toks)
    SELECT r.source, r.doc_id, r.n_tokens, r.cum_tokens
    FROM ranked r, tot
    WHERE r.cum_tokens * tot.n_sources <= tot.total_tokens
    """,
    tags=("pipeline", "sampling", "curation"),
)
def sample_source_target_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-token-share source rebalancing: within each source, docs rank by
    md5(doc_id) (deterministic, RNG-free — the family's reproducibility
    contract) and accumulate until the source has consumed its 1/n_sources
    share of the corpus token budget. The keep test is pure INTEGER algebra
    (cum * n_sources <= total) — no division, no float, hash-stable.

    One window shuffle on source; the global budget row broadcasts. Sources
    under their share keep everything (cum never exceeds the quota); heavy
    sources truncate at the budget boundary — exactly how a mixture config
    caps an over-represented crawl."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    tot = toks.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count_distinct(F.col("source")).cast("bigint").alias("n_sources"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string").cast("binary")), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
    return (
        ranked.join(F.broadcast(tot))
        .filter(F.col("cum_tokens") * F.col("n_sources") <= F.col("total_tokens"))
        .select("source", "doc_id", "n_tokens", "cum_tokens")
    )


# --------------------------------------------------------------------------
# anomaly detection: hourly volume outliers per event type by a 2-sigma rule
# with the sigma test algebraically cleared of divisions/sqrt, evaluated as
# identical IEEE-double expressions in both engines — deterministic flags,
# libm-free, and no int64 overflow cliff at large corpus moments.
# --------------------------------------------------------------------------
@register(
    "ev_anomaly_hours",
    """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, h),
    stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS sq
        FROM hourly GROUP BY event_type)
    SELECT event_type, hour, n_events, dev_num, n_hours
    FROM (
        SELECT h.event_type, h.h AS hour, h.c AS n_events,
               CAST(h.c * st.n - st.s AS BIGINT) AS dev_num,
               CAST(st.n AS BIGINT) AS n_hours,
               CAST(h.c AS DOUBLE) * CAST(st.n AS DOUBLE) - CAST(st.s AS DOUBLE)
                 AS dev_d,
               CAST(st.n AS DOUBLE) * CAST(st.sq AS DOUBLE)
                 - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) AS var_num
        FROM hourly h JOIN stats st ON st.event_type = h.event_type) t
    WHERE dev_d * dev_d > 4 * var_num
    """,
    tags=("events", "anomaly", "curation"),
)
def ev_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-volume anomalies per event type: hours whose count deviates
    from the type's mean by more than 2 standard deviations. The 2-sigma test
    is algebraically cleared of divisions and square roots —

        (c - s/n)^2 > 4 * (n*sq - s^2)/n^2   <=>   (c*n - s)^2 > 4*(n*sq - s^2)

    — and the cleared form is evaluated in DOUBLE with the SAME expression
    shape in both engines: every IEEE multiply/subtract/compare is correctly
    rounded, so given identical BIGINT moments the flag is deterministic
    cross-engine (no libm, no engine-specific mean/σ), and DOUBLE range means
    no silent int64 wraparound however large the corpus moments get (BIGINT
    products would wrap at s ≈ 3e9 events per type). Two hash aggregations
    (hourly counts, per-type moments) + a broadcast-sized join back; the
    moment table is one row per event type."""
    e = read_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"),
    )
    c_d, n_d = F.col("c").cast("double"), F.col("n").cast("double")
    s_d, sq_d = F.col("s").cast("double"), F.col("sq").cast("double")
    dev_d = c_d * n_d - s_d
    var_num = n_d * sq_d - s_d * s_d
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(dev_d * dev_d > 4 * var_num)
        .select(
            "event_type",
            F.col("h").alias("hour"),
            F.col("c").alias("n_events"),
            (F.col("c") * F.col("n") - F.col("s")).cast("bigint").alias("dev_num"),
            F.col("n").cast("bigint").alias("n_hours"),
        )
    )


# --------------------------------------------------------------------------
# MERGE / upsert: incremental corpus refresh — matched rows take the update,
# unmatched updates insert, untouched rows pass through (MERGE INTO
# semantics, expressed as a full outer join; Spark-native without a lakehouse
# dependency). The update set here is derived deterministically from the
# corpus itself so the operator is fully oracle-checkable.
# --------------------------------------------------------------------------
@register(
    "docs_merge_upsert",
    """
    WITH target AS (SELECT doc_id, text, source FROM documents),
    updates AS (
        SELECT doc_id, upper(text) AS text, source FROM documents
        WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, 'refresh' AS source
        FROM documents WHERE doc_id % 13 = 0)
    SELECT COALESCE(u.doc_id, t.doc_id) AS doc_id,
           COALESCE(u.text, t.text) AS text,
           COALESCE(u.source, t.source) AS source,
           CAST(CASE WHEN u.doc_id IS NOT NULL AND t.doc_id IS NOT NULL
                     THEN 1 ELSE 0 END AS INTEGER) AS was_updated,
           CAST(CASE WHEN t.doc_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
             AS was_inserted
    FROM target t FULL OUTER JOIN updates u ON u.doc_id = t.doc_id
    """,
    tags=("pipeline", "merge", "curation"),
)
def docs_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as one full outer join on the key: WHEN MATCHED
    update (take the update's columns), WHEN NOT MATCHED insert, else pass
    the target row through — the incremental-refresh step of a continuously
    curated corpus. One shuffle on doc_id for each side; at scale the same
    plan serves a daily-crawl upsert into a 100 TB corpus (and bucketing both
    sides on doc_id elides even that, sources/bucketing.py)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    updates = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.upper("text").alias("text"), "source")
        .unionAll(
            d.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                "text",
                F.lit("refresh").alias("source"),
            )
        )
    )
    t = d.select(
        F.col("doc_id").alias("t_id"), F.col("text").alias("t_text"),
        F.col("source").alias("t_source"),
    )
    u = updates.select(
        F.col("doc_id").alias("u_id"), F.col("text").alias("u_text"),
        F.col("source").alias("u_source"),
    )
    j = t.join(u, t["t_id"] == u["u_id"], "full_outer")
    return j.select(
        F.coalesce("u_id", "t_id").alias("doc_id"),
        F.coalesce("u_text", "t_text").alias("text"),
        F.coalesce("u_source", "t_source").alias("source"),
        F.when(F.col("u_id").isNotNull() & F.col("t_id").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("was_updated"),
        F.when(F.col("t_id").isNull(), 1).otherwise(0).cast("int").alias("was_inserted"),
    )


# --------------------------------------------------------------------------
# skew-resistant aggregation, gate-verified: the salted two-phase aggregate
# (plans/skew.py) produces bit-identical results to a plain GROUP BY — the
# oracle IS the plain form, so the equivalence the skew machinery promises is
# checked by the hash gate itself, not just a unit test.
# --------------------------------------------------------------------------
@register(
    "ev_skew_salted_agg",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("events", "skew", "curation"),
)
def ev_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals through the SALTED two-phase path: partials aggregate
    on (user_id, salt) — spreading any single hot user over n_salts
    partitions — then merge on user_id. COUNT merges by SUM; the value sum
    stays in DECIMAL(30,6) through BOTH phases (decimal addition is
    associative, so the salt split cannot change the result bit) and casts
    to double only at the end, exactly like the plain-GROUP-BY oracle."""
    from skinnerdb_spark.plans.skew import aggregate_two_phase

    e = read_table(spark, sf_dir, "events")
    out = aggregate_two_phase(
        e,
        keys=["user_id"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": F.sum(F.col("value").cast("decimal(30,6)")),
        },
        n_salts=8,
        merge="sum",
    )
    return out.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------------
# leakage-free train/valid split: near-dup clusters never straddle splits
# --------------------------------------------------------------------------
from skinnerdb_spark.operators.dedup import _CLUSTERS_ORACLE, dedup_clusters  # noqa: E402

# the clusters oracle, re-targeted: keep every CTE up to lbl(doc_id,
# cluster_id), swap the final projection for the split assignment
_SPLIT_ORACLE = (
    _CLUSTERS_ORACLE[: _CLUSTERS_ORACLE.rindex("SELECT l.doc_id")].rstrip().rstrip(",")
    + """,
    grp AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS group_key
      FROM documents d LEFT JOIN lbl l USING (doc_id))
    SELECT doc_id, group_key,
           CASE WHEN md5(CAST(group_key AS VARCHAR)) < '3'
                THEN 'valid' ELSE 'train' END AS split
    FROM grp
    """
)


@register("sample_leakage_free_split", _SPLIT_ORACLE, tags=("pipeline", "sampling", "dedup"))
def sample_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/valid split that can't leak near-duplicates across the
    boundary: the split unit is the near-dup CLUSTER (transitive closure of
    verified >=0.5-Jaccard pairs, :func:`dedup_clusters`), not the document —
    a doc and its paraphrase land on the same side by construction, the
    failure mode naive random splits have on web corpora. Unclustered docs
    are their own group. Assignment is the registry's standard deterministic
    md5 rule (hex < '3' ~= 18.75% valid) — reproducible across engines,
    reruns, and partitionings, no RNG.

    Cost at scale: the cluster labels come from the pair-graph-only CC loop;
    the split itself is one map-side hash per doc + a doc_id-co-partitioned
    LEFT join of the (small) cluster label table."""
    d = read_table(spark, sf_dir, "documents").select("doc_id")
    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    grp = d.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("group_key")
    )
    h = F.md5(F.col("group_key").cast("string").cast("binary"))
    return grp.select(
        "doc_id",
        "group_key",
        F.when(h < "3", "valid").otherwise("train").alias("split"),
    )


# --------------------------------------------------------------------------
# cross-modal profile: documents joined to their embedding vectors
# --------------------------------------------------------------------------
from skinnerdb_spark.operators.similarity import DIM  # noqa: E402

#: per-row squared L2 norm as DECIMAL(22,6): the zip_with products are exact
#: at (28,12) (float*float fits), the fold accumulator stays (30,12)
#: (below Spark's precision-38 rounding cliff), and the scale-6 recast keeps
#: the CROSS-ROW sum's scaled integer far under 2^53 so the final
#: decimal->double cast is bit-identical in both engines. The re-scale is an
#: EXPLICIT ROUND(x, 6) on both sides: DuckDB's decimal->decimal downscale
#: cast TRUNCATES where Spark's rounds (found by the hash gate); ROUND is
#: half-away-from-zero in both engines.
_NORM_SQ_DEC = (
    "CAST(ROUND(aggregate(zip_with(embedding, embedding, (x, y) -> "
    "CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))), "
    "CAST(0 AS DECIMAL(30,12)), (acc, v) -> CAST(acc + v AS DECIMAL(30,12)))"
    ", 6) AS DECIMAL(22,6))"
)

_ORACLE_NORM_SQ = (
    "(SELECT CAST(ROUND(SUM(CAST(CAST(embedding[i] AS DOUBLE) * "
    "CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))), 6) AS DECIMAL(22,6)) "
    f"FROM generate_series(1, {DIM}) AS g(i))"
)


@register(
    "docs_embedding_profile",
    f"""
    WITH joined AS (
      SELECT d.source, e.label,
             LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1 AS n_tokens,
             {_ORACLE_NORM_SQ} AS norm_sq
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      WHERE LENGTH(d.text) > 0)
    SELECT source, label,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(norm_sq) AS DOUBLE) / COUNT(*) AS mean_norm_sq
    FROM joined
    GROUP BY source, label
    """,
    tags=("pipeline", "multimodal", "similarity"),
)
def docs_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation profile: text stats joined to embedding-space
    stats per (source, label) — the table a curation run consults to spot
    sources whose embeddings collapse (low norm variance) or whose token
    budgets skew. The doc_id = vec_id join is the canonical text<->vector
    linkage; at scale both sides bucket on that id (sources/bucketing.py)
    so the join is shuffle-free. Norms are decimal-exact in-row folds
    (similarity.py's envelope); the per-group means are single exact-int /
    exact-decimal double divisions — hash-stable across engines."""
    d = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    e = read_table(spark, sf_dir, "embeddings")
    text = F.col("text")
    n_tokens = F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1
    joined = d.select(F.col("doc_id"), "source", n_tokens.alias("n_tokens")).join(
        e.select("vec_id", "label", F.expr(_NORM_SQ_DEC).alias("norm_sq")),
        F.col("doc_id") == F.col("vec_id"),
    )
    return joined.groupBy("source", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        (F.sum("norm_sq").cast("double") / F.count(F.lit(1))).alias("mean_norm_sq"),
    )


@register(
    "docs_snapshot_diff",
    """
    WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
    v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN md5(CONCAT(text, ' [rev2]'))
                    ELSE md5(text) END AS h
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, md5(CONCAT('new:', text)) AS h
        FROM documents WHERE doc_id % 13 = 0),
    d AS (
        SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM d GROUP BY status
    """,
    tags=("curation", "cdc", "diff"),
)
def docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions (the CDC table an
    incremental ingestion pipeline derives before merging): FULL OUTER
    JOIN on doc_id + content-hash compare classifies every document as
    added / removed / changed / unchanged. The second snapshot is
    simulated deterministically from the first (mod-rules for deletes /
    edits / inserts) so both engines derive identical inputs.

    Scale shape: one doc_id-keyed full outer join of hash projections
    (md5 computed map-side, text never shuffles — only (doc_id, hash)
    pairs move), then a 4-row aggregate. Bucketing both snapshots on
    doc_id elides the shuffle entirely, the same co-location contract as
    docs_merge_upsert — diff and merge are the two halves of incremental
    corpus refresh."""
    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5(F.col("text")).alias("h"))
    v2 = (
        docs.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit(" [rev2]")))
            ).otherwise(F.md5(F.col("text"))).alias("h"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5(F.concat(F.lit("new:"), F.col("text"))).alias("h"),
            )
        )
    )
    a, b = v1.alias("a"), v2.alias("b")
    d = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
    )


# --------------------------------------------------------------------------
# Temperature-scaled source mixing (r7): the standard multilingual /
# multi-source LLM training mix (alpha-smoothed sampling) — weight each
# source by size^alpha so small sources are up-sampled without letting the
# biggest source dominate. alpha is pinned to 0.5 because SQRT is
# IEEE-correctly-rounded in BOTH engines (POW is libm and is not) — the
# cross-engine-exact discipline every entry here follows; the weights are
# then rounded ONCE into int64 ppm space so every downstream ratio is pure
# integer arithmetic (no double sums whose order could differ).
# --------------------------------------------------------------------------

MIX_BUDGET = 10_000  # documents drawn in the planned mix


@register(
    "sample_temperature_mix",
    f"""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY source),
    w AS (
        SELECT source, n_docs, n_chars,
               CAST(ROUND(SQRT(CAST(n_chars AS DOUBLE)) * 1000000, 0)
                    AS BIGINT) AS sqrt_weight
        FROM per),
    t AS (SELECT CAST(SUM(sqrt_weight) AS BIGINT) AS tw FROM w)
    SELECT source, n_docs, n_chars, sqrt_weight,
           CAST(1000000 * sqrt_weight // tw AS BIGINT) AS mix_ppm,
           CAST({MIX_BUDGET} * sqrt_weight // tw AS BIGINT) AS expected_draws
    FROM w, t
    ORDER BY source
    """,
    tags=("pipeline", "sampling"),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planned per-source draw counts for a temperature-mixed sample of
    MIX_BUDGET documents: weight_i = sqrt(chars_i), share_i = w_i / sum(w).

    Exactness: sqrt is correctly rounded (IEEE) in both engines, rounded
    once into int64 ppm; the shares and draw counts are then integer
    floor-divisions — no double accumulation anywhere, so the whole mix
    plan is hash-exact. Scale shape: one map-side-combinable aggregate over
    the corpus + a broadcast 1-row total; at 100 TB the per-source char
    sums come straight off parquet statistics-sized scans of two columns.
    (At extreme source sizes > ~8.5e9 chars the e6-scaled weight still fits
    int64 up to ~9e12 larger; re-scale ppm -> ppb before that point.)"""
    d = read_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    w = per.withColumn(
        "sqrt_weight",
        F.round(F.sqrt(F.col("n_chars").cast("double")) * 1000000, 0).cast("bigint"),
    )
    tot = w.agg(F.sum("sqrt_weight").cast("bigint").alias("tw"))
    return (
        w.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            "sqrt_weight",
            F.expr("CAST(1000000 * sqrt_weight div tw AS BIGINT)").alias("mix_ppm"),
            F.expr(f"CAST({MIX_BUDGET} * sqrt_weight div tw AS BIGINT)").alias(
                "expected_draws"
            ),
        )
        .orderBy("source")
    )


N_SHARDS = 8  # training shards in the striping manifest


@register(
    "sample_shard_manifest",
    f"""
    WITH d AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                    % {N_SHARDS} AS BIGINT) AS shard,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    s AS (
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
               CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
        FROM d GROUP BY shard)
    SELECT shard, n_docs, shard_tokens, doc_id_sum,
           CAST(shard_tokens * 1000000 // SUM(shard_tokens) OVER () AS BIGINT)
               AS token_share_ppm
    FROM s
    """,
    tags=("sampling", "pipeline", "sharding"),
)
def sample_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard striping manifest: every document is assigned to one
    of {N_SHARDS} shards by an md5 hash bucket of its id — the
    deterministic, DISTRIBUTED shard assignment (each row's shard is a
    map-side expression; a global row_number permutation would serialize
    the corpus through one partition, the scale trap ranked_topk exists to
    avoid). The manifest reports per shard: document count, token count,
    a doc_id checksum (re-ingest drift detection), and the integer-ppm
    token share — the balance audit a training run reads before assigning
    shards to data-loader workers.

    Hash striping balances shards in expectation without any coordination;
    the ppm column is what flags pathological imbalance. Exactness: md5
    hex prefixes -> int64 (the docs_dsir_weights recipe, identical in both
    engines), all outputs integers (the share is floor integer division —
    DuckDB `//` == Spark `DIV`). One corpus scan, one {N_SHARDS}-key
    groupBy; the total is a 1-row aggregate broadcast back (the
    sample_temperature_mix idiom) rather than a `SUM() OVER ()` — the
    window was bounded by construction ({N_SHARDS} rows) but fired
    `WindowExec: No Partition Defined` warnings every bench run (VERDICT
    r8 item 4), and the warning channel must stay clean so a REAL
    unpartitioned window can never hide in the noise."""
    d = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 6),
                    16,
                    10,
                ).cast("bigint")
                % N_SHARDS
            ).alias("shard"),
            F.expr("size(filter(split(text, ' '), x -> x != ''))")
            .cast("bigint")
            .alias("n_tokens"),
        )
    )
    s = d.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
    )
    tot = s.agg(F.sum("shard_tokens").cast("bigint").alias("total_tokens"))
    return s.join(F.broadcast(tot)).select(
        "shard", "n_docs", "shard_tokens", "doc_id_sum",
        F.expr("CAST(shard_tokens * 1000000 DIV total_tokens AS BIGINT)").alias(
            "token_share_ppm"
        ),
    )


# --------------------------------------------------------------------------
# systematic PPS sampling via the two-level distributed prefix sum (r9)
# --------------------------------------------------------------------------
PPS_DRAWS = 64        # sampling strata: one pick per total_chars/K stride
PPS_BUCKET = 4096     # doc_ids per prefix-sum bucket (tune so n_buckets
                      # stays collect-safe: 1e9 docs -> ~244k buckets; raise
                      # the bucket size with the corpus, never the collect)


@register(
    "sample_systematic_pps",
    f"""
    WITH w AS (
        SELECT doc_id, source,
               CAST(n_chars AS BIGINT) AS w
        FROM documents),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM w),
    c AS (
        SELECT doc_id, source, w,
               CAST(SUM(w) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM w)
    SELECT c.doc_id, c.source, c.w,
           CAST(c.cum // (tot.total // {PPS_DRAWS})
                - (c.cum - c.w) // (tot.total // {PPS_DRAWS})
                AS BIGINT) AS n_picks
    FROM c CROSS JOIN tot
    WHERE c.cum // (tot.total // {PPS_DRAWS})
          > (c.cum - c.w) // (tot.total // {PPS_DRAWS})
    ORDER BY doc_id
    """,
    tags=("sampling", "pipeline", "pps"),
)
def sample_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: walk the
    corpus in doc_id order accumulating character weight; every time the
    cumulative weight crosses a multiple of total/{PPS_DRAWS}, the crossing
    document is drawn (a document heavier than the stride is drawn once
    per stratum it spans — n_picks reports it). Classic PPS systematic
    sampling, fully deterministic, all-integer (stride = total DIV K, picks
    = floor-division crossings), so the draw set is hash-exact.

    The scale part is the GLOBAL cumulative sum, which a naive plan does
    with an unpartitioned window (one reducer sees the corpus — the trap
    sample_shard_manifest exists to avoid). Here it is the standard
    TWO-LEVEL PREFIX SUM: (1) per-bucket weight totals (one groupBy on
    doc_id DIV {PPS_BUCKET}); (2) bucket offsets = exclusive prefix sum
    over the BUCKET frame — collected to the driver, n_buckets rows,
    BOUNDED BY CONSTRUCTION (corpus/{PPS_BUCKET}; size the bucket with the
    corpus) and computed in plain Python; (3) one window PARTITIONED BY
    bucket adds the in-bucket running sum to the broadcast offset. No
    global window anywhere; every stage is either map-side, a bounded
    aggregate, or a partitioned window. The oracle uses the naive global
    window — feasible at test scale, which is exactly why the distributed
    path exists."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("w")
    )
    d = d.withColumn("bucket", F.expr(f"doc_id DIV {PPS_BUCKET}"))
    bucket_tot = (
        d.groupBy("bucket").agg(F.sum("w").cast("bigint").alias("bw"))
        .orderBy("bucket")
        .collect()
    )  # bounded: one row per PPS_BUCKET-wide doc_id range
    offsets, running = [], 0
    for r in bucket_tot:
        offsets.append((r["bucket"], running))
        running += r["bw"]
    total = running
    step = total // PPS_DRAWS
    off = spark.createDataFrame(offsets, "bucket long, offset long")
    win = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = (
        d.join(F.broadcast(off), "bucket")
        .withColumn("cum", (F.sum("w").over(win) + F.col("offset")).cast("bigint"))
    )
    return (
        c.filter(F.expr(f"cum DIV {step} > (cum - w) DIV {step}"))
        .select(
            "doc_id",
            "source",
            "w",
            # crossing count stays in NONNEGATIVE integer space on both
            # sides: Spark DIV truncates toward zero while DuckDB // floors,
            # so a formula that can reach -1 (e.g. cum-w-1 on the first doc)
            # silently diverges between engines
            F.expr(f"cum DIV {step} - (cum - w) DIV {step}")
            .cast("bigint")
            .alias("n_picks"),
        )
        .orderBy("doc_id")
    )
