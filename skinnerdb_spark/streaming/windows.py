"""Event-time analytics over the events table + Structured Streaming wrappers.

The reference has ZERO streaming capability (SURVEY §2.9) — this whole module
is extension tier. Strategy: every windowed computation is defined once as
batch column algebra (oracle-verifiable vs DuckDB), and the streaming entry
points apply the *same* transformation to a ``readStream`` source with a
watermark — Structured Streaming's unified batch/stream semantics make the
batch oracle meaningful for the stream path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skinnerdb_spark.functions.exact import DS, dsum
from skinnerdb_spark.operators.textprims import MD5_INT, md5_int
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register

SESSION_GAP_MIN = 30


@register(
    "ev_tumbling_hour",
    f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, {DS('value')} AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
    tags=("events", "window", "streaming"),
)
def ev_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (batch form; stream form below uses
    the same grouping with a watermark)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
    )


@register(
    "ev_sliding_2h",
    f"""
    WITH expanded AS (
        SELECT date_trunc('hour', ts) - INTERVAL (h.h) HOUR AS window_start,
               event_type, value
        FROM events, generate_series(0, 1) AS h(h))
    SELECT window_start, event_type,
           COUNT(*) AS n_events, {DS('value')} AS total_value
    FROM expanded
    GROUP BY window_start, event_type
    """,
    tags=("events", "window", "streaming"),
)
def ev_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 2-hour windows advancing every hour — each event lands
    in exactly two windows. Spark's window() handles the expansion natively;
    the oracle expands via an offset unnest."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "ev_sessionization",
    f"""
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts > LAG(ts) OVER w + INTERVAL {SESSION_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end,
           {DS('value')} AS session_value
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("events", "session", "streaming"),
)
def ev_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the batch twin of a session_window/applyInPandasWithState stream op.
    Timestamps are unique per user in the test data, so ordering is total."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap = F.when(
        F.col("ts") > F.lag("ts").over(w) + F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTE"), 1
    ).otherwise(0)
    sess = e.withColumn("new_session", gap).withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("bigint")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum(F.col("value")).alias("session_value"),
    )


@register(
    "ev_session_window_native",
    f"""
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts >= LAG(ts) OVER w + INTERVAL {SESSION_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
           COUNT(*) AS n_events, {DS('value')} AS session_value
    FROM sess GROUP BY user_id, sid
    """,
    tags=("events", "session", "streaming"),
)
def ev_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` operator (the one that also runs in
    Structured Streaming with session-state merge) — vs ``ev_sessionization``
    which builds the same sessions manually from lag + running sum. The
    oracle pins the native operator's exact merge rule, which differs from
    the manual entry at one boundary: ``session_window`` merges on window
    OVERLAP, so an event arriving exactly gap minutes after its predecessor
    starts a NEW session (``ts >= prev + gap``), while the manual rule keeps
    it (``ts > prev + gap``). ``window.end`` is ``last_ts + gap`` (the
    watermark-expiry instant), not ``max(ts)`` — both divergences are
    deliberately encoded in the oracle so the two entries document the two
    session definitions side by side.

    Scale shape: one shuffle on the grouping key; within partitions Spark
    sorts and merges adjacent overlapping windows (UpdatingSessionsExec) —
    the same plan the streaming version uses per micro-batch."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "ev_rollup_merge",
    f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, {DS('value')} AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
    tags=("events", "rollup", "streaming"),
)
def ev_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: closed hours come from a
    pre-aggregated rollup (partial counts/sums), the open tail from raw
    events; merging partials re-aggregates losslessly. The oracle is the
    DIRECT full aggregation — proving rollup+tail merge is semantics-
    preserving is the point of the query.

    At 100 TB the rollup table is persisted incrementally by the streaming
    job and queries touch raw data only for the unclosed window."""
    e = read_table(spark, sf_dir, "events")
    boundary = F.expr("TIMESTAMP_NTZ '2024-01-25 00:00:00'")
    hour = F.date_trunc("hour", "ts").alias("window_start")
    partial = lambda df: df.groupBy(hour, "event_type").agg(  # noqa: E731
        F.count(F.lit(1)).alias("pc"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("ps"),
    )
    rollup = partial(e.filter(F.col("ts") < boundary))  # the precomputed part
    tail = partial(e.filter(F.col("ts") >= boundary))  # the live tail
    return (
        rollup.unionByName(tail)
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("pc").cast("bigint").alias("n_events"),
            F.sum("ps").cast("double").alias("total_value"),
        )
    )


@register(
    "ev_user_activity",
    f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases,
           {DS("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")} AS purchase_value
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) > 10
    """,
    tags=("events", "agg"),
)
def ev_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(is_p, 1).otherwise(0)).cast("bigint").alias("n_purchases"),
            dsum(F.when(is_p, F.col("value")).otherwise(F.lit(0.0))).alias("purchase_value"),
        )
        .filter(F.col("n_events") > 10)
    )


@register(
    "ev_stream_dedup",
    """
    WITH ranked AS (
        SELECT user_id, event_type, ts, event_id, value,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY user_id, event_type) AS BIGINT)
                 AS n_total
        FROM events)
    SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id,
           value AS first_value, n_total - 1 AS n_dupes
    FROM ranked WHERE rn = 1
    """,
    tags=("events", "dedup", "streaming"),
)
def ev_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of watermarked streaming deduplication
    (``dropDuplicates`` on (user_id, event_type) — see
    :func:`stream_dedup`): the deterministic form keeps the EARLIEST event
    per key (event-time order, event_id tiebreak) and reports how many
    duplicates the stream would have suppressed. One shuffle on the dedup
    key; at stream scale the state store holds one row per live key inside
    the watermark horizon."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id", "event_type")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("n_total", F.count(F.lit(1)).over(wall).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
            F.col("value").alias("first_value"),
            (F.col("n_total") - 1).alias("n_dupes"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "ev_attribution_join",
    """
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'),
    purch AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'),
    pairs AS (
        SELECT p.user_id, p.purchase_id, p.purchase_ts, c.click_id, c.click_ts,
               ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
        FROM purch p JOIN clicks c
          ON c.user_id = p.user_id
         AND c.click_ts < p.purchase_ts
         AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE)
    SELECT user_id, purchase_id, purchase_ts,
           click_id AS attributed_click_id, click_ts AS attributed_click_ts,
           CAST(date_diff('microsecond', click_ts, purchase_ts) // 1000000
                AS BIGINT) AS gap_seconds
    FROM pairs WHERE rn = 1
    """,
    tags=("events", "join", "streaming"),
)
def ev_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, the most recent click by
    the same user within the preceding 30 minutes — the batch twin of
    :func:`stream_stream_join` (same equi-key + event-time-range condition
    that bounds stream-state there) plus a per-purchase top-1.

    Shape at scale: ONE equi-join shuffle on user_id with the range
    predicate evaluated inside the sort-merge (never a cartesian), then a
    per-purchase window for the top-1. Candidate fan-out is bounded by the
    30-minute window, the same bound that keeps streaming state finite."""
    e = read_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    pairs = purch.join(
        clicks,
        ["user_id"],
    ).filter(
        (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.desc("click_ts"), F.desc("click_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "purchase_id",
            "purchase_ts",
            F.col("click_id").alias("attributed_click_id"),
            F.col("click_ts").alias("attributed_click_ts"),
            # exact micro diff floored to seconds (gaps are positive, so
            # truncating div == floor); DuckDB's date_diff('second') counts
            # BOUNDARY crossings, which differs on sub-second parts
            F.expr("timestampdiff(MICROSECOND, click_ts, purchase_ts) div 1000000")
            .cast("bigint")
            .alias("gap_seconds"),
        )
    )


# real Structured Streaming entry points (no oracle — stream semantics; the
# batch twins above are the value-verified forms)
# --------------------------------------------------------------------------
def stream_dedup(spark: SparkSession, src_dir: str) -> DataFrame:
    """Watermarked streaming deduplication: at-most-one emitted row per
    (user_id, event_type) among events inside the watermark horizon —
    Structured Streaming's dropDuplicatesWithinWatermark-style state-bounded
    dedup (state evicts as the watermark advances). The value-verified batch
    twin is :func:`ev_stream_dedup`."""
    return stream_events(spark, src_dir).dropDuplicates(
        ["user_id", "event_type"]
    )


def stream_events(spark: SparkSession, src_dir: str) -> DataFrame:
    """readStream over the events parquet directory with a one-hour
    event-time watermark — the late-data bound a production pipeline would
    set."""
    import os

    # defensive: callers may pass a session built outside session.py. Pin the
    # session timezone too (matching session.py): the NTZ->timestamp cast
    # below is timezone-dependent, and in a DST-observing zone it is
    # non-linear across transitions, which would distort watermark eviction
    # and stream-stream join interval bounds. NOTE this pin is deliberately
    # session-wide and persistent — the engine's whole correctness contract
    # (oracle comparisons, NTZ semantics) assumes a UTC session, exactly as
    # session.py establishes; a caller needing a display timezone should set
    # it per-expression (from_utc_timestamp), not on the session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(src_dir).schema
    reader = spark.readStream.schema(schema)
    if os.path.isfile(src_dir):
        # the streaming file source requires a directory; point at the parent
        # and glob-filter to the single file
        reader = reader.option("pathGlobFilter", os.path.basename(src_dir))
        src_dir = os.path.dirname(src_dir)
    stream = reader.parquet(src_dir)
    # nanosAsLong surfaces TIMESTAMP(NANOS) as bigint; truncate to micros.
    # Watermarks require TIMESTAMP (tz-aware), not NTZ — under the UTC session
    # the wall-clock values match the batch path's TIMESTAMP_NTZ.
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream.withWatermark("ts", "1 hour")


def stream_tumbling_counts(events: DataFrame) -> DataFrame:
    """Streaming one-hour tumbling-window counts (append-able once the
    watermark passes). Same aggregation as ev_tumbling_hour."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def stream_session_counts(events: DataFrame) -> DataFrame:
    """Streaming NATIVE session windows (gap = SESSION_GAP_MIN): the same
    ``session_window`` plan as :func:`ev_session_window_native`, executed
    per micro-batch with session-state merge — adjacent micro-batches'
    partial sessions for a key are merged in the state store until the
    watermark closes them. Complete-mode drain equals the batch twin
    exactly; append mode emits only sessions the watermark has CLOSED
    (sessions still inside the final watermark horizon are withheld) —
    both pinned in tests."""
    return (
        events.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: running per-user event counts via
    applyInPandasWithState (Arrow-batched, partition-distributed state).

    The template for any custom stateful op the built-in aggregations can't
    express — state is a per-key tuple persisted in the state store, updated
    per micro-batch.

    Spark 4's successor API (``transformWithStateInPandas`` +
    ``StatefulProcessor``, RocksDB-backed typed state) was evaluated as the
    upgrade path: its driver worker imports ``google.protobuf``, which this
    container lacks (no package installs), so the processor crashes at
    schema pre-init. The applyInPandasWithState form below is the covered,
    tested path; swapping to a StatefulProcessor is mechanical where
    protobuf exists.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        count = state.get[0] if state.exists else 0
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_rate_limit(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator #3: a per-(user, hour) rate
    limiter — emit at most ``k`` events per key, drop the rest — via
    applyInPandasWithState. State = one counter per (user, hour) key,
    persisted across micro-batches so a key that reached its cap in batch 1
    stays capped in batch 7. The batch twin is the registered
    ``ev_rate_limit`` entry.

    Selection contract: the stream emits the FIRST k arrivals per key
    (sorted (ts, event_id) within each micro-batch — deterministic under
    availableNow replay), which is what a real throttle does; the batch twin
    instead keeps a uniform md5-rank sample, which a retrospective job can
    afford because it sees all candidates at once. Both keep exactly
    min(k, |key|) events per key — the property the component test pins
    against the batch side."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = events.withColumn("hour_ts", F.date_trunc("hour", "ts"))
    return keyed.groupBy("user_id", "hour_ts").applyInPandasWithState(
        _rate_limit_update,
        outputStructType="user_id long, hour_ts timestamp, event_id long, rn long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: test seam: overrides the cap imported from operators.quality when set
_RATE_LIMIT_K_OVERRIDE: int | None = None


def _rate_limit_update(key, pdfs, state):
    """Per-group update of :func:`stream_rate_limit` — module-level so the
    cap arithmetic is unit-testable without the streaming runtime."""
    import pandas as pd

    if _RATE_LIMIT_K_OVERRIDE is not None:
        k = _RATE_LIMIT_K_OVERRIDE
    else:
        from skinnerdb_spark.operators.quality import RATE_LIMIT_K as k
    n = state.get[0] if state.exists else 0
    kept_ids: list[int] = []
    kept_rn: list[int] = []
    # applyInPandasWithState may split one key's micro-batch across several
    # chunks; sorting per chunk would make "first k arrivals" depend on
    # chunk boundaries (ADVICE r7). Per-(user, hour) groups are small, so
    # materializing the group for a global (ts, event_id) sort is safe.
    chunks = [p for p in pdfs if len(p)]
    if chunks and n < k:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for eid in pdf["event_id"]:
            if n >= k:
                break
            n += 1
            kept_ids.append(int(eid))
            kept_rn.append(n)
    state.update((n,))
    yield pd.DataFrame(
        {
            "user_id": pd.Series([key[0]] * len(kept_ids), dtype="int64"),
            "hour_ts": pd.Series([key[1]] * len(kept_ids), dtype="datetime64[us]"),
            "event_id": pd.Series(kept_ids, dtype="int64"),
            "rn": pd.Series(kept_rn, dtype="int64"),
        }
    )


def stream_enriched(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: the static dimension broadcasts into
    every micro-batch (no state, no watermark needed on the static side) —
    the standard pattern for joining a 100 TB event stream against reference
    data."""
    return events.join(F.broadcast(dim), on)


def stream_stream_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Watermarked stream-stream inner join on user_id with an event-time
    range bound (the right event within 30 minutes after the left) — the
    stateful two-stream operator (both sides buffer in the state store;
    the time-range condition + watermarks bound how long). Inner-join
    matches emit as soon as both sides arrive; state for rows older than
    watermark + range is evicted. At 100 TB/day stream rates this bound is
    what keeps the join's state finite."""
    l = left.select(
        F.col("user_id"), F.col("ts").alias("l_ts"), F.col("event_type").alias("l_type")
    )
    r = right.select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
    )
    return l.join(
        r,
        (F.col("user_id") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes")),
    ).select("user_id", "l_ts", "l_type", "r_ts", "r_type")


def run_stream_once(
    stream_df: DataFrame, query_name: str = "skinner_stream", output_mode: str = "complete"
) -> list:
    """Drain all currently-available input through the streaming query
    (trigger availableNow) into an in-memory sink; returns collected rows.
    Used by tests to verify the streaming path end-to-end."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = stream_df.sparkSession
    return spark.sql(f"SELECT * FROM {query_name}").collect()


def stream_incremental_rollup(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
) -> None:
    """Incrementally persisted streaming rollup via ``foreachBatch`` — the
    production shape of :func:`ev_rollup_merge`: each micro-batch's updated
    (window, event_type) counts dynamically overwrite EXACTLY their own
    partitions of a parquet rollup table, so the table is always the full
    rollup-to-date and replays are idempotent (same batch -> same
    partitions -> same bytes).

    The partition unit equals the aggregation key ((hour, event_type)):
    update-mode batches contain only the keys that changed, and dynamic
    partition overwrite must replace no more than what the batch fully
    re-states — partitioning coarser (hour only) would drop sibling
    event_types the batch didn't touch. At 100 TB/day this is the standard
    continuous-ingest pattern: bounded state (watermark), bounded writes
    (touched partitions only), exactly-once via checkpoint + idempotent
    sink."""
    agg = stream_tumbling_counts(stream_events(spark, src_dir))

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "hour_key", F.date_format("window_start", "yyyy-MM-dd-HH")
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("hour_key", "event_type")
            .parquet(out_path)
        )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@register(
    "ev_value_histogram",
    """
    WITH b AS (
        SELECT LEAST(GREATEST(CAST(FLOOR(value / 25.0) AS BIGINT), 0), 19)
                 AS bucket
        FROM events),
    counts AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM b GROUP BY bucket)
    SELECT bucket, bucket * 25.0 AS lo, (bucket + 1) * 25.0 AS hi, n_events,
           CAST(n_events AS DOUBLE) / SUM(n_events) OVER () AS frac
    FROM counts
    """,
    tags=("events", "agg", "histogram"),
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width histogram of event values (20 buckets of 25 over
    [0, 500), edges clamped): one map-side bucket projection + one tiny
    aggregation — the profiling primitive behind range-partition planning
    and skew detection. floor-of-division bucketing is identical IEEE
    arithmetic in both engines; frac is one exact-int double division per
    bucket (the window total is a 20-row frame, not a corpus shuffle)."""
    e = read_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 25.0).cast("bigint"), F.lit(0)),
        F.lit(19),
    )
    counts = (
        e.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    # broadcast scalar-total join instead of an unpartitioned window
    total = counts.agg(F.sum("n_events").alias("__tot"))
    return counts.join(F.broadcast(total)).select(
        "bucket",
        (F.col("bucket") * 25.0).alias("lo"),
        ((F.col("bucket") + 1) * 25.0).alias("hi"),
        "n_events",
        (F.col("n_events").cast("double") / F.col("__tot").cast("double")).alias("frac"),
    )


def stream_transition_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator #2: per-user event-type TRANSITION
    counts (the streaming twin of ev_event_transitions' bigram stage) via
    applyInPandasWithState. State = (last event time, last event type) per
    user, persisted across micro-batches, so a transition spanning two
    batches is still counted.

    Ordering contract: rows are sorted by (ts, event_id) WITHIN each
    micro-batch; an arrival older than the persisted last-event time is
    out-of-order ACROSS batches and is dropped and counted in the
    `n_late_dropped` column — the same late-data honesty as a watermark
    (silently mis-ordering the chain would corrupt every downstream
    transition probability). State is 2 small scalars per user — bounded by
    |users|, not stream length."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _transition_update,
        outputStructType=(
            "user_id long, prev_type string, next_type string, n long, "
            "n_late_dropped long"
        ),
        stateStructType="last_us long, last_type string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _transition_update(key, pdfs, state):
    """Per-group update function of :func:`stream_transition_counts` —
    module-level so the only-late-rows batch contract is unit-testable
    without the stateful-streaming runtime (``state`` needs just
    ``.exists`` / ``.get`` / ``.update``)."""
    import collections

    import pandas as pd

    last_us, last_type = state.get if state.exists else (None, None)
    counts: collections.Counter = collections.Counter()
    late = 0
    # same chunk-boundary hazard as _rate_limit_update (ADVICE r7): one
    # key's micro-batch may arrive split across chunks — concatenate before
    # sorting so late-row classification follows the global (ts, event_id)
    # order, not chunk boundaries
    chunks = [p for p in pdfs if len(p)]
    for pdf in ([pd.concat(chunks, ignore_index=True)] if chunks else []):
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, etype in zip(pdf["ts"], pdf["event_type"]):
            us = int(pd.Timestamp(ts).value // 1000)
            if last_us is not None and us < last_us:
                late += 1
                continue
            if last_type is not None:
                counts[(last_type, etype)] += 1
            last_us, last_type = us, etype
    state.update((last_us if last_us is not None else 0, last_type or ""))
    out = pd.DataFrame(
        {
            "user_id": key[0],
            "prev_type": [p for p, _ in counts],
            "next_type": [n for _, n in counts],
            "n": [int(v) for v in counts.values()],
            "n_late_dropped": late,
        }
    )
    if out.empty and late > 0:
        # a batch of ONLY late rows still owes the late-data count:
        # emit one transition-less row (null prev/next, n=0) carrying it
        out = pd.DataFrame(
            {
                "user_id": pd.Series([key[0]], dtype="int64"),
                "prev_type": pd.Series([None], dtype="object"),
                "next_type": pd.Series([None], dtype="object"),
                "n": pd.Series([0], dtype="int64"),
                "n_late_dropped": pd.Series([late], dtype="int64"),
            }
        )
    elif out.empty:
        out = pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "prev_type": pd.Series([], dtype="object"),
                "next_type": pd.Series([], dtype="object"),
                "n": pd.Series([], dtype="int64"),
                "n_late_dropped": pd.Series([], dtype="int64"),
            }
        )
    yield out


# ---------------------------------------------------------------------------
# Custom stateful streaming operator #3: sharded Misra-Gries heavy hitters.
# ---------------------------------------------------------------------------

MG_K = 8
MG_SHARDS = 4
#: default item: event type x coarse value band — enough cardinality that the
#: decrement step actually fires at test scale
MG_ITEM_EXPR = "concat(event_type, ':', CAST(CAST(FLOOR(value / 25) AS INT) AS STRING))"


def mg_shard_col(shards: int = MG_SHARDS) -> F.Column:
    """Shard id from the item string via the engine's PORTABLE md5->int
    idiom (engine-native hash() functions differ across engines — see
    textprims.py): first 8 md5 hex digits mod ``shards``. Shared by the
    stream sketch and its exact batch twin ev_heavy_hitters so their shard
    spaces line up."""
    return (F.expr(md5_int("item", 8)) % shards).cast("long").alias("shard")


def stream_heavy_hitters(events: DataFrame) -> DataFrame:
    """Heavy hitters over an unbounded stream in BOUNDED state: each of
    MG_SHARDS hash shards maintains a Misra-Gries summary of MG_K counters
    via applyInPandasWithState, persisted across micro-batches. An item maps
    to exactly ONE shard, so draining the shards is a union (no cross-shard
    merge error), and the classic deterministic guarantee holds per item:

        true - n_shard/(k+1)  <=  estimate  <=  true

    i.e. every item with frequency above its shard's n/(k+1) is GUARANTEED
    present — no randomization, no sketch collisions (contrast
    approx_distinct_sketch's HLL, which trades that guarantee for fixed
    size). State is k (item, count) pairs + one total per shard — bounded by
    MG_K*MG_SHARDS regardless of stream length or item cardinality; this is how a
    100 TB/day stream tracks its top keys without a corpus-sized groupBy.

    Reference analogue: none (the reference has no streaming); extends the
    engine's streaming tier (SURVEY §2.9 extension)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = events.filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(F.expr(MG_ITEM_EXPR).alias("item")).withColumn(
        "shard", mg_shard_col(MG_SHARDS)
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _mg_update,
        outputStructType="shard long, item string, est long, n_shard long",
        stateStructType="items array<string>, counts array<long>, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _mg_update(key, pdfs, state, k=MG_K):
    """Per-shard Misra-Gries update — module-level with a plain ``state``
    protocol (.exists/.get/.update) so the algorithm is unit-testable
    without the stateful-streaming runtime, like _transition_update."""
    import pandas as pd

    if state.exists:
        items, counts, n = state.get
        sketch = {i: int(c) for i, c in zip(list(items), list(counts))}
        n = int(n)
    else:
        sketch, n = {}, 0
    for pdf in pdfs:
        for it in pdf["item"]:
            n += 1
            if it in sketch:
                sketch[it] += 1
            elif len(sketch) < k:
                sketch[it] = 1
            else:
                # the decrement-all step; counters hitting zero free a slot
                sketch = {x: c - 1 for x, c in sketch.items() if c > 1}
    state.update((list(sketch.keys()), [int(v) for v in sketch.values()], n))
    if sketch:
        out = pd.DataFrame(
            {
                "shard": pd.Series([int(key[0])] * len(sketch), dtype="int64"),
                "item": pd.Series(list(sketch.keys()), dtype="object"),
                "est": pd.Series([int(v) for v in sketch.values()], dtype="int64"),
                "n_shard": pd.Series([n] * len(sketch), dtype="int64"),
            }
        )
    else:
        out = pd.DataFrame(
            {
                "shard": pd.Series([], dtype="int64"),
                "item": pd.Series([], dtype="object"),
                "est": pd.Series([], dtype="int64"),
                "n_shard": pd.Series([], dtype="int64"),
            }
        )
    yield out


_HH_ITEM_SQL = (
    "concat(event_type, ':', CAST(CAST(FLOOR(value / 25) AS INT) AS VARCHAR))"
)

_HH_ORACLE = f"""
    WITH items AS (
        SELECT {_HH_ITEM_SQL} AS item
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL),
    sharded AS (
        SELECT CAST({MD5_INT("item", 8)} % {MG_SHARDS} AS BIGINT) AS shard, item
        FROM items),
    counts AS (
        SELECT shard, item, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM sharded GROUP BY shard, item)
    SELECT shard, item, cnt, rnk FROM (
        SELECT shard, item, cnt,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard
                    ORDER BY cnt DESC, item) AS BIGINT) AS rnk
        FROM counts)
    WHERE rnk <= {MG_K}
"""


@register(
    "ev_heavy_hitters",
    _HH_ORACLE,
    tags=("events", "streaming", "sketch"),
)
def ev_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-shard heavy hitters — the BATCH TWIN of the
    :func:`stream_heavy_hitters` Misra-Gries sketch (same item expression,
    same portable md5 shard space): top-{MG_K} items per shard by exact
    count. The sketch's deterministic contract vs this table — never
    overestimates, error <= n_shard/(k+1), every item above that bound
    present — is asserted in tests/test_components.py.

    Plan: one (shard, item)-keyed aggregate with map-side combine, then a
    rank window PARTITIONED by shard (bounded partitions — not the global
    window this repo bans). At stream scale the sketch replaces exactly
    this corpus-sized aggregate with k*shards counters of state."""
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    counts = (
        e.select(F.expr(MG_ITEM_EXPR).alias("item"))
        .withColumn("shard", mg_shard_col(MG_SHARDS))
        .groupBy("shard", "item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("item"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= MG_K)
        .select("shard", "item", "cnt", "rnk")
    )


#: the state column holding the ``batch_id`` whose rows the state includes
APPLIED_BATCH = "applied_batch_id"


def _state_monitor(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    monitor_path: str,
    checkpoint: str,
    delta: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    report: Callable[[DataFrame], DataFrame],
) -> None:
    """The ``foreachBatch`` loop behind the four streaming state monitors
    below. A monitor keeps a compact STATE table whose size is bounded by a
    key domain (users, days, sketch slots), not by event volume, so the
    stream can run forever; per micro-batch it writes MONITOR rows recomputed
    from the whole state. It supplies three frame functions:

    - ``delta(batch)``: the batch's state rows, through its batch twin's
      kernel;
    - ``merge(rows)``: the new state from the stored state rows unioned with
      the delta (the delta alone on the first batch) — an associative fold,
      so micro-batch boundaries cannot change the state;
    - ``report(state)``: the monitor rows of the merged state.

    Idempotence contract, the exactly-once recipe of Structured Streaming
    (replayable source + checkpointed offsets + idempotent sink):

    - the merged state is materialized ONCE per micro-batch by an eager
      ``localCheckpoint``, which also cuts the read of ``state_path`` out of
      its lineage: the state overwrite below would otherwise truncate its
      own input mid-job;
    - monitor rows are partitioned by ``batch_id`` and written with dynamic
      partition overwrite, so a replayed batch rewrites ITS rows instead of
      appending duplicates;
    - the state overwrite restates the full frame and, in the same write,
      the batch's id (column :data:`APPLIED_BATCH`); a batch at or below it
      is skipped, since after a crash before the offset commit Structured
      Streaming re-runs the batch under its id and a summed state would
      count it twice. A state path therefore belongs to one checkpoint."""
    import os

    def step(batch_df: DataFrame, batch_id: int) -> None:
        rows = delta(batch_df)
        if os.path.isdir(state_path):
            stored = spark.read.parquet(state_path)
            applied = stored.select(APPLIED_BATCH).first()
            if applied is not None and batch_id <= applied[0]:
                return
            rows = stored.drop(APPLIED_BATCH).unionByName(rows)
        state = merge(rows).localCheckpoint(eager=True)
        (
            report(state)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(monitor_path)
        )
        state.withColumn(APPLIED_BATCH, F.lit(batch_id)).write.mode("overwrite").parquet(state_path)

    (
        stream_events(spark, src_dir)
        .writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_ab_monitor(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    monitor_path: str,
    checkpoint: str,
) -> None:
    """Continuous A/B experiment monitor, the streaming twin of
    operators/stattests.py::stats_ab_ztest. State: one row per user ever
    seen with the cumulative purchase value in exact DECIMAL (bounded by
    |users|). Per micro-batch the batch's per-user sums are added in, and
    the four test integers and z are recomputed from the WHOLE state by the
    batch entry's ``ab_ztest_from_conv``: one monitor row per batch.
    Decimal addition is associative, so micro-batch boundaries cannot move
    a boundary user across the threshold, and after a full drain the last
    row is bit-identical to the batch entry (pinned in tests). Per-batch
    loop and idempotence: :func:`_state_monitor`."""
    from skinnerdb_spark.operators.stattests import (
        AB_CONV_THRESHOLD,
        ab_ztest_from_conv,
    )

    def delta(batch: DataFrame) -> DataFrame:
        purchase = F.when(
            F.col("event_type") == "purchase", F.col("value").cast("decimal(30,6)")
        )
        return batch.groupBy("user_id").agg(F.sum(purchase).alias("s"))

    def merge(rows: DataFrame) -> DataFrame:
        return rows.groupBy("user_id").agg(F.sum("s").alias("s"))

    def report(state: DataFrame) -> DataFrame:
        converted = F.coalesce(F.col("s") > F.lit(float(AB_CONV_THRESHOLD)), F.lit(False))
        return ab_ztest_from_conv(
            state.select(
                (F.col("user_id") % 2).alias("variant"),
                F.when(converted, 1).otherwise(0).alias("c"),
            )
        )

    _state_monitor(
        spark, src_dir, state_path, monitor_path, checkpoint, delta, merge, report
    )


def stream_cusum_monitor(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    monitor_path: str,
    checkpoint: str,
) -> None:
    """Continuous ingest-rate drift monitor, the streaming twin of
    operators/stattests.py::ev_cusum_drift. State: one event count per DAY
    ever seen (bounded by the date domain). Per micro-batch the batch's
    daily counts are added in (exact integers, so batch boundaries cannot
    change a daily total) and the WHOLE series is recomputed by the batch
    entry's ``cusum_series`` fold: one monitor row (n_days, total, alarms,
    maxima) per batch. After a full drain the state's series is
    row-identical to the batch entry (pinned in tests). Per-batch loop and
    idempotence: :func:`_state_monitor`."""
    from skinnerdb_spark.operators.stattests import cusum_series

    def delta(batch: DataFrame) -> DataFrame:
        return batch.groupBy(F.col("ts").cast("date").alias("d")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    def merge(rows: DataFrame) -> DataFrame:
        return rows.groupBy("d").agg(F.sum("n").cast("bigint").alias("n"))

    def report(state: DataFrame) -> DataFrame:
        return cusum_series(state).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("n_events").cast("bigint").alias("total_events"),
            F.sum(F.when(F.col("alarm"), 1).otherwise(0)).cast("bigint").alias("n_alarms"),
            F.max("cusum_pos").alias("max_cusum_pos"),
            F.max("cusum_neg").alias("max_cusum_neg"),
            F.max("day").alias("last_day"),
        )

    _state_monitor(
        spark, src_dir, state_path, monitor_path, checkpoint, delta, merge, report
    )


def stream_kmv_monitor(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    monitor_path: str,
    checkpoint: str,
) -> None:
    """Streaming distinct-users-per-event-type monitor, the streaming twin
    of approx_distinct_kmv. State: the bottom-k hash sketch per event type,
    <= k rows per group however many distinct users arrive. Per micro-batch
    the batch is sketched by the batch entries' ``kmv_sketch`` kernel and
    merged by the algebra approx_kmv_merge pins (bottom-k of a union ==
    bottom-k of the union of bottom-k's): one monitor row per (batch,
    group) with the current kth_min and estimate. The merge is exact
    selection, so after a full drain the state is ROW-IDENTICAL to
    kmv_sketch() over the same files (pinned in tests). Per-batch loop and
    idempotence: :func:`_state_monitor`."""
    from skinnerdb_spark.queries.extensions import KMV_ESTIMATE, bottom_k, kmv_sketch

    def report(state: DataFrame) -> DataFrame:
        return state.groupBy("grp").agg(
            F.count(F.lit(1)).cast("bigint").alias("in_sketch"),
            F.max("h").cast("bigint").alias("kth_min"),
        ).select("grp", "in_sketch", "kth_min", F.expr(KMV_ESTIMATE).alias("est_distinct"))

    _state_monitor(
        spark, src_dir, state_path, monitor_path, checkpoint,
        lambda batch: kmv_sketch(batch, "event_type", "user_id"),
        lambda rows: bottom_k(rows.distinct(), ["grp"]),
        report,
    )


def stream_bitmap_monitor(
    spark: SparkSession,
    src_dir: str,
    state_path: str,
    monitor_path: str,
    checkpoint: str,
) -> None:
    """Streaming activity-bitmap monitor, the streaming twin of
    ev_bitmap_rollup. State: one BIGINT day-bitmap per (user, month), where
    a distinct-(user, day) state would grow with the day count. Per
    micro-batch the batch is bitmapped by the batch entry's
    ``user_month_bitmaps`` kernel and bit_or-merged into the stored words
    (the associativity that entry's merge_exact receipt pins): one monitor
    row per (batch, month) with n_users / user_days / max_days. After a
    full drain the state is ROW-IDENTICAL to the batch kernel (pinned in
    tests). Per-batch loop and idempotence: :func:`_state_monitor`."""
    from skinnerdb_spark.operators.analytics import user_month_bitmaps

    days = F.expr("CAST(bit_count(bm) AS BIGINT)")

    def report(state: DataFrame) -> DataFrame:
        return state.groupBy("month").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(days).cast("bigint").alias("user_days"),
            F.max(days).cast("bigint").alias("max_days"),
        )

    _state_monitor(
        spark, src_dir, state_path, monitor_path, checkpoint,
        user_month_bitmaps,
        lambda rows: rows.groupBy("user_id", "month").agg(F.expr("bit_or(bm)").alias("bm")),
        report,
    )
