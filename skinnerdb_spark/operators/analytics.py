"""Sequence / graph / profiling analytics (beyond-reference tier).

Operators a production analytics + training-data stack runs that the rest
of the registry doesn't cover, each a distinct plan shape:

- ev_event_transitions : first-order Markov transition matrix over per-user
  event sequences (lag window + two-level aggregation) — the "what happens
  next" table behind funnel diagnostics and synthetic-sequence generation
- ev_session_paths     : top session-opening paths (first 3 events of each
  30-min-gap session) — navigation-path mining on the same session
  definition as ev_sessionization
- ev_state_history     : SCD type-2 state intervals from the event stream
  (change-point lag + closing lead on one exchange)
- stats_linear_fit     : per-group OLS trend line (slope/intercept) in
  EXACT integer arithmetic with one final IEEE division per coefficient —
  regression pushed into the engine instead of pandas
- stats_join_size      : exact join cardinality WITHOUT the join (matched
  key-count products) — the planner's histogram-product estimate in exact
  form, identity-checked against the actual join
- profile_table        : one-pass per-column data profile (nulls, distinct,
  min/max) of `orders`; generic machinery in :func:`profile_frame`
  (console `profile` command)
- graph_triangles      : triangle count + global clustering coefficient of
  the part co-purchase graph — distributed graph analytics as three
  id-ordered self-joins (degree-oriented variant documented for scale)
- graph_pagerank       : 3 damped iterations unrolled as join+aggregate
  rounds, bit-exact across engines (decimal-exact inflow sums)
- docs_bm25_topk       : per-term BM25 top-5 retrieval over documents with
  a RATIONAL (log-free) idf/tf saturation so the score is one exact-integer
  ratio -> hash-stable across engines

The reference has no sequence/graph/IR operators (its surface is SPJ+agg,
SURVEY §2); these extend the engine toward the workloads a 100 TB corpus
actually runs. All pure DataFrame algebra — no UDFs, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skinnerdb_spark.queries.util import ranked_topk, read_table
from skinnerdb_spark.registry import register
from skinnerdb_spark.state import memo

#: session gap reused from streaming.windows (30 min); re-declared to avoid
#: an import cycle — test_components pins the two constants equal.
SESSION_GAP_MIN = 30
PATH_STEPS = 3  # session-opening path length
PATH_TOP = 15  # paths reported
BM25_TERMS = ("join", "scan", "filter")  # fixed query terms (corpus vocab)
BM25_TOP = 5


@register(
    "ev_event_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events),
    big AS (
        SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, n,
           CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS prob
    FROM big
    """,
    tags=("events", "sequence", "markov"),
)
def ev_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix: P(next event type | previous)
    per user-ordered event stream. Lag ordering is total (ts, event_id).

    Scale shape: ONE shuffle on user_id serves the lag window; the bigram
    counts then aggregate map-side into |types|^2 rows (25 here), and the
    row-total is a window over that tiny aggregate — no second data-sized
    exchange. prob is a single bigint/bigint IEEE division (correctly
    rounded in both engines — hash-stable)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    big = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wtot = Window.partitionBy("prev_type")
    return big.select(
        "prev_type",
        "next_type",
        "n",
        F.sum("n").over(wtot).cast("bigint").alias("row_total"),
        (F.col("n").cast("double") / F.sum("n").over(wtot).cast("double")).alias("prob"),
    )


@register(
    "ev_session_paths",
    f"""
    WITH gaps AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN ts > LAG(ts) OVER w + INTERVAL {SESSION_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps),
    steps AS (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS step
        FROM sess),
    heads AS (
        SELECT user_id, session_id,
               MAX(CASE WHEN step = 1 THEN event_type END) AS s1,
               MAX(CASE WHEN step = 2 THEN event_type END) AS s2,
               MAX(CASE WHEN step = 3 THEN event_type END) AS s3
        FROM steps WHERE step <= {PATH_STEPS}
        GROUP BY user_id, session_id),
    paths AS (
        SELECT CONCAT(s1, '>', COALESCE(s2, '(end)'), '>',
                      COALESCE(s3, '(end)')) AS path,
               CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM heads GROUP BY 1)
    SELECT path, n_sessions,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT path, n_sessions,
                 ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rnk
          FROM paths)
    WHERE rnk <= {PATH_TOP}
    """,
    tags=("events", "sequence", "session"),
)
def ev_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session-opening paths: the first {PATH_STEPS} event types of every
    30-min-gap session (same session definition as ev_sessionization),
    concatenated 'a>b>c' ('(end)' pads short sessions), ranked by frequency.

    Scale shape: the user_id shuffle from sessionization is REUSED by the
    per-session row_number (both windows key on user_id; the finer
    (user_id, session_id) partitioning is a subpartition, so Catalyst keeps
    one exchange). The step pivot is MAX(CASE) — deterministic, unlike
    collect_list whose order is partition-dependent. Path counts then fold
    to |paths| rows; the final rank is a single-partition window over that
    tiny aggregate (~155 rows max here: 5^3 + short-session variants)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.when(
        F.col("ts") > F.lag("ts").over(w) + F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTE"), 1
    ).otherwise(0)
    sess = e.withColumn("new_session", gap).withColumn(
        "session_id", F.sum("new_session").over(wrun)
    )
    wstep = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    steps = sess.withColumn("step", F.row_number().over(wstep)).filter(
        F.col("step") <= PATH_STEPS
    )
    heads = steps.groupBy("user_id", "session_id").agg(
        *[
            F.max(F.when(F.col("step") == i, F.col("event_type"))).alias(f"s{i}")
            for i in (1, 2, 3)
        ]
    )
    paths = heads.select(
        F.concat(
            F.col("s1"),
            F.lit(">"),
            F.coalesce(F.col("s2"), F.lit("(end)")),
            F.lit(">"),
            F.coalesce(F.col("s3"), F.lit("(end)")),
        ).alias("path")
    ).groupBy("path").agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    # distributed top-k + theta-join rank (no unpartitioned window)
    return ranked_topk(paths, [("n_sessions", "desc"), ("path", "asc")], PATH_TOP)


# OLS in exact arithmetic: y is scaled once to an exact integer y6 = round(y,
# 6 decimals) * 1e6 (DECIMAL cast — no FP rounding), x is the integer month
# index. All moment sums (Sx, Sy6, Sxx, Sxy6, n) are then exact integers, and
#   slope     = (n*Sxy6 - Sx*Sy6) / (1e6 * (n*Sxx - Sx^2))
#   intercept = (Sxx*Sy6 - Sx*Sxy6) / (1e6 * (n*Sxx - Sx^2))
# are each ONE IEEE division of two exactly-computed integers — both engines
# round each int->double conversion and the division identically.
@register(
    "stats_linear_fit",
    """
    WITH pts AS (
        SELECT o_orderpriority,
               CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                    + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS x,
               CAST(CAST(o_totalprice AS DECIMAL(30,6)) * 1000000
                    AS DECIMAL(38,0)) AS y6
        FROM orders),
    m AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(y6) AS DECIMAL(38,0)) AS sy6,
               CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(x * y6) AS DECIMAL(38,0)) AS sxy6
        FROM pts GROUP BY o_orderpriority)
    SELECT o_orderpriority, n,
           CAST(CAST(n * sxy6 - sx * sy6 AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(CAST((n * sxx - sx * sx) * 1000000 AS DECIMAL(38,0)) AS DOUBLE)
               AS slope,
           CAST(CAST(sxx * sy6 - sx * sxy6 AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(CAST((n * sxx - sx * sx) * 1000000 AS DECIMAL(38,0)) AS DOUBLE)
               AS intercept
    FROM m
    """,
    tags=("stats", "regression"),
)
def stats_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of order value over time (x = month index since
    1992-01, y = o_totalprice): slope + intercept via the normal equations,
    computed as exact integer moments with one final IEEE division per
    coefficient (see module comment) — cross-engine hash-stable without
    giving up distributed partial aggregation.

    Scale shape: the moment sums are classic map-side-combinable aggregates
    (one shuffle of 5 groups x 5 numbers); this is how you run a million
    per-segment regressions on 100 TB without ever leaving the engine. The
    decimal moments stay within DECIMAL(38) up to ~1e9 rows per group at
    this value scale; beyond that, center x first (subtract the group month
    midpoint) — same algebra, ~6 fewer digits."""
    o = read_table(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderpriority",
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1
        ).cast("bigint").alias("x"),
        (F.col("o_totalprice").cast("decimal(30,6)") * 1000000)
        .cast("decimal(38,0)")
        .alias("y6"),
    )
    m = pts.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y6").cast("decimal(38,0)").alias("sy6"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y6")).cast("decimal(38,0)").alias("sxy6"),
    )
    den6 = ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * 1000000).cast(
        "decimal(38,0)"
    )
    slope_num = (F.col("n") * F.col("sxy6") - F.col("sx") * F.col("sy6")).cast(
        "decimal(38,0)"
    )
    icept_num = (F.col("sxx") * F.col("sy6") - F.col("sx") * F.col("sxy6")).cast(
        "decimal(38,0)"
    )
    return m.select(
        "o_orderpriority",
        "n",
        (slope_num.cast("double") / den6.cast("double")).alias("slope"),
        (icept_num.cast("double") / den6.cast("double")).alias("intercept"),
    )


# Per-column profile of `orders`. Value rendering is type-aware so the
# cross-engine string forms agree: ints print canonically in both engines;
# doubles go through DECIMAL(18,2) (identical decimal->string rendering);
# timestamps through DATE (ISO date in both).
_PROFILE_COLS: list[tuple[str, str]] = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "dec2"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    def render(col: str, kind: str, agg: str) -> str:
        if kind == "dec2":
            return f"CAST(CAST({agg}({col}) AS DECIMAL(18,2)) AS VARCHAR)"
        if kind == "date":
            return f"CAST(CAST({agg}({col}) AS DATE) AS VARCHAR)"
        return f"CAST({agg}({col}) AS VARCHAR)"

    parts = [
        f"""
    SELECT '{c}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           {render(c, k, 'MIN')} AS min_val,
           {render(c, k, 'MAX')} AS max_val
    FROM orders"""
        for c, k in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


def _render_kind(dtype: str) -> str:
    """Map a Spark simpleString dtype to a cross-engine string rendering."""
    if dtype in ("double", "float"):
        return "dec2"
    if dtype.startswith("timestamp"):
        return "date"
    return "str"


def profile_frame(df: DataFrame, cols: list[tuple[str, str]] | None = None) -> DataFrame:
    """Generic per-column profile of ANY DataFrame: (col_name, n_rows,
    n_nulls, n_distinct, min_val, max_val), one row per column, min/max
    rendered type-aware (doubles via DECIMAL(18,2), timestamps via DATE) so
    the strings are engine-portable. ``cols`` defaults to every column with
    the kind inferred from its dtype. Single pass — see
    :func:`profile_table` for the plan-shape notes. Also exposed as the
    console's ``profile <table>`` command."""
    if cols is None:
        cols = [(c, _render_kind(t)) for c, t in df.dtypes]

    def render(col: str, kind: str, agg) -> F.Column:
        c = agg(F.col(col))
        if kind == "dec2":
            return c.cast("decimal(18,2)").cast("string")
        if kind == "date":
            return c.cast("date").cast("string")
        return c.cast("string")

    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c, k in cols:
        aggs += [
            F.count(F.col(c)).cast("bigint").alias(f"{c}__cnt"),
            render(c, k, F.min).alias(f"{c}__min"),
            render(c, k, F.max).alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    # STACKED TWO-LEVEL distinct per column (the distinct_agg reformulation,
    # VERDICT r6 item 5) instead of one multi-distinct agg — Spark plans n
    # distinct children as an Expand that replicates every (wide) input row
    # n+1 times through the shuffle. Each column here runs its own
    # column-pruned scan + map-side dedup; shuffle volume is bounded by that
    # column's cardinality, not the row count, and the n one-row results
    # broadcast into the stack. Measured 4.1 s -> ~1 s warm on the 6-column
    # orders profile at sf0.1.
    for c, _ in cols:
        ndf = (
            df.select(c)
            .distinct()
            .agg(F.count(F.col(c)).cast("bigint").alias(f"{c}__nd"))
        )
        one = one.join(F.broadcast(ndf))
    stack_args = ", ".join(
        f"'{c}', n_rows - {c}__cnt, {c}__nd, {c}__min, {c}__max" for c, _ in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) "
        "AS (col_name, n_nulls, n_distinct, min_val, max_val)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


@register(
    "profile_table",
    _profile_oracle(),
    tags=("profiling", "quality"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of `orders` — row count, null count, distinct
    count, min/max (rendered type-aware so both engines agree on strings).
    The summary every ingestion/data-quality gate emits before a table is
    admitted to the warehouse; the generic machinery is
    :func:`profile_frame` (any DataFrame, console ``profile`` command).

    Scale shape: unlike the oracle's 6-scan UNION ALL, the Spark plan is a
    SINGLE pass — all 24 aggregates (4 per column) evaluate in one
    partial+final aggregation over one scan, then 6 rows are unpivoted
    driver-free with stack(). The distinct counts run as one column-pruned
    dedup per column, broadcast into that row, so the plan has no Expand
    (a multi-column COUNT(DISTINCT) would replicate each row 6x)."""
    return profile_frame(read_table(spark, sf_dir, "orders"), _PROFILE_COLS)


# Co-purchase graph: nodes = parts, undirected edge (p1, p2) iff both appear
# in the same order within the 2-month window. The window bounds the graph,
# not the algorithm — the joins below are the standard distributed triangle
# count / PageRank and run on the full graph at scale (with the degree-based
# edge orientation noted in the triangle docstring). Edge derivation is
# shared by every graph entry (Spark: _co_edges, SQL: _EDGE_CTES).
_GRAPH_WINDOW = "o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-03-01'"

_EDGE_CTES = f"""
    li AS (
        SELECT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE {_GRAPH_WINDOW}),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey)"""


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edge list (u < v), one row per distinct pair."""
    o = read_table(spark, sf_dir, "orders").filter(F.expr(_GRAPH_WINDOW))
    l = read_table(spark, sf_dir, "lineitem")
    li = l.join(o, l.l_orderkey == o.o_orderkey).select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


def shared_co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached co-purchase edge list — the graph tier's family build
    (the shared_sigs pattern): the edge derivation is a lineitem⋈orders
    self-join + distinct, and every graph entry references the edge frame
    MULTIPLE times (pagerank embeds it in each unrolled iteration, the
    triangle count three times, the wedge join twice). Without
    materialization the self-join re-executes per reference — at sf10 that
    was the bulk of pagerank's 52 s. The cache is stats-bearing
    (InMemoryRelation), so Catalyst still sizes the downstream joins."""
    return memo(spark, sf_dir, "co_edges", lambda: _co_edges(spark, sf_dir))


@register(
    "graph_triangles",
    f"""
    WITH {_EDGE_CTES},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY node),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT SUM(d * (d - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
           tri.n_triangles,
           CAST(3 * tri.n_triangles AS DOUBLE)
             / CAST((SELECT SUM(d * (d - 1) / 2) FROM deg) AS DOUBLE)
               AS clustering
    FROM tri
    """,
    tags=("graph", "join"),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts co-occurring in an order, 2-month window).
    Distributed graph analytics expressed as relational self-joins — no
    graph library: edges are id-ordered (u < v), so each triangle matches
    the 3-edge join pattern exactly once.

    Scale shape: edge building shuffles lineitem once on l_orderkey (the
    per-order pair explosion is bounded by lines-per-order ~ 7); the
    triangle join shuffles edges on their endpoints. At web scale the
    id-ordering is replaced by DEGREE ordering (orient each edge toward the
    higher-degree endpoint, join on the <=sqrt(2E)-out-degree side) — same
    three joins, provably O(E^1.5) intermediate size; id-ordering is used
    here because it is oracle-identical and the windowed graph is small.
    Wedge count is pure per-node algebra on the degree table. clustering =
    3T / wedges is one bigint/bigint IEEE division."""
    edges = shared_co_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        tri.join(F.broadcast(stats))
        .join(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("clustering"),
        )
    )


# BM25 with rational (log-free) idf, k1 = 1.2, b = 0.75. With SD = total
# token count, N = doc count, dl = doc length, the standard formula
#   idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
# clears to the single exact-integer ratio
#   (2N - 2df + 1) * 22 * tf * SD
#   ---------------------------------------------
#   (2df + 1) * (10*tf*SD + 3*SD + 9*dl*N)
# (idf = (N - df + 0.5)/(df + 0.5), avgdl = SD/N, k1+1 = 2.2 = 22/10,
# k1*(1-b) = 0.3 = 3/10, k1*b = 0.9 = 9/10). One IEEE division -> the score
# is bit-identical across engines, and the ranking equals log-idf BM25's
# for df < N because x -> log((x+?)/?) is monotone.
_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in BM25_TERMS)


def shared_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, dl) token counts over the non-empty corpus —
    the sparse-retrieval family build (r11): docs_bm25_topk AND
    docs_hybrid_rrf each tokenized the corpus for lengths, and within one
    entry `dl` feeds the corpus-stats aggregate and the scoring join with
    different prunings, so without materialization the split re-ran per
    consumer (the dbt/no-ReusedExchange story; 12 scans in the rrf
    before-plan). Two narrow int64 columns per doc — far below the
    verbatim-spans heap-competition threshold — and stats-bearing, so AQE
    still sizes the scoring join."""
    def build() -> DataFrame:
        d = read_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        )
        return d.select(
            "doc_id",
            F.expr("size(filter(split(text, ' '), x -> x != ''))")
            .cast("bigint")
            .alias("dl"),
        )

    return memo(spark, sf_dir, "doc_len", build)


def shared_bm25_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, term, tf) for the fixed BM25 query terms —
    the corpus explode behind both sparse retrievers (r11): the token
    stream is pre-filtered to the {len(BM25_TERMS)}-term query list by a
    broadcast join (the corpus never shuffles for non-query terms), then
    hash-aggregated per (doc, term). docs_bm25_topk and docs_hybrid_rrf
    both derive their scoring AND the df counts from this one frame, so
    the explode runs once per session instead of once per entry."""
    def build() -> DataFrame:
        d = read_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        )
        toks = d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        ).filter(F.col("term") != "")
        q = spark.createDataFrame([(t,) for t in BM25_TERMS], ["term"])
        return (
            toks.join(F.broadcast(q), "term")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        )

    return memo(spark, sf_dir, "bm25_tf", build)


#: the oracle's BM25 scorer, the DuckDB mirror of shared_doc_lengths,
#: shared_bm25_tf and the exact-ratio score: (doc_id, term, tf, dl, score)
#: per (query term, doc) in ``scored``. CTE text to follow a WITH.
BM25_SCORED_CTES = f"""d AS (SELECT doc_id, text FROM documents
               WHERE text IS NOT NULL AND LENGTH(text) > 0),
    toks AS (SELECT doc_id, t.term
             FROM d, UNNEST(string_split(text, ' ')) AS t(term)
             WHERE t.term <> ''),
    dl AS (SELECT doc_id,
                  CAST(len(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS BIGINT) AS dl
           FROM d),
    corpus AS (SELECT CAST(SUM(dl) AS BIGINT) AS sd,
                      CAST(COUNT(*) AS BIGINT) AS n FROM dl),
    q(term) AS (VALUES {_BM25_TERMS_SQL}),
    tf AS (SELECT toks.doc_id, toks.term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks JOIN q ON toks.term = q.term
           GROUP BY toks.doc_id, toks.term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
               CAST(CAST(2 * c.n - 2 * dfreq.df + 1 AS HUGEINT)
                    * 22 * tf.tf * c.sd AS DOUBLE)
                 / CAST(CAST(2 * dfreq.df + 1 AS HUGEINT)
                        * (10 * CAST(tf.tf AS HUGEINT) * c.sd
                           + 3 * CAST(c.sd AS HUGEINT)
                           + 9 * CAST(dl.dl AS HUGEINT) * c.n)
                        AS DOUBLE) AS score
        FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfreq ON tf.term = dfreq.term
        CROSS JOIN corpus c)"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, tf, dl, score) per (query term, doc): the BM25 scorer
    over the shared_doc_lengths and shared_bm25_tf family frames, the Spark
    mirror of BM25_SCORED_CTES. The score is one exact-integer ratio,
    computed in 128-bit integer space (DECIMAL(38,0) here, HUGEINT in the
    oracle), each side converted once to double, so the IEEE values match
    bitwise (see docs_bm25_topk)."""
    dl = shared_doc_lengths(spark, sf_dir)
    corpus = dl.agg(
        F.sum("dl").cast("bigint").alias("sd"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tf = shared_bm25_tf(spark, sf_dir)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))

    def dec(c):  # 128-bit-wide exact integer lane
        return c.cast("decimal(38,0)")

    num = dec(2 * F.col("n") - 2 * F.col("df") + 1) * 22 * dec(F.col("tf")) * dec(F.col("sd"))
    den = dec(2 * F.col("df") + 1) * (
        10 * dec(F.col("tf")) * dec(F.col("sd"))
        + 3 * dec(F.col("sd"))
        + 9 * dec(F.col("dl")) * dec(F.col("n"))
    )
    return (
        # no broadcast hint on tf: AQE broadcasts iff the runtime query-hit
        # size allows, else co-partitions on doc_id (see docs_bm25_topk)
        dl.join(tf, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(corpus))
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            (num.cast("double") / den.cast("double")).alias("score"),
        )
    )


@register(
    "docs_bm25_topk",
    f"""
    WITH {BM25_SCORED_CTES}
    SELECT term, doc_id, tf, dl, score, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                    ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= {BM25_TOP}
    """,
    tags=("text", "retrieval", "bm25"),
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term BM25 top-{BM25_TOP} retrieval (k1=1.2, b=0.75) for a fixed
    query-term set — full-text relevance ranking inside the engine. The idf
    and length-saturation terms are cleared to ONE exact-integer ratio per
    (term, doc) so the score hashes identically across engines (see module
    comment). The ratio is computed in 128-bit integer space on BOTH sides
    (Spark DECIMAL(38,0), DuckDB HUGEINT -- each an exact integer converted
    once to double, so the IEEE values match bitwise): int64 would wrap
    silently in Spark at ~1e19 while DuckDB raises, diverging in failure
    mode; the 128-bit bound (~1.7e38) is beyond any physical corpus
    (N * SD * tf would need to exceed ~1e36).

    Scale shape: doc length is an IN-ROW token count (no second tokenize
    pass — corpus stats are one map-side aggregate of that projection, the
    corpus never shuffles for lengths), served from the session-cached
    `shared_doc_lengths` family frame (r11 — it feeds the stats aggregate
    and the scoring join, and docs_hybrid_rrf reads it too); tf is the
    `shared_bm25_tf` family frame: a (doc, term) hash agg PRE-FILTERED to
    the query terms by an inner join with the 3-row term list (broadcast —
    the corpus-sized token stream never shuffles for non-query terms); df
    and corpus stats are vocabulary- and single-row aggregates over the
    cached frames. The tf-side join back onto the (doc_id, dl) projection
    carries NO broadcast hint: AQE broadcasts it when the runtime
    query-hit size is under the threshold and otherwise falls back to a
    doc_id-co-partitioned shuffle join -- an unguarded hint would OOM the
    driver on a high-df query term at corpus scale (forced-fallback
    equivalence asserted in tests/test_scale.py). Final top-k is a
    per-term window over |q| * matched-docs rows."""
    scored = bm25_scored(spark, sf_dir)
    wr = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rnk") <= BM25_TOP)
        .select("term", "doc_id", "tf", "dl", "score", "rnk")
    )


# PageRank, 3 unrolled damped iterations (d = 0.85) over the co-purchase
# graph, CROSS-ENGINE EXACT: per-node inflow is summed in DECIMAL space
# (contributions are rounded once to 12 decimals — ROUND(double, 12) is
# half-away-from-zero in both engines — then decimal addition is exact and
# associative, so Spark's partial-aggregate tree and DuckDB's serial sum
# agree bitwise), and every scalar step (1/N init, rank/deg split, 0.15/N +
# 0.85*s update) is the same IEEE-double expression shape evaluated on
# identical inputs. Iterations are UNROLLED — each is a join + aggregate —
# which is exactly how Pregel-style ranking runs on a relational engine.
PAGERANK_ITERS = 3
PAGERANK_TOP = 20


def _pagerank_oracle() -> str:
    body = f"""
    WITH {_EDGE_CTES},
    directed AS (
        SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges),
    nd AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg,
               CAST((SELECT COUNT(DISTINCT src) FROM directed) AS BIGINT) AS n
        FROM directed GROUP BY src),
    r0 AS (SELECT node, deg, n, 1.0 / n AS rank FROM nd)"""
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        body += f""",
    c{i} AS (SELECT node, CAST(ROUND(rank / deg, 12) AS DECIMAL(28,12)) AS c
             FROM {prev}),
    s{i} AS (SELECT d.dst AS node, SUM(c.c) AS s
             FROM directed d JOIN c{i} c ON d.src = c.node
             GROUP BY d.dst),
    r{i} AS (SELECT nd.node, nd.deg, nd.n,
                    0.15 / nd.n + 0.85 * CAST(COALESCE(s{i}.s, 0) AS DOUBLE)
                        AS rank
             FROM nd LEFT JOIN s{i} ON nd.node = s{i}.node)"""
        prev = f"r{i}"
    body += f"""
    SELECT node, deg, rank, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT node, deg, rank,
                 ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS rnk
          FROM {prev})
    WHERE rnk <= {PAGERANK_TOP}
    """
    return body


@register(
    "graph_pagerank",
    _pagerank_oracle(),
    tags=("graph", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PAGERANK_TOP} PageRank nodes after {PAGERANK_ITERS} damped
    iterations on the co-purchase graph — iterative graph ranking as plain
    relational algebra, with a FULL DuckDB oracle (the iterations are
    unrolled in SQL; exactness contract in the module comment above: IEEE
    scalar steps + decimal-exact inflow sums).

    Scale shape: each iteration is one join of the directed edge list
    against the |V|-sized rank table plus a dst-keyed aggregate — the
    standard Pregel-on-a-relational-engine loop. The edge list partitioning
    on src is REUSED across all iterations (same key every round;
    at cluster scale pre-bucket edges by src and only the |V|-row rank
    updates move), and the rank/degree/n columns ride one broadcast-sized
    node table. No collects, no UDFs, no floating-point order dependence."""
    edges = shared_co_edges(spark, sf_dir)
    directed = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = directed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    n1 = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # nd is referenced by EVERY round's rank update and the final top-k:
    # left lazy, the deg aggregate over the cached edge frame re-executes
    # per reference (~6x subtree replication in the before-plan — r11,
    # plans/r11/graph_pagerank_before.txt). |V|-sized -> eager
    # localCheckpoint, the kcore/bfs per-round pattern; each round's rank
    # frame gets the same cut so round k+1's plan starts from a |V|-row
    # leaf instead of re-deriving rounds 1..k (measured 14.4 -> 11.2 s warm,
    # 39 -> 12 s cold at sf10).
    nd = deg.join(F.broadcast(n1)).localCheckpoint(eager=True)
    r = nd.select("node", "deg", "n", (F.lit(1.0) / F.col("n")).alias("rank"))
    for _ in range(PAGERANK_ITERS):
        contrib = r.select(
            F.col("node").alias("src"),
            F.expr("CAST(ROUND(rank / deg, 12) AS DECIMAL(28,12))").alias("c"),
        )
        inflow = (
            directed.join(contrib, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        r = (
            nd.join(inflow, "node", "left")
            .select(
                "node",
                "deg",
                "n",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85)
                    * F.coalesce(F.col("s"), F.lit(0)).cast("double")
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    # distributed top-k + theta-join rank (no unpartitioned window): at
    # graph scale the global rank window would sort every node on ONE
    # partition; TakeOrderedAndProject keeps the top-k selection parallel
    return ranked_topk(
        r.select("node", "deg", "rank"),
        [("rank", "desc"), ("node", "asc")],
        PAGERANK_TOP,
    )


@register(
    "ev_state_history",
    """
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    changes AS (
        SELECT user_id, event_type AS state, ts AS valid_from, event_id
        FROM seq
        WHERE prev_type IS NULL OR prev_type <> event_type),
    hist AS (
        SELECT user_id, state, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, event_id)
                   AS next_from
        FROM changes)
    SELECT user_id, state, valid_from,
           COALESCE(next_from, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
           CASE WHEN next_from IS NULL THEN 1 ELSE 0 END AS is_current
    FROM hist
    """,
    tags=("events", "temporal", "scd2"),
)
def ev_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) state history from the event
    stream: consecutive runs of the same event_type per user collapse into
    [valid_from, valid_to) intervals, a far-future 2200-01-01 sentinel (ns-epoch-safe, unlike 9999-12-31)
    closing the current state — the standard dimension-history build every
    warehouse maintains.

    Scale shape: ONE user_id shuffle serves both windows (the change-point
    lag and the interval-closing lead — same partitioning, Catalyst keeps
    one exchange); run-collapse happens via the change-point filter, never
    a groupBy over the raw stream. Interval semantics are half-open, so
    downstream as-of lookups (temporal.py) can join
    ts >= valid_from AND ts < valid_to with no NULL branch."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = seq.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id", F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"), "event_id",
    )
    wl = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    hist = changes.withColumn("next_from", F.lead("valid_from").over(wl))
    return hist.select(
        "user_id", "state", "valid_from",
        F.coalesce(
            F.col("next_from"), F.expr("TIMESTAMP '2200-01-01 00:00:00'")
        ).alias("valid_to"),
        F.when(F.col("next_from").isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "stats_join_size",
    """
    WITH c1 AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n
                FROM lineitem GROUP BY l_orderkey),
    c2 AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n
           FROM orders GROUP BY o_orderkey),
    pred AS (SELECT CAST(SUM(c1.n * c2.n) AS BIGINT) AS predicted
             FROM c1 JOIN c2 ON c1.k = c2.k),
    act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT pred.predicted, act.actual,
           CASE WHEN pred.predicted = act.actual THEN 1 ELSE 0 END AS exact_match
    FROM pred, act
    """,
    tags=("stats", "planner"),
)
def stats_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size WITHOUT the join: |A join B on k| = sum over matching keys
    of count_A(k) * count_B(k) — the exact form of the histogram-product
    cardinality estimate every cost-based optimizer runs (the reference
    derives the same number at runtime through its reward signal;
    BenchAndVerify.java checks per-join cardinalities the same way). The
    entry emits predicted vs actual plus their equality so the driver's
    hash gate itself re-proves the identity.

    Scale shape: two key-count aggregations (map-side partial) + a join of
    AGGREGATES (one row per distinct key, not per data row) — at 100 TB
    this costs two shuffles of key-cardinality size while the actual join
    shuffles every data row; that asymmetry is exactly why planners
    estimate from key histograms. The `actual` branch exists only to prove
    the identity at test scale."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c1 = l.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n1")
    )
    c2 = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n2")
    )
    pred = c1.join(c2, "k").agg(
        F.sum(F.col("n1") * F.col("n2")).cast("bigint").alias("predicted")
    )
    act = l.join(o, l.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).cast("bigint").alias("actual")
    )
    return (
        pred.join(F.broadcast(act))
        .select(
            "predicted",
            "actual",
            F.when(F.col("predicted") == F.col("actual"), 1).otherwise(0).alias("exact_match"),
        )
    )


@register(
    "orders_equidepth_hist",
    """
    WITH ranked AS (
        SELECT o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
               COUNT(*) OVER () AS n
        FROM orders),
    b AS (
        SELECT MAX(CASE WHEN rn = (1*n+9)//10 THEN o_totalprice END) AS b1,
               MAX(CASE WHEN rn = (2*n+9)//10 THEN o_totalprice END) AS b2,
               MAX(CASE WHEN rn = (3*n+9)//10 THEN o_totalprice END) AS b3,
               MAX(CASE WHEN rn = (4*n+9)//10 THEN o_totalprice END) AS b4,
               MAX(CASE WHEN rn = (5*n+9)//10 THEN o_totalprice END) AS b5,
               MAX(CASE WHEN rn = (6*n+9)//10 THEN o_totalprice END) AS b6,
               MAX(CASE WHEN rn = (7*n+9)//10 THEN o_totalprice END) AS b7,
               MAX(CASE WHEN rn = (8*n+9)//10 THEN o_totalprice END) AS b8,
               MAX(CASE WHEN rn = (9*n+9)//10 THEN o_totalprice END) AS b9
        FROM ranked),
    assigned AS (
        SELECT CAST((CASE WHEN o_totalprice > b1 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b2 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b4 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b5 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b6 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b7 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b8 THEN 1 ELSE 0 END
                   + CASE WHEN o_totalprice > b9 THEN 1 ELSE 0 END)
              AS BIGINT) AS bucket,
               o_totalprice
        FROM orders CROSS JOIN b)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM assigned GROUP BY bucket
    """,
    tags=("stats", "histogram"),
)
def orders_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH (quantile-bucketed) histogram of order value — the
    optimizer-statistics/table-skew view that equi-width histograms
    (ev_value_histogram) miss on long-tailed measures: each bucket holds
    ~10% of rows whatever the value distribution.

    Scale shape (r8, VERDICT r7 item 2): deliberately NOT the NTILE
    formulation (a corpus-wide single-partition sort) and, since r8, NOT
    the exact `percentile` aggregate either — that aggregate buffers the
    full column on one executor (the sf10 sweep's 71 s row and a genuine
    100 TB memory hazard). Boundaries are rank-defined decile values
    (value at rank ceil(i*n/10) — exact, tie-stable, cross-engine-safe
    integer arithmetic) computed by distributed value-domain k-th
    selection (operators/quantiles.py): map-side-combined histogram scans
    with O(bins) executor state, never a value buffer. They broadcast back
    as a 1-row frame and bucket assignment + counts stay pure map-side
    algebra plus one tiny aggregation."""
    from skinnerdb_spark.operators.quantiles import exact_value_at_ranks

    o = read_table(spark, sf_dir, "orders")
    deciles = exact_value_at_ranks(
        o,
        [],
        "o_totalprice",
        lambda n: F.array(*[F.floor((i * n + 9) / 10).cast("long") for i in range(1, 10)]),
    )
    b = deciles.agg(
        *[
            F.max(F.when(F.col("qi") == i - 1, F.col("value"))).alias(f"b{i}")
            for i in range(1, 10)
        ]
    )
    assigned = o.crossJoin(F.broadcast(b)).select(
        sum(
            [F.when(F.col("o_totalprice") > F.col(f"b{i}"), 1).otherwise(0) for i in range(1, 10)],
            F.lit(0),
        )
        .cast("bigint")
        .alias("bucket"),
        "o_totalprice",
    )
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


JACCARD_TOP = 30

_JACCARD_ORACLE = f"""
    WITH {_EDGE_CTES},
    directed AS (
        SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM directed GROUP BY src),
    wedge AS (
        SELECT d1.dst AS u, d2.dst AS w, CAST(COUNT(*) AS BIGINT) AS c
        FROM directed d1 JOIN directed d2
          ON d1.src = d2.src AND d1.dst < d2.dst
        GROUP BY d1.dst, d2.dst),
    cand AS (
        SELECT wdg.u, wdg.w, wdg.c, du.d AS du, dw.d AS dw
        FROM wedge wdg
        JOIN deg du ON du.node = wdg.u
        JOIN deg dw ON dw.node = wdg.w
        LEFT JOIN edges e ON e.u = wdg.u AND e.v = wdg.w
        WHERE e.u IS NULL),
    scored AS (
        SELECT u, w, c,
               CAST(c AS DOUBLE) / (du + dw - c) AS jaccard
        FROM cand)
    SELECT u, w, c, jaccard, rnk FROM (
        SELECT u, w, c, jaccard,
               CAST(ROW_NUMBER() OVER (ORDER BY jaccard DESC, u, w)
                    AS BIGINT) AS rnk
        FROM scored)
    WHERE rnk <= {JACCARD_TOP}
"""


@register(
    "graph_jaccard_links",
    _JACCARD_ORACLE,
    tags=("graph", "pipeline", "similarity"),
)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: top-{JACCARD_TOP}
    NON-adjacent node pairs by neighbor-set Jaccard |N(u) n N(w)| /
    |N(u) u N(w)| — the classic common-neighbors recommender, as three
    relational steps: a two-hop wedge join (common-neighbor counts), a
    degree join, and an anti-join against existing edges.

    The score c/(du+dw-c) is ONE double division over exact integers
    (identical in both engines — no libm). Scale shape: the wedge join is
    keyed on the shared neighbor (the standard two-hop; hub skew is the
    known hazard and AQE's skew-join split handles it — same posture as
    graph_triangles), degrees ride a node-sized join, and the top-k is
    `ranked_topk`, not an unpartitioned window. Candidate pairs are bounded
    by wedge count, never all-pairs."""
    from skinnerdb_spark.queries.util import ranked_topk

    edges = shared_co_edges(spark, sf_dir)
    directed = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = directed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    d1 = directed.select(F.col("src"), F.col("dst").alias("u"))
    d2 = directed.select(F.col("src"), F.col("dst").alias("w"))
    wedge = (
        d1.join(d2, "src")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cand = (
        wedge.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("w"), F.col("d").alias("dw")), "w")
        .join(
            edges.select(F.col("u"), F.col("v").alias("w")),
            ["u", "w"],
            "left_anti",
        )
    )
    scored = cand.select(
        "u",
        "w",
        "c",
        (F.col("c").cast("double") / (F.col("du") + F.col("dw") - F.col("c"))).alias(
            "jaccard"
        ),
    )
    return ranked_topk(
        scored, [("jaccard", "desc"), ("u", "asc"), ("w", "asc")], JACCARD_TOP
    )


SKYLINE_BAND = 20000.0

_SKYLINE_ORACLE = """
    SELECT b.o_orderkey, b.o_totalprice, b.o_orderdate
    FROM orders b
    WHERE NOT EXISTS (
        SELECT 1 FROM orders a
        WHERE a.o_totalprice >= b.o_totalprice
          AND a.o_orderdate <= b.o_orderdate
          AND (a.o_totalprice > b.o_totalprice
               OR a.o_orderdate < b.o_orderdate))
"""


@register(
    "orders_skyline",
    _SKYLINE_ORACLE,
    tags=("analytics", "skyline"),
)
def orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): orders not dominated on (totalprice
    max, orderdate min) — "no other order is both at-least-as-expensive and
    at-least-as-early, strictly better in one". The multi-objective top-k
    the reference's surface cannot express (its LIMIT is single-order).

    The oracle is the textbook O(n^2) NOT EXISTS; the Spark plan is the
    two-phase distributed skyline instead:
      1. BAND PRUNE: bucket by price band (width {SKYLINE_BAND}); a row in a
         strictly higher band has strictly higher price, so it dominates r
         iff its date <= r.date. Per-band min-dates are a tiny aggregate;
         the min over all HIGHER bands comes from a theta self-join on that
         ~25-row frame (no unpartitioned window), broadcast back. Rows with
         date >= that cutoff drop immediately — at any scale this removes
         almost everything, because skylines are tiny.
      2. IN-BAND VERIFY: surviving candidates anti-join the FULL rows of
         their own band (band-keyed shuffle, residual dominance predicate).
         Dominators from other bands are already accounted for: lower bands
         cannot dominate (strictly lower price), higher bands were phase 1.
    Phase-2 cost is |candidates| x |their band|, not n^2 — the band acts as
    the grid cell of the classic grid-pruned skyline."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    banded = o.withColumn(
        "band", F.floor(F.col("o_totalprice") / F.lit(SKYLINE_BAND)).cast("bigint")
    )
    m = banded.groupBy("band").agg(F.min("o_orderdate").alias("mdate"))
    ma, mb = m.alias("ma"), m.alias("mb")
    higher = (
        ma.join(mb, F.col("mb.band") > F.col("ma.band"), "left")
        .groupBy(F.col("ma.band").alias("band"))
        .agg(F.min(F.col("mb.mdate")).alias("hmin"))
    )
    cand = banded.join(F.broadcast(higher), "band", "left").filter(
        F.col("hmin").isNull() | (F.col("o_orderdate") < F.col("hmin"))
    )
    c, d = cand.alias("c"), banded.alias("d")
    surv = c.join(
        d,
        (F.col("c.band") == F.col("d.band"))
        & (F.col("d.o_totalprice") >= F.col("c.o_totalprice"))
        & (F.col("d.o_orderdate") <= F.col("c.o_orderdate"))
        & (
            (F.col("d.o_totalprice") > F.col("c.o_totalprice"))
            | (F.col("d.o_orderdate") < F.col("c.o_orderdate"))
        ),
        "left_anti",
    )
    return surv.select("c.o_orderkey", "c.o_totalprice", "c.o_orderdate")


@register(
    "stats_skew_report",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_keys FROM c),
    r AS (SELECT user_id, cnt,
                 CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS BIGINT)
                     AS rnk
          FROM c)
    SELECT rnk, user_id, cnt,
           cnt * 1000000 // total AS share_ppm,
           cnt * n_keys * 100 // total AS hot_x100
    FROM r, t WHERE rnk <= 20
    """,
    tags=("stats", "skew", "planning"),
)
def stats_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-shuffle skew diagnostic (plans/skew.py::skew_report) run over
    the events stream's join/aggregation key: the 20 hottest user_ids with
    exact counts, corpus share in ppm, and hotness vs the mean key (x100)
    — the table that decides between plain shuffle, AQE skew-split, and
    explicit salting (its driver-side twin, plans/skew.py::recommend_salts,
    turns the same two aggregates into an n_salts value for
    salted_join/aggregate_two_phase). Derived measures are integer
    floor-divisions of exact counts — no doubles, hash-exact. Plan shape:
    one map-side-combinable count, TakeOrderedAndProject top-k, broadcast
    1-row totals; the corpus never reshuffles wider than the key."""
    from skinnerdb_spark.plans.skew import skew_report

    e = read_table(spark, sf_dir, "events")
    return skew_report(e, "user_id", topk=20)


# --------------------------------------------------------------------------
# k-core peeling (r9): the standard graph-based curation filter (spam /
# low-engagement pruning keeps the k-core; Leskovec-style community
# preprocessing) — bounded unrolled peeling rounds, the pagerank pattern.
# --------------------------------------------------------------------------
KCORE_K = 3
KCORE_ROUNDS = 3


@register(
    "graph_kcore_peel",
    f"""
    WITH {_EDGE_CTES},
    e0 AS (SELECT u, v FROM edges),
    d1 AS (SELECT w, COUNT(*) AS d FROM (
               SELECT u AS w FROM e0 UNION ALL SELECT v AS w FROM e0)
           GROUP BY w HAVING COUNT(*) >= {KCORE_K}),
    e1 AS (SELECT e.u, e.v FROM e0 e
           JOIN d1 a ON a.w = e.u JOIN d1 b ON b.w = e.v),
    d2 AS (SELECT w, COUNT(*) AS d FROM (
               SELECT u AS w FROM e1 UNION ALL SELECT v AS w FROM e1)
           GROUP BY w HAVING COUNT(*) >= {KCORE_K}),
    e2 AS (SELECT e.u, e.v FROM e1 e
           JOIN d2 a ON a.w = e.u JOIN d2 b ON b.w = e.v),
    d3 AS (SELECT w, COUNT(*) AS d FROM (
               SELECT u AS w FROM e2 UNION ALL SELECT v AS w FROM e2)
           GROUP BY w HAVING COUNT(*) >= {KCORE_K}),
    e3 AS (SELECT e.u, e.v FROM e2 e
           JOIN d3 a ON a.w = e.u JOIN d3 b ON b.w = e.v),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS degree FROM (
               SELECT u AS w FROM e3 UNION ALL SELECT v AS w FROM e3)
           GROUP BY w)
    SELECT CAST(w AS BIGINT) AS vertex, degree FROM df ORDER BY vertex
    """,
    tags=("graph", "pipeline", "kcore"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS} peeling rounds toward the {KCORE_K}-core of the
    co-purchase graph: each round drops vertices of degree < {KCORE_K} and
    the edges touching them, then recounts. Bounded unrolled rounds (the
    graph_pagerank pattern — full-core convergence is data-dependent;
    three rounds is the documented contract and removes the overwhelming
    majority of sub-core vertices on power-law-ish graphs). Per round: one
    explode+groupBy degree count and two semi-joins against the (shrinking)
    survivor set; the edge frame is the memoized family build, so the
    expensive derivation never re-executes. Output = surviving vertices
    with their round-{KCORE_ROUNDS} degrees, the keep-list a curation
    pipeline joins against."""
    edges = shared_co_edges(spark, sf_dir)
    e = edges.select("u", "v")
    for i in range(KCORE_ROUNDS):
        deg = (
            e.select(F.col("u").alias("w"))
            .unionAll(e.select(F.col("v").alias("w")))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select("w")
        )
        e = (
            e.join(deg.withColumnRenamed("w", "u"), "u", "left_semi")
            .join(deg.withColumnRenamed("w", "v"), "v", "left_semi")
            .select("u", "v")
        )
        # each round references the previous round's edges THREE times
        # (both degree branches + the join input); left lazy, the plan
        # replicates 3x per round (27x subtrees by round 3 — measured
        # 52 s at sf1). Cut the lineage eagerly per round, the
        # dedup_clusters iterative pattern.
        e = e.localCheckpoint(eager=True)
    return (
        e.select(F.col("u").alias("w"))
        .unionAll(e.select(F.col("v").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .select(F.col("w").cast("bigint").alias("vertex"), "degree")
        .orderBy("vertex")
    )


# --------------------------------------------------------------------------
# FK-candidate discovery (r9 cont.): the CROSS-table sibling of
# profile_table — measured inclusion-dependency profiling over candidate
# (child.column -> parent.column) pairs, the schema-inference pass a data
# platform runs on an undocumented 100 TB lake before it can plan joins at
# all (and the statistic the adaptive tier's FK-aware cardinality
# heuristics presuppose). Reference analogue: none (the reference assumes
# its benchmark schemas); extension tier.
# --------------------------------------------------------------------------

#: candidate (child_table, child_col, parent_table, parent_col) pairs —
#: two true FKs, one partial inclusion (o_custkey over a filtered customer
#: subset would be partial; here supplier->nation is true, part->orders is
#: the deliberate negative), so the report is discriminative
_FK_PAIRS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("part", "p_size", "nation", "n_nationkey"),  # negative control
)


def _fk_oracle() -> str:
    selects = []
    for ct, cc, pt, pc in _FK_PAIRS:
        selects.append(f"""
    SELECT '{ct}.{cc} -> {pt}.{pc}' AS candidate,
           (SELECT CAST(COUNT(DISTINCT {cc}) AS BIGINT) FROM {ct}
            WHERE {cc} IS NOT NULL) AS n_child,
           (SELECT CAST(COUNT(DISTINCT {pc}) AS BIGINT) FROM {pt}
            WHERE {pc} IS NOT NULL) AS n_parent,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT {cc} AS v FROM {ct} WHERE {cc} IS NOT NULL) c
            WHERE c.v IN (SELECT {pc} FROM {pt} WHERE {pc} IS NOT NULL))
               AS n_contained""")
    inner = "\nUNION ALL\n".join(selects)
    return f"""
    WITH pairs AS ({inner})
    SELECT candidate, n_child, n_parent, n_contained,
           CAST(n_contained AS DOUBLE) / NULLIF(n_child, 0) AS containment,
           (n_contained = n_child) AS is_inclusion
    FROM pairs ORDER BY candidate
"""


@register(
    "profile_fk_candidates",
    _fk_oracle(),
    tags=("profiling", "surplus", "pipeline"),
)
def profile_fk_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency report over candidate FK pairs: per pair, the
    child/parent distinct cardinalities, how many distinct child values the
    parent contains, the containment ratio, and the is_inclusion verdict.

    Scale shape per pair (r11 restructure — one scan per side, measured
    21.6 -> 9.2 s at sf10): both sides collapse to tagged key streams
    ``(v, in_child, in_parent)`` that UNION into ONE map-side-combinable
    aggregate on v — n_child = distinct child keys, n_parent = distinct
    parent keys, n_contained = keys seen on both sides — so each pair costs
    one column-pruned scan per side and ONE shuffle of distinct keys total.
    The previous shape planned three consumers (two distinct-counts + a
    LEFT SEMI containment join) over the same distinct sets, which
    re-executed each side's scan+distinct per consumer (no ReusedExchange
    across the crossJoin boundaries — lineitem's distinct ran twice at
    sf10). No raw-table join, no window; the report is |pairs| rows. The
    containment ratio is one IEEE division of exact counts with a NULLIF
    guard, identical in both engines."""
    rows = []
    for ct, cc, pt, pc in _FK_PAIRS:
        child = (
            read_table(spark, sf_dir, ct)
            .filter(F.col(cc).isNotNull())
            .select(
                F.col(cc).cast("bigint").alias("v"),
                F.lit(1).alias("inc"),
                F.lit(0).alias("inp"),
            )
        )
        parent = (
            read_table(spark, sf_dir, pt)
            .filter(F.col(pc).isNotNull())
            .select(
                F.col(pc).cast("bigint").alias("v"),
                F.lit(0).alias("inc"),
                F.lit(1).alias("inp"),
            )
        )
        g = child.unionAll(parent).groupBy("v").agg(
            F.max("inc").alias("inc"), F.max("inp").alias("inp")
        )
        rows.append(
            g.agg(
                F.sum("inc").cast("bigint").alias("n_child"),
                F.sum("inp").cast("bigint").alias("n_parent"),
                F.sum(F.col("inc") * F.col("inp")).cast("bigint").alias(
                    "n_contained"
                ),
            ).select(
                F.lit(f"{ct}.{cc} -> {pt}.{pc}").alias("candidate"),
                "n_child",
                "n_parent",
                "n_contained",
            )
        )
    stacked = rows[0]
    for r in rows[1:]:
        stacked = stacked.unionByName(r)
    return stacked.select(
        "candidate",
        "n_child",
        "n_parent",
        "n_contained",
        F.expr("CAST(n_contained AS DOUBLE) / NULLIF(n_child, 0)").alias(
            "containment"
        ),
        (F.col("n_contained") == F.col("n_child")).alias("is_inclusion"),
    ).orderBy("candidate")


# --------------------------------------------------------------------------
# Bounded BFS hop distances (r9 cont.): the traversal class the graph tier
# was missing — components label reachability, pagerank scores it, k-core
# prunes it, but none answer "HOW FAR is everything from here", the
# primitive behind blast-radius/recommendation-horizon queries. Exact
# distances need iterated minimum over frontiers (not expressible as one
# join/aggregate); bounded unrolled rounds are the proven realization
# (dedup_clusters / kcore), and the oracle replays them as a recursive CTE.
# --------------------------------------------------------------------------
BFS_MAX_HOPS = 4


@register(
    "graph_bfs_hops",
    f"""
    WITH RECURSIVE {_EDGE_CTES},
    und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    seed AS (SELECT MIN(u) AS s FROM edges),
    bfs(node, d) AS (
        SELECT s, 0 FROM seed
        UNION
        SELECT und.v, bfs.d + 1
        FROM bfs JOIN und ON und.u = bfs.node
        WHERE bfs.d < {BFS_MAX_HOPS})
    SELECT node, CAST(MIN(d) AS BIGINT) AS hops
    FROM bfs GROUP BY node ORDER BY node
    """,
    tags=("graph", "surplus", "pipeline"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hop distances (<= {BFS_MAX_HOPS}) from the smallest co-purchase
    node: {BFS_MAX_HOPS} unrolled frontier-expansion rounds, each one
    dist⋈edges join + a MIN-dist aggregate over (previous ∪ expanded).

    Scale shape: the distance frame is NODE-sized (never path-sized — the
    MIN aggregate after every round is what keeps the 100 TB variant
    bounded; the oracle's recursive CTE enumerates paths because DuckDB
    dedups them engine-side). Each round localCheckpoints (the kcore
    lesson: the next round references the frame twice, and lazy lineage
    re-executes prior rounds multiplicatively). The undirected expansion
    reads the memoized family edge frame; hop counts stay exact integers,
    so the entry is hash-exact with zero float columns."""
    edges = shared_co_edges(spark, sf_dir)
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    dist = (
        edges.agg(F.min("u").alias("node"))
        .select("node", F.lit(0).cast("int").alias("d"))
        .localCheckpoint(eager=True)
    )
    for _ in range(BFS_MAX_HOPS):
        nxt = dist.join(und, dist["node"] == und["u"]).select(
            und["v"].alias("node"), (dist["d"] + 1).alias("d")
        )
        dist = (
            dist.unionAll(nxt)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
    return dist.select(
        "node", F.col("d").cast("bigint").alias("hops")
    ).orderBy("node")


# --------------------------------------------------------------------------
# Bitmap activity rollup (r9 cont.): audience counting via bit algebra —
# the roaring-bitmap idea at its SQL-expressible core. A month of per-user
# activity collapses into ONE BIGINT (bit d-1 = active on day d), after
# which every downstream audience question (active days, engagement tiers,
# weekend-only users, partial-aggregate merges) is word-level integer
# arithmetic instead of row expansion: the user x day fact never leaves the
# map side. The merge receipt pins the algebra that makes bitmaps
# partial-aggregable (bit_or over ANY partition axis folds to the same
# word), which is exactly why Spark can combine them map-side at 100 TB.
# --------------------------------------------------------------------------

def user_month_bitmaps(ev):
    """(user_id, month, bm) day-of-month activity bitmaps — the reusable
    kernel behind ev_bitmap_rollup and the streaming monitor
    (streaming/windows.py::stream_bitmap_monitor), kept in one place so the
    batch and stream paths cannot drift arithmetically. bm is one BIGINT
    per (user, month): bit d-1 set iff the user was active on day d."""
    day_bit = F.expr("shiftleft(CAST(1 AS BIGINT), day(ts) - 1)")
    month_col = F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month")
    return (
        ev.select("user_id", month_col, day_bit.alias("db"))
        .groupBy("user_id", "month")
        .agg(F.expr("bit_or(db)").alias("bm"))
    )


@register(
    "ev_bitmap_rollup",
    """
    WITH um AS (
        SELECT user_id, strftime(date_trunc('month', ts), '%Y-%m') AS month,
               CAST(date_trunc('month', ts) AS DATE) AS m0,
               bit_or(1::BIGINT
                      << (CAST(EXTRACT(day FROM ts) AS INT) - 1)) AS bm
        FROM events GROUP BY 1, 2, 3),
    umt AS (
        SELECT user_id, month, bit_or(pbm) AS bm2
        FROM (SELECT user_id,
                     strftime(date_trunc('month', ts), '%Y-%m') AS month,
                     event_type,
                     bit_or(1::BIGINT
                            << (CAST(EXTRACT(day FROM ts) AS INT) - 1)) AS pbm
              FROM events GROUP BY 1, 2, 3)
        GROUP BY 1, 2),
    masks AS (
        SELECT strftime(m0, '%Y-%m') AS month,
               bit_or(CASE WHEN isodow(d) <= 5
                           THEN 1::BIGINT << (CAST(EXTRACT(day FROM d) AS INT) - 1)
                           ELSE 0::BIGINT END) AS weekday_mask
        FROM (SELECT DISTINCT CAST(date_trunc('month', ts) AS DATE) AS m0
              FROM events) mo,
             LATERAL (SELECT UNNEST(generate_series(m0, last_day(m0),
                                    INTERVAL 1 DAY)) AS d) g
        GROUP BY 1)
    SELECT um.month,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(bit_count(bm) AS BIGINT)) AS BIGINT) AS user_days,
           CAST(MAX(CAST(bit_count(bm) AS BIGINT)) AS BIGINT) AS max_days,
           CAST(SUM(CASE WHEN bit_count(bm) >= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS engaged10,
           CAST(SUM(CASE WHEN (bm & weekday_mask) = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS weekend_only,
           bool_and(bm = bm2) AS merge_exact
    FROM um
    JOIN umt USING (user_id, month)
    JOIN masks ON masks.month = um.month
    GROUP BY um.month ORDER BY um.month
    """,
    tags=("bitmap", "surplus", "pipeline"),
)
def ev_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month audience rollup over per-user day-of-month activity
    bitmaps: one BIGINT per (user, month) via bit_or(1 << day-1), then
    audience metrics as word arithmetic — active user-days (popcount sum),
    the single most-active user's day count, a >=10-active-days engagement
    tier, weekend-only users (bitmap AND the month's weekday mask = 0, the
    mask itself built by bit_or over the month's calendar), and a
    merge-exactness receipt: re-deriving each bitmap as the bit_or of
    per-event-type PARTIAL bitmaps must reproduce the direct word
    (bool_and-pinned per month) — the associativity that lets Spark fold
    bitmaps map-side across any partitioning.

    Scale shape: the only exchange is the (user, month) group-by, and
    partial bit_or runs map-side before it, so each task ships one word per
    (user, month) it saw — the fact rows never shuffle. Masks are
    |months| x 31 generated rows, broadcast. Every column is exact integer
    or boolean; bit_count/bit_or are bit-identical across engines.

    Reference analogue: none (SURVEY §2 extension tier; the reference has
    no bitmap or date-dimension machinery)."""
    ev = read_table(spark, sf_dir, "events")
    day_bit = F.expr("shiftleft(CAST(1 AS BIGINT), day(ts) - 1)")
    month_col = F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month")
    um = user_month_bitmaps(ev).withColumn(
        "m0", F.to_date(F.concat(F.col("month"), F.lit("-01")))
    )
    umt = (
        ev.select("user_id", month_col, "event_type", day_bit.alias("db"))
        .groupBy("user_id", "month", "event_type")
        .agg(F.expr("bit_or(db)").alias("pbm"))
        .groupBy("user_id", "month")
        .agg(F.expr("bit_or(pbm)").alias("bm2"))
    )
    months = ev.select(
        F.date_trunc("month", "ts").cast("date").alias("m0")
    ).distinct()
    masks = (
        months.select(
            F.date_format("m0", "yyyy-MM").alias("month"),
            F.explode(
                F.sequence(F.col("m0"), F.last_day("m0"), F.expr("INTERVAL 1 DAY"))
            ).alias("d"),
        )
        .select(
            "month",
            F.when(
                F.weekday("d") <= 4,
                F.expr("shiftleft(CAST(1 AS BIGINT), day(d) - 1)"),
            ).otherwise(F.lit(0).cast("bigint")).alias("wb"),
        )
        .groupBy("month")
        .agg(F.expr("bit_or(wb)").alias("weekday_mask"))
    )
    joined = um.join(umt, ["user_id", "month"]).join(
        F.broadcast(masks), "month"
    )
    return (
        joined.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.expr("CAST(bit_count(bm) AS BIGINT)")).cast("bigint").alias("user_days"),
            F.max(F.expr("CAST(bit_count(bm) AS BIGINT)")).cast("bigint").alias("max_days"),
            F.sum(
                F.when(F.expr("bit_count(bm)") >= 10, 1).otherwise(0)
            ).cast("bigint").alias("engaged10"),
            F.sum(
                F.when(F.expr("(bm & weekday_mask) = 0"), 1).otherwise(0)
            ).cast("bigint").alias("weekend_only"),
            F.expr("bool_and(bm = bm2)").alias("merge_exact"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Functional-dependency profiling (r9 cont.): the WITHIN-table sibling of
# profile_fk_candidates' cross-table inclusion dependencies. A determinant
# set X functionally determines Y iff |distinct(X)| = |distinct(X, Y)| —
# two distinct aggregates per candidate, no join, no window. Schema-
# discovery stacks (Metanome/HyFD class) run exactly this check as their
# verification primitive; here each candidate's verdict plus its violation
# mass is a first-class oracle row.
# --------------------------------------------------------------------------
_FD_CANDIDATES: list[tuple[str, tuple[str, ...], str]] = [
    # (table, determinant columns, dependent column)
    ("orders", ("o_orderkey",), "o_custkey"),            # PK -> holds
    ("orders", ("o_custkey",), "o_orderpriority"),       # violated
    ("lineitem", ("l_orderkey", "l_linenumber"), "l_shipdate"),  # PK -> holds
    ("lineitem", ("l_partkey",), "l_suppkey"),           # 1:N -> violated
    ("documents", ("doc_id",), "lang"),                  # PK -> holds
    ("documents", ("source",), "lang"),                  # violated
    ("events", ("event_id",), "user_id"),                # PK -> holds
]


def _fd_oracle() -> str:
    parts = []
    for t, det, dep in _FD_CANDIDATES:
        dcols = ", ".join(det)
        name = f"{t}.({dcols}) -> {dep}"
        parts.append(f"""
        SELECT '{name}' AS candidate,
               (SELECT COUNT(*) FROM (SELECT DISTINCT {dcols} FROM {t}))
                   AS n_det,
               (SELECT COUNT(*) FROM (SELECT DISTINCT {dcols}, {dep} FROM {t}))
                   AS n_pair""")
    stacked = "\nUNION ALL\n".join(parts)
    return f"""
    WITH raw AS ({stacked})
    SELECT candidate, CAST(n_det AS BIGINT) AS n_det,
           CAST(n_pair AS BIGINT) AS n_pair,
           (n_pair = n_det) AS fd_holds,
           CAST(n_pair - n_det AS BIGINT) AS extra_rhs_values,
           CAST(n_pair - n_det AS DOUBLE) / NULLIF(n_det, 0) AS violation_ratio
    FROM raw ORDER BY candidate
    """


@register(
    "profile_functional_deps",
    _fd_oracle(),
    tags=("profiling", "surplus", "pipeline"),
)
def profile_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency verification report over candidate X -> Y
    pairs: per candidate, |distinct(X)|, |distinct(X u Y)|, the holds
    verdict (equality of the two), the count of surplus RHS values, and a
    violation ratio. Covers single- and composite-column determinants, with
    deliberately-true (primary keys) and deliberately-false candidates so
    both verdicts are exercised.

    Scale shape per candidate: ONE corpus-scale pass — the raw table is
    scanned once and shuffled once for the (X, Y) pair-distinct
    (map-side combinable); BOTH counts then fold out of that frame
    (group the distinct pairs by X: n_det = group count, n_pair = row
    count), so the determinant-side distinct never touches the raw table
    (r10 fold: the previous two-independent-distincts layout scanned and
    shuffled the corpus twice per candidate — honest cost 31.5 s at sf10
    once the count-pruning ladder artifact was fixed). Distinctness is
    subquery-distinct + COUNT(*) in BOTH engines (never
    COUNT(DISTINCT a, b), whose NULL-row semantics differ between Spark
    and DuckDB; groupBy treats NULL as a group in both, matching). At
    100 TB a candidate costs one group-by of its column set; candidates
    are independent and pipeline in parallel.

    Reference analogue: none (profiling tier alongside profile_table /
    profile_fk_candidates)."""
    rows = []
    for t, det, dep in _FD_CANDIDATES:
        tb = read_table(spark, sf_dir, t)
        dcols = ", ".join(det)
        name = f"{t}.({dcols}) -> {dep}"
        pairs = tb.select(*det, dep).distinct()
        per_det = pairs.groupBy(*det).agg(
            F.count(F.lit(1)).cast("bigint").alias("rhs_n")
        )
        rows.append(
            per_det.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_det"),
                F.sum("rhs_n").cast("bigint").alias("n_pair"),
            ).select(F.lit(name).alias("candidate"), "n_det", "n_pair")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "candidate",
        "n_det",
        "n_pair",
        (F.col("n_pair") == F.col("n_det")).alias("fd_holds"),
        (F.col("n_pair") - F.col("n_det")).cast("bigint").alias("extra_rhs_values"),
        F.expr(
            "CAST(n_pair - n_det AS DOUBLE) / NULLIF(n_det, 0)"
        ).alias("violation_ratio"),
    ).orderBy("candidate")


# --------------------------------------------------------------------------
# Markov stationary distribution (r9 cont.): ev_event_transitions builds
# the chain's transition matrix; this entry answers the question the matrix
# exists for — where does the process SPEND ITS TIME — via unrolled power
# iteration (pi' = pi P), the same bounded-rounds realization as pagerank.
# Exactness recipe: pi lives as BIGINT nano-probabilities; each update term
# is ONE fixed-shape IEEE expression (pi_nano * n_edge / n_row_total)
# ROUNDed back to nano-units BEFORE the per-state sum, so every reduction
# is associative integer addition at any parallelism (the chi2/TWA recipe
# applied to an iterative kernel).
# --------------------------------------------------------------------------
MARKOV_ROUNDS = 3
_NANO = 1_000_000_000


def _markov_oracle() -> str:
    # pi0 = uniform over states, in nano-units (remainder on the first state
    # so the total is exactly 1e9)
    step = """
    pi{j} AS (
        SELECT t.next_type AS state,
               CAST(SUM(CAST(ROUND(CAST(p.nano AS DOUBLE) * t.n / t.row_total)
                             AS BIGINT)) AS BIGINT) AS nano
        FROM pi{i} p JOIN trans t ON t.prev_type = p.state
        GROUP BY t.next_type)"""
    chain = ",".join(
        step.format(i=i, j=i + 1) for i in range(MARKOV_ROUNDS)
    )
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS BIGINT)
                   AS row_total
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type),
    states AS (
        SELECT prev_type AS state,
               ROW_NUMBER() OVER (ORDER BY prev_type) AS sid,
               COUNT(*) OVER () AS n_states
        FROM (SELECT DISTINCT prev_type FROM trans)),
    pi0 AS (
        SELECT state,
               CAST({_NANO} // n_states
                    + CASE WHEN sid = 1 THEN {_NANO} % n_states
                           ELSE 0 END AS BIGINT) AS nano
        FROM states),
    {chain}
    SELECT state, nano AS pi_nano,
           CAST(nano AS DOUBLE) / {_NANO} AS pi,
           (SELECT CAST(SUM(nano) AS BIGINT) FROM pi{MARKOV_ROUNDS})
               AS total_nano
    FROM pi{MARKOV_ROUNDS} ORDER BY state
    """


@register(
    "ev_markov_stationary",
    _markov_oracle(),
    tags=("analytics", "graph", "surplus", "pipeline"),
)
def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain after
    {MARKOV_ROUNDS} power-iteration rounds from the uniform start (remainder
    nano-units assigned to the first state so pi0 sums to exactly 1e9).
    Emits each state's nano-integer mass, its double rendering, and the
    chain-wide total as the conservation receipt. Two distinct leaks show
    up in that total, and the receipt deliberately exposes both: (a)
    per-term ROUND drift (bounded by one nano-unit per matrix cell per
    round — never float accumulation order), and (b) SINK-STATE loss:
    each round's inner join on prev_type DROPS the entire mass of any
    state with no outgoing transitions (one that appears only as a
    next_type), so total_nano can fall far below 1e9 when the chain has
    absorbing states. The state list is built from DISTINCT prev_type, so
    such states also vanish from the output rows — this entry computes
    the stationary mass over the recurrent communicating part, matching
    the oracle exactly (both engines drop identically). A conservation-
    strict variant would add implicit self-loops for sinks; the event
    corpus here has none (every type both enters and exits), and since
    r11 that precondition is ENFORCED, not just observable: a constant-
    cost anti-join (distinct next_type minus distinct prev_type over the
    checkpointed matrix) raise_error()s if a sink appears (ADVICE r10).

    Scale shape: the corpus collapses to the |types|^2 transition matrix
    FIRST (one lag window on the user exchange + a map-side-combinable
    bigram aggregate — ev_event_transitions' plan); each round is then a
    join+aggregate over <= |types|^2 rows, constant work at any SF. Each
    update term is one fixed-shape IEEE expression rounded to nano-units
    BEFORE the per-state integer sum.

    Reference analogue: none (sequence-analytics tier beside
    ev_event_transitions / graph_pagerank)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    wtot = Window.partitionBy("prev_type")
    trans = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("row_total", F.sum("n").over(wtot).cast("bigint"))
        # |types|^2 rows; checkpointed so the unrolled rounds join a
        # materialized matrix instead of re-running the corpus lag window
        # once per round (the BFS/kcore lesson)
        .localCheckpoint(eager=True)
    )
    ws = Window.orderBy("state").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    states = (
        trans.select(F.col("prev_type").alias("state"))
        .distinct()
        .withColumn(
            "sid", F.row_number().over(Window.orderBy("state"))
        )
        .withColumn("n_states", F.count(F.lit(1)).over(ws))
    )
    pi = states.select(
        "state",
        (
            F.expr(f"{_NANO} DIV n_states")
            + F.when(F.col("sid") == 1, F.expr(f"{_NANO} % n_states")).otherwise(0)
        ).cast("bigint").alias("nano"),
    )
    for _ in range(MARKOV_ROUNDS):
        pi = (
            pi.join(trans, pi.state == trans.prev_type)
            .select(
                F.col("next_type").alias("state"),
                F.expr(
                    "CAST(ROUND(CAST(nano AS DOUBLE) * n / row_total)"
                    " AS BIGINT)"
                ).alias("term"),
            )
            .groupBy("state")
            .agg(F.sum("term").cast("bigint").alias("nano"))
        )
    tot = pi.agg(F.sum("nano").cast("bigint").alias("total_nano"))
    # sink-free precondition, ENFORCED (ADVICE r10): a state appearing only
    # as next_type would silently drain its whole mass each round (the
    # documented inner-join loss), observable only by reading the receipt.
    # The anti-join runs over the two <= |types|-row distinct projections of
    # the checkpointed matrix — constant cost — and raise_error()s loudly if
    # a future corpus introduces an absorbing state, instead of shipping a
    # quietly non-conserving total.
    sinks = (
        trans.select(F.col("next_type").alias("t"))
        .distinct()
        .join(
            trans.select(F.col("prev_type").alias("t")).distinct(),
            "t",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n_sinks"))
    )
    tot = tot.crossJoin(F.broadcast(sinks)).select(
        F.expr(
            "CASE WHEN __n_sinks > 0 THEN CAST(raise_error(concat("
            "'ev_markov_stationary: ', CAST(__n_sinks AS STRING),"
            " ' sink state(s) with no outgoing transitions — mass would"
            " drain each round; add self-loops or drop the sinks'))"
            " AS BIGINT) ELSE total_nano END"
        ).alias("total_nano")
    )
    return (
        pi.crossJoin(F.broadcast(tot))
        .select(
            "state",
            F.col("nano").alias("pi_nano"),
            F.expr(f"CAST(nano AS DOUBLE) / {_NANO}").alias("pi"),
            "total_nano",
        )
        .orderBy("state")
    )
