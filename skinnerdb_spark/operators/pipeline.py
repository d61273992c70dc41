"""Training-data pipeline operators beyond dedup/similarity: chunking,
deterministic stratified sampling, eval-set contamination detection, and
embedding quantization (beyond-reference tier — the reference has no
documents/embeddings model at all).

Scale notes: chunking is a pure map-side explode (rows multiply, no
shuffle); sampling is a stateless hash filter (perfectly reproducible across
reruns and engines — no RNG); contamination joins on shingle keys only (the
same bounded-key shape as the dedup family); quantization is one in-row
array transform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skinnerdb_spark.operators.dedup import _SHINGLE_SET_CTES, shared_shingle_sets
from skinnerdb_spark.operators.textprims import MD5_INT, fan_out, md5_int
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register

CHUNK_WORDS = 40  # chunk size (words)
CHUNK_STRIDE = 30  # overlap = CHUNK_WORDS - CHUNK_STRIDE


# --------------------------------------------------------------------------
# chunking: fixed word windows with overlap — the pre-tokenization split
# every LLM data pipeline runs before packing sequences
# --------------------------------------------------------------------------
@register(
    "text_chunking",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    chunks AS (
        SELECT doc_id,
               CAST(g.s AS INTEGER) // {CHUNK_STRIDE} AS chunk_idx,
               array_to_string(ws[g.s + 1 : g.s + {CHUNK_WORDS}], ' ') AS chunk_text,
               LEAST({CHUNK_WORDS}, len(ws) - g.s) AS chunk_words
        FROM w, UNNEST(generate_series(0, GREATEST(len(ws) - 1, 0), {CHUNK_STRIDE})) AS g(s))
    SELECT doc_id, chunk_idx, chunk_text, chunk_words
    FROM chunks WHERE chunk_words > 0
    """,
    tags=("pipeline", "chunking"),
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunks (40 words, stride 30 — constants
    CHUNK_WORDS/CHUNK_STRIDE): one explode per document, no shuffle — rows multiply
    map-side exactly like a production pre-packing split. Emits per-chunk
    position and true length (final chunk may be short)."""
    d = fan_out(read_table(spark, sf_dir, "documents"))
    w = d.select("doc_id", F.split("text", " ").alias("ws"))
    starts = F.expr(f"sequence(0, greatest(size(ws) - 1, 0), {CHUNK_STRIDE})")
    return (
        w.select("doc_id", "ws", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.expr(f"slice(ws, s + 1, {CHUNK_WORDS})")).alias("chunk_text"),
            F.least(F.lit(CHUNK_WORDS), F.size("ws") - F.col("s")).alias("chunk_words"),
        )
        .filter(F.col("chunk_words") > 0)
    )


# --------------------------------------------------------------------------
# stratified sampling: deterministic hash-uniform per stratum — reproducible
# across engines, reruns, and cluster sizes (no RNG, no seed plumbing)
# --------------------------------------------------------------------------
_STRATA_RATES = {"short": 1.0, "medium": 0.5, "long": 0.25}


def _stratum_sql(len_expr: str) -> str:
    return (
        f"CASE WHEN {len_expr} < 120 THEN 'short' "
        f"WHEN {len_expr} < 400 THEN 'medium' ELSE 'long' END"
    )


@register(
    "sample_stratified",
    f"""
    WITH s AS (
        SELECT doc_id,
               {_stratum_sql('LENGTH(text)')} AS stratum,
               CAST({MD5_INT("CAST(doc_id AS VARCHAR)", 8)} AS DOUBLE) / 4294967296.0 AS u
        FROM documents)
    SELECT stratum, COUNT(*) AS n_sampled, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s
    WHERE u < CASE stratum WHEN 'short' THEN {_STRATA_RATES['short']}
                           WHEN 'medium' THEN {_STRATA_RATES['medium']}
                           ELSE {_STRATA_RATES['long']} END
    GROUP BY stratum
    """,
    tags=("pipeline", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum (doc length band) downsampling with a deterministic
    md5-derived uniform: u = first 8 hex digits of md5(doc_id) / 2^32. The
    same doc is kept or dropped identically on any engine, any partition
    layout, any rerun — the property RNG-based df.sample cannot give a data
    pipeline. One map-side filter + one groupBy."""
    d = read_table(spark, sf_dir, "documents")
    u = F.expr(md5_int("CAST(doc_id AS STRING)", 8)).cast("double") / F.lit(4294967296.0)
    rate = F.when(F.col("stratum") == "short", _STRATA_RATES["short"]).when(
        F.col("stratum") == "medium", _STRATA_RATES["medium"]
    ).otherwise(_STRATA_RATES["long"])
    return (
        d.select("doc_id", F.expr(_stratum_sql("LENGTH(text)")).alias("stratum"), u.alias("u"))
        .filter(F.col("u") < rate)
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# --------------------------------------------------------------------------
# contamination check: which corpus docs share enough shingles with the
# held-out eval set (doc_id < EVAL_DOCS) to be decontaminated before training
# --------------------------------------------------------------------------
EVAL_DOCS = 20
CONTAM_MIN_SHARED = 2
#: hard ceiling on the broadcast eval-shingle array (same guard pattern as
#: dedup.LSH_MAX_BUCKET): the check assumes "eval set is megabytes, corpus is
#: 100 TB" — a mis-scoped EVAL_DOCS boundary would otherwise fold an
#: unbounded shingle set into one row and OOM an executor. A fired cap
#: degrades LOUDLY: warning here + :func:`contamination_eval_report`.
CONTAM_MAX_EVAL = 1_000_000


def _capped_eval_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row (ev_set) DataFrame of distinct eval shingles, deterministically
    truncated to CONTAM_MAX_EVAL (lexicographic order, lowest first).

    The bound is enforced BEFORE any single-row aggregation:
    distinct -> orderBy -> limit(cap) runs as a TakeOrdered (each executor
    holds at most cap rows), so a mis-scoped EVAL_DOCS cannot OOM the
    collect step — the final fold only ever sees <= cap rows. A FIRED cap
    (eval set actually larger than the bound) warns loudly, since the DuckDB
    oracle never caps and the gate would diverge."""
    cap = CONTAM_MAX_EVAL
    sets = shared_shingle_sets(spark, sf_dir)
    distinct = (
        sets.filter(F.col("doc_id") < EVAL_DOCS)
        .select(F.explode("sh_set").alias("s"))
        .distinct()
    )
    # cheap fired-cap probe: limit(cap+1) bounds the count job itself
    n_probe = distinct.limit(cap + 1).count()
    if n_probe > cap:
        import warnings

        warnings.warn(
            f"CONTAM_MAX_EVAL={cap} FIRED: eval shingle set exceeds the cap; "
            "shingles were dropped and contamination_check will diverge from "
            "the uncapped DuckDB oracle; see contamination_eval_report()",
            stacklevel=2,
        )
    return (
        distinct.orderBy("s")
        .limit(cap)
        .agg(F.array_sort(F.collect_list("s")).alias("ev_set"))
    )


def contamination_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_eval_shingles, cap, n_dropped): what the eval-array cap
    would drop — the contamination twin of dedup.hot_bucket_report ('no
    silent caps')."""
    cap = CONTAM_MAX_EVAL
    return (
        shared_shingle_sets(spark, sf_dir)
        .filter(F.col("doc_id") < EVAL_DOCS)
        .select(F.explode("sh_set").alias("s"))
        .agg(F.count_distinct(F.col("s")).alias("n_eval_shingles"))
        .select(
            "n_eval_shingles",
            F.lit(cap).alias("cap"),
            F.greatest(F.col("n_eval_shingles") - cap, F.lit(0)).alias("n_dropped"),
        )
    )


@register(
    "contamination_check",
    f"""
    WITH {_SHINGLE_SET_CTES},
    ev AS (SELECT DISTINCT s FROM shd WHERE doc_id < {EVAL_DOCS}),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS shared_shingles
        FROM shd c JOIN ev ON c.s = ev.s
        WHERE c.doc_id >= {EVAL_DOCS}
        GROUP BY c.doc_id)
    SELECT doc_id, shared_shingles
    FROM hits WHERE shared_shingles >= {CONTAM_MIN_SHARED}
    """,
    tags=("pipeline", "contamination"),
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: corpus docs sharing >= CONTAM_MIN_SHARED
    distinct 3-gram shingles with the eval set (doc_id < EVAL_DOCS). The
    eval shingle set is small by construction — it is folded into ONE array
    row and broadcast, so the check is a map-side crossJoin +
    ``size(array_intersect(...))`` per corpus doc (the same in-row shape as
    the dedup verify stage, dedup.py:_exact_jaccard_on_candidates): zero
    explodes, zero shuffles over the corpus — the shape that works when the
    corpus is 100 TB and the eval set is megabytes. The folded array is
    bounded by ``CONTAM_MAX_EVAL`` (1M — never fires on a sane eval set);
    a fired cap warns and is observable via :func:`contamination_eval_report`."""
    sets = shared_shingle_sets(spark, sf_dir)
    ev = _capped_eval_set(spark, sf_dir)
    return (
        sets.filter(F.col("doc_id") >= EVAL_DOCS)
        .crossJoin(F.broadcast(ev))
        .select(
            "doc_id",
            F.size(F.array_intersect("sh_set", "ev_set")).alias("shared_shingles"),
        )
        .filter(F.col("shared_shingles") >= CONTAM_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# sequence packing: concatenate documents in deterministic order and split at
# a token budget — the batch-prep step between chunking and training. This is
# contiguous-fill packing (the pretraining default: docs are concatenated in
# corpus order and cut at the boundary), which is pure window algebra — the
# greedy first-fit variant would need per-row state and is deliberately NOT
# implemented as a Python loop.
# --------------------------------------------------------------------------
PACK_TOKENS = 256  # sequence budget (whitespace tokens)


@register(
    "pack_sequences",
    f"""
    WITH toks AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents WHERE text IS NOT NULL),
    cum AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM toks),
    binned AS (
        SELECT source, doc_id, n_tokens,
               CAST((cum_tokens - n_tokens) // {PACK_TOKENS} AS BIGINT) AS seq_id
        FROM cum)
    SELECT source, seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM binned
    GROUP BY source, seq_id
    """,
    tags=("pipeline", "packing"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~PACK_TOKENS-token training sequences per source:
    running token count in deterministic (doc_id) order, sequence id =
    which budget window the document STARTS in. Fully deterministic across
    engines and partitionings (no greedy state, no RNG); one window shuffle
    on source + one groupBy. Sequences can exceed the budget by at most one
    document's tail — exactly the semantics of boundary-split concatenation
    used in pretraining batch prep."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = toks.withColumn(
        "seq_id",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_TOKENS)
        .cast("long"),
    )
    return binned.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --------------------------------------------------------------------------
# embedding quantization: per-vector symmetric int8 — the storage/serving
# format for large ANN corpora (4x smaller than float32, 8x than float64)
# --------------------------------------------------------------------------
@register(
    "embed_quantize",
    """
    WITH scaled AS (
        SELECT vec_id,
               (SELECT MAX(ABS(CAST(x AS DOUBLE))) FROM UNNEST(embedding) AS t(x)) AS absmax
        FROM embeddings),
    q AS (
        SELECT e.vec_id, s.absmax,
               [CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / s.absmax + 0.5) AS INTEGER)
                FOR x IN e.embedding] AS q8
        FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
        WHERE s.absmax > 0)
    SELECT vec_id, absmax, q8[1] AS q8_first,
           (SELECT MIN(v) FROM UNNEST(q8) AS t(v)) AS q8_min,
           (SELECT MAX(v) FROM UNNEST(q8) AS t(v)) AS q8_max
    FROM q
    """,
    tags=("pipeline", "embedding"),
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector: q = floor(x * 127 / absmax
    + 0.5) (explicit floor(+0.5) so Spark and DuckDB round half-cases
    identically — bankers'-rounding differences would break the gate). One
    in-row transform, no shuffle; emits the scale plus min/max/first summary
    columns (the full q8 array round-trips but would bloat the hash check)."""
    e = fan_out(read_table(spark, sf_dir, "embeddings"))
    q = e.select(
        "vec_id",
        F.expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").alias("absmax"),
        F.col("embedding"),
    ).filter(F.col("absmax") > 0)
    q8 = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / absmax + 0.5) AS INT))"
    )
    return q.select(
        "vec_id",
        "absmax",
        q8.alias("q8"),
    ).select(
        "vec_id",
        "absmax",
        F.element_at("q8", 1).alias("q8_first"),
        F.array_min("q8").alias("q8_min"),
        F.array_max("q8").alias("q8_max"),
    )
