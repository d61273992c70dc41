"""Hybrid retrieval — sparse (BM25) + dense (cosine) fused by reciprocal
rank fusion, the standard two-tower retrieval pattern RAG / dataset-search
pipelines run over a corpus + its embeddings.

RRF (Cormack et al.): fused(d) = Σ_lists 1/(k0 + rank_list(d)), k0 = 60.
Robust to score-scale mismatch between the two retrievers because only
RANKS enter the fusion — which is also what makes it cross-engine exact
here: ranks are tie-broken integers, and each 1/(60+r) term is ONE IEEE
division (scaled to an integer via floor(1e12/(60+r)) so the two-term sum
is exact int64 arithmetic, no float-accumulation order anywhere).

Sparse side: the docs_bm25_topk scoring machinery (exact-integer BM25
ratio, analytics.py) aggregated per DOCUMENT over the fixed query terms —
per-(term, doc) scores are quantized ROUND(score*1e6)::BIGINT (the
kmeans/power-iteration recipe: identical in Spark and DuckDB) so the
per-doc sum is associative and hash-stable. Dense side: exact cosine of
every corpus vector against the query vector (vec_id {RRF_QUERY_VEC}'s
embedding — doc_id = vec_id is the canonical text<->vector linkage,
operators/curation.py). Both lists take their top {RRF_K} via ranked_topk
(TakeOrderedAndProject — no corpus-sized unpartitioned window), the fusion
full-outer-joins two <= {RRF_K}-row frames, and the final rank orders a
<= 2*{RRF_K}-row frame: everything after the two corpus scans is
bounded-size by construction.

At 100 TB: one scan of documents (token stream pre-filtered to query terms
by a broadcast join), one scan of embeddings (query vector broadcast),
top-k per side distributed — the fusion itself is constant-size. This is
the cheapest possible hybrid-retrieval shape.

Reference analogue: none — retrieval tier extends SURVEY §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skinnerdb_spark.operators.analytics import (
    BM25_SCORED_CTES,
    BM25_TERMS,
    shared_bm25_tf,
    shared_doc_lengths,
)
from skinnerdb_spark.operators.similarity import (
    NORMED_CTE,
    _oracle_dot,
    dot_exact,
    norm_exact,
)
from skinnerdb_spark.queries.util import read_table, ranked_topk
from skinnerdb_spark.registry import register

RRF_K = 50        # depth of each retriever's candidate list
RRF_TOP = 20      # fused results returned
RRF_K0 = 60       # RRF smoothing constant (the value from the RRF paper)
RRF_QUERY_VEC = 0  # the corpus vector used as the dense query

_RRF_ORACLE = f"""
    WITH {BM25_SCORED_CTES},
    bmdoc AS (SELECT doc_id,
                     CAST(SUM(CAST(ROUND(score * 1000000, 0) AS BIGINT))
                          AS BIGINT) AS sq
              FROM scored GROUP BY doc_id),
    bmtop AS (SELECT doc_id, CAST(r AS BIGINT) AS r_bm25 FROM (
                  SELECT doc_id,
                         ROW_NUMBER() OVER (ORDER BY sq DESC, doc_id) AS r
                  FROM bmdoc)
              WHERE r <= {RRF_K}),
    {NORMED_CTE},
    qv AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM normed
           WHERE vec_id = {RRF_QUERY_VEC}),
    cs AS (SELECT c.vec_id,
                  {_oracle_dot('qv.q_emb', 'c.embedding')} / (qv.q_nrm * c.nrm)
                      AS cosine
           FROM normed c CROSS JOIN qv
           WHERE c.vec_id <> {RRF_QUERY_VEC}),
    ctop AS (SELECT vec_id, CAST(r AS BIGINT) AS r_cos FROM (
                 SELECT vec_id,
                        ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS r
                 FROM cs)
             WHERE r <= {RRF_K}),
    fused AS (
        SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id, b.r_bm25, c.r_cos,
               COALESCE(CAST(FLOOR(1e12 / ({RRF_K0} + b.r_bm25)) AS BIGINT), 0)
             + COALESCE(CAST(FLOOR(1e12 / ({RRF_K0} + c.r_cos)) AS BIGINT), 0)
                   AS rrf
        FROM bmtop b FULL OUTER JOIN ctop c ON b.doc_id = c.vec_id)
    SELECT doc_id, r_bm25, r_cos, rrf, CAST(fr AS BIGINT) AS fused_rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS fr
          FROM fused)
    WHERE fr <= {RRF_TOP}
"""


@register("docs_hybrid_rrf", _RRF_ORACLE, tags=("retrieval", "pipeline", "similarity"))
def docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + dense-cosine retrieval fused by reciprocal rank fusion
    (module docstring): top {RRF_TOP} documents for the fixed query
    ({BM25_TERMS} / vector {RRF_QUERY_VEC}), with each side's rank and the
    exact integer-scaled RRF score."""
    # sparse side: the docs_bm25_topk family frames (r11 — shared, so the
    # corpus tokenize+explode runs once per session across both retrievers)
    dl = shared_doc_lengths(spark, sf_dir)
    corpus = dl.agg(
        F.sum("dl").cast("bigint").alias("sd"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    tf = shared_bm25_tf(spark, sf_dir)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))

    def dec(c):  # 128-bit exact-integer lane (docs_bm25_topk precedent)
        return c.cast("decimal(38,0)")

    num = dec(2 * F.col("n") - 2 * F.col("df") + 1) * 22 * dec(F.col("tf")) * dec(F.col("sd"))
    den = dec(2 * F.col("df") + 1) * (
        10 * dec(F.col("tf")) * dec(F.col("sd"))
        + 3 * dec(F.col("sd"))
        + 9 * dec(F.col("dl")) * dec(F.col("n"))
    )
    score = num.cast("double") / den.cast("double")
    bmdoc = (
        dl.join(tf, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(corpus))
        .select("doc_id", F.round(score * 1_000_000, 0).cast("bigint").alias("sq"))
        .groupBy("doc_id")
        .agg(F.sum("sq").cast("bigint").alias("sq"))
    )
    bmtop = ranked_topk(
        bmdoc, [("sq", "desc"), ("doc_id", "asc")], RRF_K, rnk_col="r_bm25"
    ).select("doc_id", F.col("r_bm25").cast("bigint").alias("r_bm25"))

    e = read_table(spark, sf_dir, "embeddings")
    normed = e.select("vec_id", "embedding", norm_exact("embedding").alias("nrm"))
    qv = normed.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    cs = (
        normed.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            (dot_exact("q_emb", "embedding") / (F.col("q_nrm") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    ctop = ranked_topk(
        cs, [("cosine", "desc"), ("vec_id", "asc")], RRF_K, rnk_col="r_cos"
    ).select("vec_id", F.col("r_cos").cast("bigint").alias("r_cos"))

    rrf = (
        F.coalesce(
            F.floor(F.lit(1e12) / (F.lit(RRF_K0) + F.col("r_bm25"))).cast("bigint"),
            F.lit(0).cast("bigint"),
        )
        + F.coalesce(
            F.floor(F.lit(1e12) / (F.lit(RRF_K0) + F.col("r_cos"))).cast("bigint"),
            F.lit(0).cast("bigint"),
        )
    )
    fused = (
        bmtop.join(ctop, bmtop["doc_id"] == ctop["vec_id"], "full_outer")
        .select(
            F.coalesce(bmtop["doc_id"], ctop["vec_id"]).alias("doc_id"),
            "r_bm25",
            "r_cos",
            rrf.alias("rrf"),
        )
    )
    return ranked_topk(
        fused.select("doc_id", "r_bm25", "r_cos", "rrf"),
        [("rrf", "desc"), ("doc_id", "asc")],
        RRF_TOP,
        rnk_col="fused_rank",
    ).select(
        "doc_id", "r_bm25", "r_cos", "rrf", F.col("fused_rank").cast("bigint").alias("fused_rank")
    )


# --------------------------------------------------------------------------
# docs_inverted_index — the posting-list build behind every sparse retriever
# --------------------------------------------------------------------------

IDX_MIN_DF = 5    # drop hapax/near-hapax terms (index noise, unbounded vocab)
IDX_POST_CAP = 10  # posting-list prefix materialized per term (doc_id order)

_IDX_ORACLE = f"""
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE text IS NOT NULL AND LENGTH(text) > 0),
    toks AS (SELECT doc_id, t.term
             FROM d, UNNEST(string_split(text, ' ')) AS t(term)
             WHERE t.term <> ''),
    tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY term, doc_id),
    r AS (SELECT term, doc_id, tf,
                 ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
          FROM tf)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           array_to_string(
               list(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)
                    ORDER BY doc_id)
                   FILTER (WHERE rn <= {IDX_POST_CAP}),
               ',') AS postings
    FROM r
    GROUP BY term
    HAVING COUNT(*) >= {IDX_MIN_DF}
"""


@register("docs_inverted_index", _IDX_ORACLE, tags=("retrieval", "pipeline", "text"))
def docs_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index (posting-list) build over the corpus: per term with
    document frequency >= {IDX_MIN_DF}, emit df, collection frequency cf,
    and the first {IDX_POST_CAP} postings in doc_id order rendered as the
    canonical ``doc:tf,doc:tf,...`` string — the dictionary+postings table a
    sparse retriever (docs_bm25_topk / docs_hybrid_rrf) serves from.

    Shape: the token stream aggregates to (term, doc_id, tf) partials
    (map-side combinable — the only corpus-sized shuffle); that aggregate
    then feeds two term-keyed branches whose identical exchange subtrees
    Catalyst unifies via ReusedExchange (one scan, one shuffle):

    - stats: plain groupBy(term) for df/cf — no ordering anywhere;
    - postings: row_number per term + an explicit ``rn <= cap`` FILTER, so
      the rank limit compiles to WindowGroupLimit — the per-term top-k is
      taken MAP-SIDE with a bounded heap before the sort. This is the
      hot-term fix: a 100 TB stopword's posting partition never routes its
      full list through one reducer's sort; every partition carries at most
      {IDX_POST_CAP} rows per term into the window. (The first cut kept all
      rows and filtered inside collect_list's ``when()`` — bounded memory,
      but the full per-term SORT remained; the filter form removes it.)

    The final join stitches two vocabulary-sized aggregates that share the
    term hash partitioning — no additional corpus-sized motion. Real
    engines shard long posting lists across segment files; the prefix cap
    is that boundary in miniature.

    Exactness: integers and strings only — bit-identical across engines.

    Reference analogue: none — retrieval tier extends SURVEY §6.
    """
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    rn = F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    posts = (
        tf.withColumn("rn", rn)
        .filter(F.col("rn") <= IDX_POST_CAP)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("doc_id", "tf"))),
                    lambda s: F.concat_ws(
                        ":", s["doc_id"].cast("string"), s["tf"].cast("string")
                    ),
                ),
                ",",
            ).alias("postings")
        )
    )
    return stats.join(posts, "term").filter(F.col("df") >= IDX_MIN_DF)
