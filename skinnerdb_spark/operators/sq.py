"""Scalar-quantization (SQ) ANN — the trainless compressed-vector tier.

Completes the vector-search family's compression axis: brute force (exact,
float32), PQ (learned codebooks, 8-byte codes), and now SQ8 — the
FAISS-ScalarQuantizer / Lucene-int8 code path where each dimension is
uniformly quantized to one byte against per-dimension [min, max] bounds
(64 bytes per 64-dim vector, 4x compression vs float32) and queries score
candidates against the RECONSTRUCTED int8 vectors (asymmetric distance).

Why this tier matters at 100 TB even with PQ in the family: SQ needs NO
TRAINING AT ALL — the "index build" is two aggregates (per-dimension MIN /
MAX), pure relational algebra. That makes this the only ANN entry whose
DuckDB oracle re-derives the ENTIRE path — quantizer, codes, reconstruction,
candidate scoring, and the exact rescore — from the raw parquet alone, with
zero persisted driver-side state (IVF/PQ oracles start from their persisted
centroid/codebook parquets; the deterministic k-means itself is outside
SQL). Operationally it is the tier you deploy first: re-buildable from a
scan, mergeable bounds (min/max are associative), and robust to
distribution drift in a way learned codebooks are not.

Exactness recipe (the embed_jl_distortion / sign-bits int64 lineage):
- every vector is quantized ONCE to int64 micro-units via
  ROUND(x * 1e6) — identical expression both engines;
- per-dim bounds mn_d / rg_d = GREATEST(max-min, 1) are exact int64
  aggregates;
- the byte code is c_d = clamp((v_d - mn_d) * 255 + rg_d DIV 2) DIV rg_d)
  and the reconstruction r_d = mn_d + (c_d * rg_d + 127) DIV 255 — every
  numerator is non-negative, so Spark's truncating DIV and DuckDB's
  flooring // agree exactly;
- the asymmetric distance SUM((q_d - r_d)^2) is a plain int64 fold
  (|q - r| <= corpus value span ~ 1e6 micro-units, squared 1e12, x64 dims
  = 6.4e13 — four orders of magnitude inside int64), so the candidate SET
  is cross-engine identical with (dist, neighbor_id) tie-breaks;
- candidates feed the shared exact-decimal rescore tail, so emitted cosines
  are bit-identical to brute force on the pairs retrieved.

At 100 TB: the bounds aggregate is one map-side-combining pass (64 cells);
codes/reconstruction are in-row projections on the corpus scan (here fused
into the scoring pass; a persisted-codes variant would write them once);
scoring is an embarrassingly parallel corpus scan against the broadcast
query set — same shape as brute force at 1/4 the bytes moved, which is the
point of SQ: scan-rate ANN where the scan itself is the budget.

Reference analogue: none (no vector search in SkinnerDB) — extension tier;
parity target is the family contract in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skinnerdb_spark.operators.similarity import (
    DIM,
    N_QUERIES,
    RESCORE_SQL,
    exact_topk_on_candidates,
)
from skinnerdb_spark.operators.textprims import fan_out
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register

#: asymmetric-distance candidates per query fed to the exact rescore.
#: SQ8's quantization error is tiny (255 levels over the value span), so a
#: small candidate multiple of k suffices; 50 = 2.5% of the sf0.1 corpus.
CAND = 50

_MICRO = "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"

_SQ_ORACLE = f"""
    WITH dims AS (SELECT UNNEST(generate_series(1, {DIM})) AS i),
    long AS (
        SELECT e.vec_id, d.i,
               CAST(ROUND(CAST(e.embedding[CAST(d.i AS INT)] AS DOUBLE)
                          * 1e6, 0) AS BIGINT) AS v
        FROM embeddings e, dims d),
    bounds AS (
        SELECT i, MIN(v) AS mn, GREATEST(MAX(v) - MIN(v), 1) AS rg
        FROM long GROUP BY i),
    recon AS (
        SELECT l.vec_id, l.i,
               b.mn + (LEAST(255, ((l.v - b.mn) * 255 + b.rg // 2) // b.rg)
                       * b.rg + 127) // 255 AS r
        FROM long l JOIN bounds b USING (i)),
    qv AS (SELECT vec_id AS query_id, i, v FROM long
           WHERE vec_id < {N_QUERIES}),
    dist AS (
        SELECT q.query_id, r.vec_id AS neighbor_id,
               SUM((q.v - r.r) * (q.v - r.r)) AS d2
        FROM qv q JOIN recon r ON q.i = r.i AND r.vec_id <> q.query_id
        GROUP BY 1, 2),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY d2, neighbor_id) AS rn
            FROM dist) WHERE rn <= {CAND}),
    {RESCORE_SQL}
"""


@register("sim_sq_ann", _SQ_ORACLE, tags=("similarity", "pipeline"))
def sim_sq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 ANN: per-dimension uniform int8 quantization (trainless — the
    quantizer IS two aggregates), asymmetric int64 distance over the
    reconstructed codes, exact-decimal rescore on the top-CAND candidates.

    Plan shape: one posexplode->64-cell aggregate for the bounds (map-side
    combine, broadcast back as two 64-element arrays), then ONE corpus scan
    computing reconstruction + all query distances in-row (query micro-
    vectors ride a broadcast), a query_id-partitioned top-CAND window, and
    the shared rescore tail. Zero Python workers, zero corpus self-joins.
    """
    e = read_table(spark, sf_dir, "embeddings")
    xm = fan_out(e.select(
        "vec_id",
        F.expr(f"transform(embedding, x -> {_MICRO})").alias("m"),
    ))

    # per-dimension bounds: 64-row aggregate, collected into two in-row
    # arrays via a single-row broadcast (array_sort on (i, v) structs keeps
    # index order without a window)
    bounds = (
        xm.select(F.posexplode("m").alias("i", "v"))
        .groupBy("i")
        .agg(F.min("v").alias("mn"),
             F.greatest(F.max("v") - F.min("v"), F.lit(1)).alias("rg"))
        .groupBy()
        .agg(
            F.expr("transform(array_sort(collect_list(struct(i, mn))),"
                   " s -> s.mn)").alias("mns"),
            F.expr("transform(array_sort(collect_list(struct(i, rg))),"
                   " s -> s.rg)").alias("rgs"),
        )
    )

    # reconstruction array per corpus vector: code + dequantize fused —
    # all-integer, non-negative numerators so DIV == floor division
    recon = xm.crossJoin(F.broadcast(bounds)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "transform(sequence(1, {dim}), i -> "
            " element_at(mns, i) + (LEAST(255, "
            "   ((element_at(m, i) - element_at(mns, i)) * 255"
            "    + element_at(rgs, i) DIV 2) DIV element_at(rgs, i))"
            "  * element_at(rgs, i) + 127) DIV 255)".format(dim=DIM)
        ).alias("r"),
    )

    q = xm.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("m").alias("qm")
    )
    dist = (
        recon.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(qm, r, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    cand = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CAND)
        .select("query_id", "neighbor_id")
    )
    return exact_topk_on_candidates(e, cand)
