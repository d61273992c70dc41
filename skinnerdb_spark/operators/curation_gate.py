"""End-to-end corpus curation gate (beyond-reference tier).

A real training-data pipeline doesn't run quality scoring, exact dedup, and
passage dedup as separate reports — it folds them into ONE keep/drop verdict
per document, with the reason recorded for auditability. This entry composes
three already-verified operators (:func:`dedup_exact`,
:func:`text_quality`, :func:`dedup_segments`) by reusing their *functions*
directly and joining their outputs on doc_id — the registry's operators are
composable building blocks, not sealed reports.

Rule order (first failing rule is the recorded reason):
  1. byte-identical duplicate  -> drop ('exact_dup')
  2. quality_score < 0.5       -> drop ('low_quality')
  3. shared_frac   >= 0.5      -> drop ('shared_passages')
  4. otherwise                 -> keep ('ok')

Shape at scale: each signal family keeps its own (already-audited) shuffle
structure; the gate itself is doc_id-co-partitioned LEFT joins over
document-sized signal tables. In a persisted pipeline the signal tables are
materialized once per snapshot and the gate join is bucketable on doc_id
(sources/bucketing.py) — zero additional full-corpus shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skinnerdb_spark.operators.dedup import dedup_exact
from skinnerdb_spark.operators.segments import SEGMENT_CTES, dedup_segments
from skinnerdb_spark.operators.text import QUALITY_SQL, text_quality
from skinnerdb_spark.registry import register


@register(
    "docs_curation_gate",
    f"""
    WITH ex AS (
      SELECT doc_id,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                  THEN 0 ELSE 1 END AS is_dup
      FROM documents),
    q AS ({QUALITY_SQL}),
    {SEGMENT_CTES},
    seg_frac AS (
      SELECT s.doc_id,
             SUM(CASE WHEN sh.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS shared_frac
      FROM segs s JOIN shared sh USING (seg_text)
      GROUP BY s.doc_id)
    SELECT e.doc_id, e.is_dup,
           coalesce(q.quality_score, 0.0) AS quality_score,
           coalesce(f.shared_frac, 1.0) AS shared_frac,
           CASE WHEN e.is_dup = 1 THEN 'drop'
                WHEN coalesce(q.quality_score, 0.0) < 0.5 THEN 'drop'
                WHEN coalesce(f.shared_frac, 1.0) >= 0.5 THEN 'drop'
                ELSE 'keep' END AS verdict,
           CASE WHEN e.is_dup = 1 THEN 'exact_dup'
                WHEN coalesce(q.quality_score, 0.0) < 0.5 THEN 'low_quality'
                WHEN coalesce(f.shared_frac, 1.0) >= 0.5 THEN 'shared_passages'
                ELSE 'ok' END AS reason
    FROM ex e
    LEFT JOIN q ON e.doc_id = q.doc_id
    LEFT JOIN seg_frac f ON e.doc_id = f.doc_id
    """,
    tags=("documents", "pipeline", "curation"),
)
def docs_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop verdict + reason, composed from verified ops."""
    ex = dedup_exact(spark, sf_dir).select("doc_id", "is_dup")
    q = text_quality(spark, sf_dir)
    seg = dedup_segments(spark, sf_dir).select("doc_id", "shared_frac")
    g = (
        ex.join(q, "doc_id", "left")
        .join(seg, "doc_id", "left")
        .select(
            "doc_id",
            "is_dup",
            F.coalesce("quality_score", F.lit(0.0)).alias("quality_score"),
            F.coalesce("shared_frac", F.lit(1.0)).alias("shared_frac"),
        )
    )
    verdict = (
        F.when(F.col("is_dup") == 1, "drop")
        .when(F.col("quality_score") < 0.5, "drop")
        .when(F.col("shared_frac") >= 0.5, "drop")
        .otherwise("keep")
    )
    reason = (
        F.when(F.col("is_dup") == 1, "exact_dup")
        .when(F.col("quality_score") < 0.5, "low_quality")
        .when(F.col("shared_frac") >= 0.5, "shared_passages")
        .otherwise("ok")
    )
    return g.select(
        "doc_id",
        "is_dup",
        "quality_score",
        "shared_frac",
        verdict.alias("verdict"),
        reason.alias("reason"),
    )
