"""Segment-level (paragraph-style) exact deduplication (beyond-reference tier).

Whole-document dedup (``dedup_exact``) misses the dominant duplication mode in
web-scale training corpora: *shared passages* inside otherwise-distinct
documents (boilerplate, quoted blocks, templated sections). The standard
counter-measure (C4 / Gopher-style pipelines) deduplicates at paragraph
granularity. The synthetic corpus has no newlines, so the paragraph unit here
is a fixed window of 8 whitespace tokens — the splitting rule is one line to
swap; the distributed shape is the point.

Shape at scale: the segment explode is map-side (no shuffle), and every
segment is hashed to int64 (``xxhash64``) AT the explode — no raw segment
string ever crosses an exchange (r11; the dedup_prefix_filter shingle-hash
recipe: fixed-width rows and primitive sort/group comparisons through the
same exchanges, measured 1.4x at sf10). The "which segments are shared"
aggregation is ONE shuffle keyed on the hash, with shared-ness decided by
``min(doc_id) != max(doc_id)`` — a plain min/max aggregate instead of
``countDistinct`` (which plans a second partial-distinct pass); the join
back to per-doc stats reuses that exchange (co-partitioned on the same key)
plus one final doc_id shuffle. Hash collisions would merge two distinct
segments into one key — the documented shared-shingle-hash class,
gate-certified row-identical at the test SFs (collision odds at 64 bits are
~n^2/2^65; at true 100 TB swap to a 128-bit hash the same way).

Reference analogue: none (reference has no text-pipeline tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register

SEG_TOKENS = 8

#: the oracle's segments, the DuckDB mirror of dedup_segments' explode:
#: every doc's SEG_TOKENS-token windows (segs) and per segment text the
#: number of distinct docs holding it (shared). CTE text to follow a WITH.
SEGMENT_CTES = f"""base AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE length(text) > 0),
    segs AS (
      SELECT doc_id, seg_no,
             array_to_string(toks[(seg_no*{SEG_TOKENS}+1):(seg_no*{SEG_TOKENS}+{SEG_TOKENS})], ' ')
               AS seg_text
      FROM base,
           LATERAL unnest(range(CAST(ceil(len(toks)/{SEG_TOKENS}.0) AS BIGINT)))
             AS t(seg_no)),
    shared AS (
      SELECT seg_text, COUNT(DISTINCT doc_id) AS n_docs
      FROM segs GROUP BY seg_text)"""


@register(
    "dedup_segments",
    f"""
    WITH {SEGMENT_CTES}
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN sh.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           SUM(CASE WHEN sh.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS shared_frac,
           CASE WHEN SUM(CASE WHEN sh.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) >= 0.5
                THEN 'drop' ELSE 'keep' END AS decision
    FROM segs s JOIN shared sh USING (seg_text)
    GROUP BY s.doc_id
    """,
    tags=("documents", "dedup", "pipeline"),
)
def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shared-passage stats + keep/drop decision.

    A segment is *shared* when the identical token window occurs in more
    than one distinct document; a document with >= 50% shared segments is
    marked ``drop``. On the sf0.001 corpus this fires for real (~9% drops).
    """
    d = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(toks) / F.lit(float(SEG_TOKENS))).cast("int")
    seg_array = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(toks, i * SEG_TOKENS + 1, SEG_TOKENS), " "),
    )
    segs = d.select(
        "doc_id", F.posexplode(seg_array).alias("seg_no", "seg_text")
    ).select("doc_id", F.xxhash64("seg_text").alias("seg_h"))
    # keep only the shared segments for the join-back: the build side shrinks
    # from the full distinct-segment dictionary to the (typically small)
    # shared fraction — broadcastable far longer as data grows, and an
    # equivalent LEFT join marks exactly the rows the inner-join+CASE oracle
    # counts. "more than one distinct doc" = min != max (one min/max
    # aggregate; countDistinct would plan a second partial-distinct pass).
    shared = (
        segs.groupBy("seg_h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("seg_h")
    )
    joined = segs.join(shared.withColumn("hit", F.lit(1)), "seg_h", "left")
    is_shared = F.when(F.col("hit").isNotNull(), 1).otherwise(0)
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(is_shared).cast("bigint").alias("n_shared"),
    )
    frac = F.col("n_shared") * 1.0 / F.col("n_segments")
    return per_doc.select(
        "doc_id",
        "n_segments",
        "n_shared",
        frac.alias("shared_frac"),
        F.when(frac >= 0.5, "drop").otherwise("keep").alias("decision"),
    )
