"""Raw binary-file ingestion for multimodal corpora (beyond-reference tier).

Spark's built-in ``binaryFile`` source reads whole files into rows of
``(path, modificationTime, length, content)`` — the ingestion half of the
multimodal pipeline in :mod:`skinnerdb_spark.operators.multimodal`: a
directory of images/audio/video becomes a DataFrame of opaque ``binary``
payloads + typed metadata, ready for Arrow-batched feature extraction.

Scale rules encoded here:

- **One row per file, one task per file group**: the source never splits a
  file, so a few multi-GB videos skew tasks. Callers repartition after the
  scan to spread payloads, and should prefer many small objects (or pointer
  columns into an object store) over monoliths.
- **Driver-side listing**: millions of tiny files make file listing the
  bottleneck long before I/O. At warehouse scale, land binaries into
  Parquet ``binary`` columns early (``to_media`` + a parquet write) and keep
  the raw-file scan for the ingest edge only.
- **Size guard**: files larger than ``spark.sql.sources.binaryFile.maxLength``
  (Int.MaxValue) fail the scan; ``load_binary(max_bytes=...)`` pushes a
  ``length`` predicate — pushed down to the listing, so oversized payloads
  are skipped without reading a byte.

Reference analogue: none (reference ingests CSV only —
src/diskio/LoadCSV.java); this is SURVEY §2 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_binary(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Read files under ``path`` as (path, modificationTime, length, content).

    ``glob`` maps to ``pathGlobFilter`` (e.g. ``"*.png"``) — applied during
    listing, before any read. ``max_bytes`` filters on the ``length`` column,
    which the binaryFile source also evaluates at listing time.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def to_media(files: DataFrame, media_type: str) -> DataFrame:
    """Normalize a binaryFile scan into the canonical multimodal record
    (:data:`skinnerdb_spark.operators.multimodal.MEDIA_SCHEMA`).

    ``media_id`` is ``xxhash64(path)`` — deterministic across runs and
    cluster layouts (unlike ``monotonically_increasing_id``, which depends
    on partitioning), so downstream joins/dedup against previously ingested
    batches stay stable.
    """
    return files.select(
        F.xxhash64("path").alias("media_id"),
        F.col("content"),
        F.lit(media_type).alias("media_type"),
    )


# --------------------------------------------------------------------------
# registry entry: the ingestion manifest, oracle-verified byte-for-byte
# --------------------------------------------------------------------------
from skinnerdb_spark.catalog import ORACLE_SF_DIR
from skinnerdb_spark.registry import register


@register(
    "binary_ingest_manifest",
    f"""
    SELECT regexp_extract(filename, '[^/]+$') AS file_name,
           CAST(size AS BIGINT) AS length,
           md5(hex(content)) AS content_md5
    FROM read_blob('{ORACLE_SF_DIR}/*.parquet')
    """,
    tags=("sources", "multimodal", "binary"),
)
def binary_ingest_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion manifest: every warehouse file's name,
    byte length, and content hash via the binaryFile source — the checksum
    table a multimodal ingest job writes first (dedup by content_md5,
    re-ingest detection by (name, length, md5) deltas). The md5 runs over
    the HEX of the payload because DuckDB's md5 only accepts VARCHAR —
    hex() is byte-identical uppercase in both engines, so the digest is a
    faithful cross-engine content fingerprint. One file = one row = one
    task; no shuffle.

    At-scale note: hex() doubles the payload and a >1 GB file would
    overflow the JVM's max string length — in production swap the digest
    for ``xxhash64(content)`` (no expansion, still collision-safe for
    dedup) or a chunked hasher; md5-of-hex is the cross-engine-verifiable
    form, and the warehouse files here are MBs."""
    files = load_binary(spark, sf_dir, glob="*.parquet")
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length"),
        F.md5(F.hex("content")).alias("content_md5"),
    )
