"""Bucketed tables — shuffle-free co-located joins.

The reference's answer to repeated join work is RAM-resident hash indexes
rebuilt per session (src/indexing/Indexer.java, README.md:57). The Spark-scale
answer is bucketing: persist both join sides bucketed by the join key and
every subsequent equi-join on that key is a zero-shuffle sort-merge of
co-located buckets — the dominant cost at 100 TB (the shuffle) disappears for
the workload's recurring join keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, n_buckets: int = 32
) -> None:
    """Persist as a bucketed managed table."""
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, left_col: str, right_col: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket keys; with matching
    bucket counts Spark elides both shuffle exchanges."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, left[left_col] == right[right_col])
