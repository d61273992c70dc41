"""skinnerdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of cornelldbgroup/skinnerdb.

The reference (see SURVEY.md) is a single-node, in-memory, columnar SQL engine
whose surface is: inner multi-way joins with arbitrary WHERE predicates,
unary-predicate filtering, MIN/MAX/SUM/AVG/COUNT aggregation with GROUP
BY/HAVING, ORDER BY (NULLS LAST on ASC), constant LIMIT, and subquery
unnesting (reference: src/query/QueryInfo.java, src/postprocessing/
PostProcessor.java, src/unnesting/UnnestingVisitor.java).

This package re-expresses that surface Spark-first:

- storage/scan: Parquet via ``spark.read`` (columnar + dictionary encoding +
  null bitmaps replace the reference's hand-rolled column store, SURVEY §1.3)
- rewrites: Catalyst (pushdown, pruning, decorrelation, constant folding
  replace ~4k LoC of the reference's visitors, SURVEY §4.1)
- joins: broadcast/shuffle hash + AQE; the reference's RL join ordering is
  re-imagined as a sampled-C_out plan-chooser in ``plans.joinorder``
- beyond-reference tier: dedup / similarity / text / multimodal operators for
  large-scale training-data pipelines, and Structured Streaming over events.
"""

__version__ = "0.1.0"

from skinnerdb_spark.session import get_spark  # noqa: F401
from skinnerdb_spark.catalog import TABLES, load_tables, register_views  # noqa: F401
