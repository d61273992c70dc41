"""SparkSession factory.

Replaces the reference's process bootstrap (src/console/SkinnerCmd.java:351-387,
which loads the whole DB into RAM up front). Spark needs no eager load: Parquet
scans are lazy, columnar, and pruned by Catalyst.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime partition coalescing, skew-join splitting, and dynamic
  join-strategy switching stand in for the reference's intra-query adaptivity
  (src/joining/JoinProcessor.java episode loop).
- shuffle partitions default to cores locally; on a real cluster set
  ``spark.sql.shuffle.partitions`` ~2-3x total cores or rely on AQE coalescing.
- timestamps in the test data are TIMESTAMP_NTZ; session timezone pinned to UTC
  so oracle comparisons are tz-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "skinnerdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local testing runs ``local[$SPARK_GRAFT_CPUS]``; every setting below is
    cluster-safe (nothing assumes single-JVM execution).
    """
    cpus = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: coalesce small shuffle partitions, split skewed
        # ones, switch sort-merge->broadcast at runtime. This is our stand-in
        # for the reference's run-time adaptivity (SURVEY §4.3).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / mapInPandas operator (operators/).
        # arrow.maxRecordsPerBatch stays at the 10k default: raising it to
        # 256k measured NEUTRAL in a same-session toggled A/B on the
        # heaviest Arrow boundary (WCOJ sf10: clique4 59.6 vs 61.4 s best,
        # triangle 7.5 vs 6.0 s — within the host band). An earlier
        # cross-window reading that suggested 6x was host drift, not the
        # conf (OPTIMIZATION_r11.md "negative results").
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # A parquet TIMESTAMP(NANOS) column (from files written outside this
        # package; the committed warehouses store events.ts as MICROS) is
        # rejected by Spark's reader; read it as long and convert in
        # catalog.read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Dimension tables (region/nation/supplier/part at bench SF) are tiny;
        # raise the auto-broadcast bound so star joins broadcast by default.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # In local mode the driver JVM IS the executor: all task threads,
        # broadcast builds, and window buffers share its heap, and the
        # unconfigured default is 1g — which GC-thrashes a 32-thread bench
        # (run-to-run drift) and sporadically fails broadcast builds with
        # "Not enough memory to build and broadcast". Size it to the machine
        # (only effective at JVM launch; a getOrCreate() against an already
        # running JVM leaves it unchanged). On a real cluster executors carry
        # their own spark.executor.memory; this knob then only covers
        # driver-side collects and broadcast staging.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():  # user conf wins over defaults
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
