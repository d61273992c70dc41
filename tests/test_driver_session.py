"""Driver-session contract: the verification driver builds its OWN
SparkSession (plain builder, none of our session.py configs, possibly a
non-UTC timezone). Every queries() entry must still work and produce
oracle-identical values there. This runs in a subprocess so the plain
session cannot inherit this test session's JVM configs."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_SCRIPT = r"""
import os
import sys
# static oracles that read persisted artifacts (sim_ivf_ann) resolve their
# SF at registry import — pin to this script's warehouse BEFORE importing
# __spark_entry__ (the real driver runs at the sf0.01 default)
os.environ["SKINNER_ORACLE_SF_DIR"] = "/root/testdata/sf0.001"
from pyspark.sql import SparkSession
import duckdb

# adversarial driver session: plain builder, non-UTC timezone
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "America/New_York")
         .getOrCreate())

import __spark_entry__ as E
qs, osql = E.queries(), E.oracle_sql()

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM "
        f"read_parquet('/root/testdata/sf0.001/{t}.parquet')")

def norm(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)

failures = []
for name in ["ev_tumbling_hour", "ev_sessionization", "ev_sliding_2h",
             "tpch_q01", "scalar_interval_arith",
             # adaptive-join-order path (plans/graph.py py4j surface) under a
             # plain session, incl. a date-filtered leaf under non-UTC
             "job_wide_star", "tpch_q05",
             # round 4: the driver gate now samples the pipeline tier first
             # — drive one representative of each family here too
             "dedup_minhash_lsh", "contamination_check", "sim_lsh_multiprobe",
             "asof_latest_order", "range_join_ship_window", "text_fingerprint",
             "sample_class_balanced", "events_json_extract", "docs_source_mix",
             "knn_label_vote", "embed_quantize", "dedup_embed_cosine",
             # round-4 continuation entries — timestamp-bearing ones
             # (window_frames, ev_gap_fill) are exactly what this session
             # exists to catch, the rest ride along cheaply
             "window_frames", "ev_gap_fill", "pack_sequences",
             "dedup_clusters", "text_repetition", "outer_join_full",
             "outer_join_on_filter", "pivot_status_by_priority",
             "unpivot_part_attrs", "docs_length_quantiles",
             "lateral_top1_order",
             # round-5 entries: timezone-sensitive event analytics
             # (date_trunc/datediff under a non-UTC plain session), the
             # persisted-index IVF oracle, the 15-way adaptive entry, and one
             # representative of each new family
             "ev_stream_dedup", "ev_funnel_conversion", "ev_retention_cohorts",
             "ev_anomaly_hours", "ev_skew_salted_agg", "sim_ivf_ann",
             "job_deep15", "text_tfidf_topk", "docs_vocab_stats",
             "sample_source_target_mix", "docs_merge_upsert",
             "name_edit_distance_pairs", "multimodal_frame_sample",
             "multimodal_resize_plan",
             # round-5 continuation: PII redaction (regex engines) and
             # segment-level exact dedup
             "text_pii_redact", "dedup_segments",
             # NTZ interval arithmetic under non-UTC: attribution join
             "ev_attribution_join", "docs_curation_gate",
             "sample_leakage_free_split",
             # widest adaptive graph (py4j plan surface) + cross-modal join
             "job_deep17", "docs_embedding_profile",
             # final round-5 additions
             "dedup_containment", "dedup_simhash_pairs", "ev_value_histogram",
             "binary_ingest_manifest",
             # round-5 analytics module: sequence windows + month extraction +
             # timestamp->date rendering + a timestamp-window graph filter,
             # all timezone-sensitive under a non-UTC plain session
             "ev_event_transitions", "ev_session_paths", "stats_linear_fit",
             "profile_table", "graph_triangles", "docs_bm25_topk",
             # PQ: second persisted-index oracle (codebooks parquet)
             "sim_pq_ann", "text_quality_lr",
             # iterative decimal-exact ranking + a timestamp graph window
             "graph_pagerank",
             # SCD2 intervals (timestamp sentinel under non-UTC) + key-count
             # join-size identity
             "ev_state_history", "stats_join_size",
             # exact-threshold prefix-filter similarity join
             "dedup_prefix_filter",
             # CDC snapshot diff (full outer join + hash classify)
             "docs_snapshot_diff",
             # composed two-index search (both persisted-index oracles)
             "sim_ivfpq_ann",
             # exact-percentile equi-depth histogram
             "orders_equidepth_hist",
             # round-6 gate-front entries: real-codec decode (mapInPandas
             # under a plain session) and vocabulary token-id encoding
             "multimodal_decode_stats", "text_token_ids",
             # round-6 second-half gate-front entries: iterative decimal
             # k-means, BPE fold, bigram-LM decimal aggregation, power
             # iteration, PMI ratio ranking, Jaccard link prediction
             "embed_kmeans", "text_bpe_merges", "docs_bigram_lm_score",
             "embed_power_iteration", "docs_pmi_topk",
             "graph_jaccard_links", "orders_skyline", "ev_heavy_hitters",
             # round-9 additions: the recursive CTE runs in a CHILD session
             # (newSession() from the plain driver session — exactly the
             # session-sensitive path this test exists to catch), native
             # session windows are timestamp-typed under non-UTC, and the
             # r8 scalar/stat tiers ride along
             "rcte_order_chains", "ev_session_window_native",
             "events_variant_props", "text_bpe_encode",
             "sample_shard_manifest", "asof_first_shipment",
             "stats_ab_ztest", "docs_inverted_index",
             # round-9 new entries: SQL-body UDFs, scripting, collation,
             # GROUP BY ALL, and the interval bin-join (date arithmetic
             # under a non-UTC plain session is exactly the risk here)
             "scalar_sql_udf", "scalar_sql_table_udf",
             "sql_script_chain_report", "scalar_collation_surface",
             "orders_group_by_all", "li_interval_overlap",
             "sample_systematic_pps", "graph_kcore_peel",
             "stats_mann_whitney", "docs_kn_bigram_score",
             "multimodal_tiff_roundtrip", "ev_cusum_drift"]:
    s = norm(qs[name](spark, "/root/testdata/sf0.001").toPandas())
    o = norm(con.execute(osql[name]).df())
    ok = s.shape == o.shape and all(
        s[c].astype(float).equals(o[c].astype(float))
        if (s[c].dtype.kind == "f" or o[c].dtype.kind == "f")
        else list(s[c]) == list(o[c])
        for c in s.columns)
    print(name, "OK" if ok else "MISMATCH", s.shape)
    if not ok:
        failures.append(name)

# one adaptive corpus query gets its learned order applied in this plain
# session: the JVM plan helper loads with nothing on the launch classpath
from skinnerdb_spark.catalog import register_views
from skinnerdb_spark.plans.graph import adaptive_reorder

register_views(spark, os.environ["SKINNER_ORACLE_SF_DIR"])
with open(os.path.join("queries_sql", "t8_deep8_01.sql")) as f:
    text = f.read().strip().rstrip(";")
res = adaptive_reorder(spark.sql(text), episodes=2, sample_rows=2000)
ok = len(res.best_order) == 8 and sorted(res.df.collect()) == sorted(spark.sql(text).collect())
print("adaptive t8_deep8_01", "OK" if ok else "MISMATCH", res.best_order, res.reason)
if not ok:
    failures.append("adaptive t8_deep8_01")

assert E.entry(spark).count() > 0
spark.stop()
sys.exit(1 if failures else 0)
"""


@pytest.mark.slow
def test_plain_driver_session_runs_contract():
    res = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, f"stdout:\n{res.stdout}\nstderr:\n{res.stderr[-2000:]}"
    assert "MISMATCH" not in res.stdout
