"""Component tests for the non-oracle-checked machinery: adaptive join
ordering, CSV source semantics, Structured Streaming, multimodal stubs, and
the engine facade."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from skinnerdb_spark.catalog import read_table
from skinnerdb_spark.engine import Engine
from skinnerdb_spark.operators import multimodal
from skinnerdb_spark.plans.joinorder import JoinEdge, connected_orders
from skinnerdb_spark.sources.csv import load_csv
from skinnerdb_spark.streaming.windows import (
    run_stream_once,
    stream_events,
    stream_session_counts,
    stream_stream_join,
    stream_tumbling_counts,
    stream_user_counts,
)


# --------------------------------------------------------------------------
# plans/joinorder
# --------------------------------------------------------------------------
EDGES = [
    JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
    JoinEdge("orders", "o_custkey", "customer", "c_custkey"),
    JoinEdge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def test_connected_orders_avoid_cartesian():
    tables = ["lineitem", "orders", "customer", "supplier"]
    orders = connected_orders(tables, EDGES)
    assert orders, "must find at least one connected order"
    for o in orders:
        # every prefix extension must share an edge with the prefix
        for i in range(1, len(o)):
            assert any(
                e.touches(o[i]) and e.other(o[i]) in o[:i] for e in EDGES
            ), f"cartesian step in {o}"
    # customer-first can never be followed by supplier/lineitem only
    assert ("customer", "supplier") not in {o[:2] for o in orders}


# --------------------------------------------------------------------------
# sources/csv — LoadCSV parity (explicit schema, nullValue, date parsing)
# --------------------------------------------------------------------------
def test_load_csv_null_rep_and_types(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.csv")
        with open(path, "w") as f:
            f.write("1|alice|2024-03-01|9.5\n")
            f.write("2|NULL|2024-03-02|NULL\n")
            f.write("3|bob|NULL|1.25\n")
        df = load_csv(
            spark,
            path,
            schema="id INT, name STRING, d DATE, score DOUBLE",
            sep="|",
            null_rep="NULL",
        )
        rows = {r.id: r for r in df.collect()}
        assert rows[2].name is None and rows[2].score is None
        assert rows[3].d is None
        assert str(rows[1].d) == "2024-03-01"
        assert rows[3].score == 1.25


# --------------------------------------------------------------------------
# streaming — real readStream path, availableNow drain
# --------------------------------------------------------------------------
def test_stream_tumbling_matches_batch(spark, sf_dir):
    src = os.path.join(sf_dir, "events.parquet")
    try:
        stream = stream_events(spark, src)
    except Exception as e:  # nanos timestamp unsupported in streaming source
        pytest.skip(f"stream source unavailable: {e}")
    rows = run_stream_once(stream_tumbling_counts(stream), "t_stream_tumbling")
    got = {(r.window_start, r.event_type): r.n_events for r in rows}
    e = read_table(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.date_trunc("hour", "ts").alias("ws"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expect = {(r.ws, r.event_type): r.n for r in batch}
    assert got == expect


def test_stream_session_window_matches_batch(spark, sf_dir):
    """Native session_window in a REAL stream: complete-mode availableNow
    drain equals the batch twin (ev_session_window_native) row-for-row;
    append mode emits a strict subset — exactly the sessions the final
    watermark has closed (tail sessions withheld). Both halves pin the
    operator's streaming semantics, not just its batch plan."""
    from skinnerdb_spark.streaming.windows import ev_session_window_native

    src = os.path.join(sf_dir, "events.parquet")
    try:
        stream = stream_events(spark, src)
    except Exception as e:
        pytest.skip(f"stream source unavailable: {e}")
    key = lambda r: (r.user_id, r.session_start, r.session_end, r.n_events)  # noqa: E731
    got = {key(r) for r in run_stream_once(stream_session_counts(stream), "t_sess_c")}
    batch = {
        key(r)
        for r in ev_session_window_native(spark, sf_dir)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
    }
    assert got == batch and len(batch) > 0
    appended = {
        key(r)
        for r in run_stream_once(
            stream_session_counts(stream_events(spark, src)), "t_sess_a", output_mode="append"
        )
    }
    assert appended <= batch, "append mode must never invent sessions"
    withheld = batch - appended
    assert withheld, "watermark horizon should withhold the tail sessions"
    horizon = max(r[2] for r in batch)  # latest session_end
    import datetime

    for _, _, s_end, _ in withheld:
        assert horizon - s_end <= datetime.timedelta(hours=2), (
            "only sessions near the final watermark horizon may be withheld"
        )


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream interval self-join drains to exactly the
    batch join's result (inner matches emit eagerly; availableNow drains
    all input)."""
    src = os.path.join(sf_dir, "events.parquet")
    try:
        joined = stream_stream_join(stream_events(spark, src), stream_events(spark, src))
    except Exception as e:
        pytest.skip(f"stream source unavailable: {e}")
    rows = run_stream_once(joined, "t_stream_ss_join", output_mode="append")
    e = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    l = e.select("user_id", F.col("ts").alias("l_ts"), F.col("event_type").alias("l_type"))
    r = e.select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
    )
    batch = l.join(
        r,
        (F.col("user_id") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes")),
    ).count()
    assert len(rows) == batch > 0


def test_stream_watermark_drops_late_data(spark, tmp_path):
    """Late-data handling: in append mode a window is emitted once the
    watermark passes it, and events arriving after that are dropped —
    the semantics a 100 TB pipeline relies on to bound state."""
    import datetime as dt

    import pandas as pd

    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_batch(rows, name):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    t = dt.datetime(2024, 6, 1, 10, 0, 0)

    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
        )
        agg = (
            stream.groupBy(F.window("ts", "5 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        res = {}
        for r in spark.read.parquet(out).collect():
            res[r.ws.minute] = res.get(r.ws.minute, 0) + r.n
        return res

    # batch 1: three events in the 10:00 window + one at 11:00 that advances
    # the watermark to 10:50, closing (emitting) the 10:00 window
    write_batch(
        [(1, t, 1.0), (2, t + dt.timedelta(minutes=1), 1.0),
         (3, t + dt.timedelta(minutes=2), 1.0),
         (4, t + dt.timedelta(hours=1), 1.0)],
        "b1",
    )
    first = run_once()
    assert first.get(0) == 3, f"10:00 window should emit with 3 events, got {first}"

    # batch 2: a LATE event for the already-closed 10:00 window + a fresh one.
    # Spark's watermark guarantee is ONE-DIRECTIONAL: correct data is never
    # dropped, but a record below the watermark whose state was already
    # evicted MAY create fresh state and re-emit its window (observed here:
    # a second [10:00] emission with n=1). What the sink contract DOES
    # guarantee — and what downstream consumers rely on — is that already-
    # emitted results are immutable: the original n=3 emission survives and
    # the late row is never silently merged into it.
    write_batch(
        [(5, t + dt.timedelta(minutes=3), 1.0),  # late: watermark is 10:50
         (6, t + dt.timedelta(hours=2), 1.0)],
        "b2",
    )
    run_once()
    emissions_after = sorted(
        r.n for r in spark.read.parquet(out).collect() if r.ws.minute == 0
    )
    assert 3 in emissions_after, f"original emission must be immutable: {emissions_after}"
    assert emissions_after in ([3], [1, 3]), (
        f"late row may re-emit separately but never merge: {emissions_after}"
    )


def test_stream_dedup_drop_duplicates(spark, sf_dir):
    """Streaming exact dedup: dropDuplicates on the id within the watermark —
    the streaming twin of dedup_exact."""
    src = os.path.join(sf_dir, "events.parquet")
    stream = stream_events(spark, src)
    deduped = stream.dropDuplicates(["event_id"]).groupBy().count()
    rows = run_stream_once(deduped, "t_stream_dedup")
    batch_n = read_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert rows[-1]["count"] == batch_n


def test_stream_dedup_matches_batch_twin_keys(spark, sf_dir):
    """stream_dedup (watermarked dropDuplicates on (user_id, event_type))
    emits exactly one row per key — the same key set as the deterministic
    batch twin ev_stream_dedup (which additionally pins WHICH row wins)."""
    from skinnerdb_spark.streaming.windows import ev_stream_dedup, stream_dedup

    src = os.path.join(sf_dir, "events.parquet")
    deduped = stream_dedup(spark, src).select("user_id", "event_type")
    rows = run_stream_once(deduped, "t_stream_dedup_twin", output_mode="append")
    stream_keys = {(r["user_id"], r["event_type"]) for r in rows}
    batch_keys = {
        (r["user_id"], r["event_type"])
        for r in ev_stream_dedup(spark, sf_dir).collect()
    }
    assert stream_keys == batch_keys
    assert len(rows) == len(stream_keys), "at most one emission per key"


def test_stream_static_enrichment_join(spark, sf_dir):
    """Streaming events enriched against the static customer dim."""
    from skinnerdb_spark.streaming.windows import stream_enriched

    src = os.path.join(sf_dir, "events.parquet")
    stream = stream_events(spark, src)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_enriched(stream, dim, "user_id").groupBy("c_mktsegment").count()
    rows = run_stream_once(enriched, "t_stream_enrich")
    got = {r.c_mktsegment: r["count"] for r in rows}
    e = read_table(spark, sf_dir, "events")
    expect = {
        r.c_mktsegment: r.n
        for r in e.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect and got, "stream-static join must equal batch join"


def test_compact_small_files(spark, sf_dir, tmp_path):
    import glob

    from skinnerdb_spark.sources.csv import compact

    frag = str(tmp_path / "fragmented")
    read_table(spark, sf_dir, "orders").repartition(40).write.parquet(frag)
    assert len(glob.glob(frag + "/*.parquet")) >= 40
    out = str(tmp_path / "compacted")
    n = compact(spark, frag, out, target_mb=128)
    assert len(glob.glob(out + "/*.parquet")) == n <= 2
    assert spark.read.parquet(out).count() == read_table(spark, sf_dir, "orders").count()


def test_stream_stateful_user_counts(spark, sf_dir):
    """Custom stateful op (applyInPandasWithState): final per-user counts
    must equal the batch groupBy."""
    src = os.path.join(sf_dir, "events.parquet")
    stream = stream_events(spark, src)
    rows = run_stream_once(
        stream_user_counts(stream), "t_stream_stateful", output_mode="update"
    )
    # update-mode sink emits one row per key per micro-batch; the max is the
    # final running count
    got: dict[int, int] = {}
    for r in rows:
        got[r.user_id] = max(got.get(r.user_id, 0), r.n_events)
    e = read_table(spark, sf_dir, "events")
    expect = {r.user_id: r.n for r in e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == expect


# --------------------------------------------------------------------------
# multimodal — stub gating + Arrow batch plumbing
# --------------------------------------------------------------------------
def test_multimodal_stubs_raise():
    import struct

    # lossless WebP decodes for real as of r7; LOSSY WebP stays guarded
    lossy = b"RIFF" + struct.pack("<I", 16) + b"WEBPVP8 " + b"\x00" * 8
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(lossy)
    with pytest.raises(NotImplementedError):
        multimodal.sample_video_frames(b"\x00\x00\x00 ftypmp42", every_n=10)


def test_multimodal_decode_image_routes_webp():
    from skinnerdb_spark.operators.webp import encode_webp

    px = b"".join(bytes(((x * 7) % 256, (x * 2) % 256, (255 - x) % 256))
                  for x in range(6 * 4))
    assert multimodal.decode_image(encode_webp(6, 4, px, channels=3)) == (6, 4, 3, px)


def test_sample_video_frames_real_avi_demux():
    from skinnerdb_spark.operators.avi import encode_avi

    frames = [b"\xff\xd8frame%d\xff\xd9" % i for i in range(7)]
    avi = encode_avi(8, 8, 5, frames)
    assert multimodal.sample_video_frames(avi, every_n=3) == frames[::3]


def test_multimodal_fake_decode_deterministic():
    a = multimodal.fake_decode_meta(b"hello")
    assert a == multimodal.fake_decode_meta(b"hello")
    w, h, c = a
    assert 64 <= w <= 319 and 64 <= h <= 319 and c == 3


def test_extract_features_roundtrip(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"media_id": [1, 2], "content": [b"abc", b"defg"], "media_type": ["image", "image"]}
    )
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert out[1].byte_len == 3 and out[2].byte_len == 4
    import hashlib

    assert out[1].content_md5 == hashlib.md5(b"abc").hexdigest()


# --------------------------------------------------------------------------
# operators/ivf — persisted index round-trip
# --------------------------------------------------------------------------
def test_ivf_index_persist_roundtrip(spark, sf_dir, tmp_path):
    import numpy as np

    from skinnerdb_spark.operators.ivf import (
        assign_cells,
        build_ivf_index,
        load_ivf_index,
    )

    e = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_index")
    build_ivf_index(spark, e, path)
    centroids, assignments = load_ivf_index(spark, path)
    assert centroids.shape[1] == 64
    fresh = {r.vec_id: r.cell for r in assign_cells(e, centroids).collect()}
    persisted = {r.vec_id: r.cell for r in assignments.collect()}
    assert fresh == persisted, "persisted assignments must equal recomputed ones"
    sizes = np.bincount(list(persisted.values()))
    assert sizes.sum() == e.count() and (sizes > 0).sum() >= 2


def test_ivf_index_staleness_detection(spark, sf_dir, tmp_path):
    """A rewritten embeddings source invalidates the persisted index: the
    fingerprint covers file size + mtime, so an index built against old data
    is rebuilt rather than silently served."""
    import os
    import shutil

    from skinnerdb_spark.artifacts import FINGERPRINT_FILE
    from skinnerdb_spark.operators.ivf import index_is_fresh, source_fingerprint

    wh = tmp_path / "warehouse"
    wh.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), wh / "embeddings.parquet"
    )
    idx = tmp_path / "idx"
    (idx / "centroids").mkdir(parents=True)  # stand-in for a built index
    meta = idx / FINGERPRINT_FILE
    with open(meta, "w") as f:
        f.write(source_fingerprint(str(wh)))
    assert index_is_fresh(str(idx), str(wh))
    # "rewrite" the corpus: content change -> different size/mtime
    with open(wh / "embeddings.parquet", "ab") as f:
        f.write(b"x")
    assert not index_is_fresh(str(idx), str(wh))
    # missing fingerprint (pre-upgrade index) -> stale
    os.remove(meta)
    assert not index_is_fresh(str(idx), str(wh))


# --------------------------------------------------------------------------
# sources/ddl — reference schema translation
# --------------------------------------------------------------------------
def test_jsonl_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    """documents -> JSONL -> back: values survive; a malformed line is
    quarantined into _corrupt_record, never silently dropped or fatal."""
    import pytest

    from skinnerdb_spark.sources.formats import (
        CORRUPT_COL,
        load_jsonl,
        quarantine_split,
        store_jsonl,
    )

    docs = read_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_jsonl")
    store_jsonl(docs, out)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    back = load_jsonl(spark, out, schema)
    clean, corrupt = quarantine_split(back)
    assert corrupt.count() == 0
    a = {r["doc_id"]: r["text"] for r in docs.collect()}
    b = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert a == b
    # schema is mandatory at scale
    with pytest.raises(TypeError, match="schema"):
        load_jsonl(spark, out)
    # corrupt line -> quarantined, good lines still parse
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.json").write_text(
        '{"doc_id": 1, "text": "ok"}\n{not json at all\n{"doc_id": 2, "text": "ok2"}\n'
    )
    mixed = load_jsonl(spark, str(bad), "doc_id long, text string")
    clean, corrupt = quarantine_split(mixed)
    assert clean.count() == 2 and corrupt.count() == 1
    assert "{not json" in corrupt.collect()[0][CORRUPT_COL]


def test_orc_roundtrip_partitioned(spark, sf_dir, tmp_path):
    """orders -> ORC partitioned by status -> back: values survive and the
    partition column prunes (directory-level skip shows as a partition
    filter, not a data filter)."""
    from pyspark.sql import functions as F

    from skinnerdb_spark.sources.formats import load_orc, store_orc

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    out = str(tmp_path / "orders_orc")
    store_orc(orders, out, partition_by=["o_orderstatus"])
    back = load_orc(spark, out)
    assert back.count() == orders.count()
    a = {r["o_orderkey"]: r["o_totalprice"] for r in orders.collect()}
    b = {r["o_orderkey"]: r["o_totalprice"] for r in back.collect()}
    assert a == b
    plan = (
        back.filter(F.col("o_orderstatus") == "F")
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:200]


def test_translate_reference_ddl(spark):
    from pyspark.sql import types as T

    from skinnerdb_spark.sources.ddl import translate_ddl

    ddl = """
    create table customer (c_custkey int primary key, c_name char(25) not null,
        c_acctbal numeric(12,2), c_comment varchar(117));
    create table orders (o_orderkey int primary key, o_orderdate date,
        o_custkey int references customer);
    """
    tables = translate_ddl(ddl)
    assert [t.name for t in tables] == ["customer", "orders"]
    cust = tables[0]
    assert dict((f.name, type(f.dataType)) for f in cust.schema) == {
        "c_custkey": T.IntegerType,
        "c_name": T.StringType,
        "c_acctbal": T.DoubleType,  # reference NUMERIC -> double
        "c_comment": T.StringType,
    }
    assert cust.flags["primary key"] == ["c_custkey"]
    assert cust.flags["not null"] == ["c_name"]
    assert not [f for f in cust.schema if f.name == "c_name"][0].nullable
    assert tables[1].flags["references"] == ["o_custkey"]
    # the translated DDL is valid Spark SQL
    assert "CREATE TABLE customer" in cust.spark_ddl()
    empty = spark.createDataFrame([], cust.schema)
    assert empty.schema == cust.schema


# --------------------------------------------------------------------------
# engine facade
# --------------------------------------------------------------------------
def test_engine_sql_surface(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    df = eng.sql("SELECT COUNT(*) AS n FROM lineitem")
    assert df.collect()[0].n > 0
    plan = eng.explain("SELECT l_returnflag, SUM(l_quantity) FROM lineitem GROUP BY l_returnflag")
    assert "HashAggregate" in plan or "Aggregate" in plan
    eng.drop("region")


def test_engine_bench_dir_runs_sql_files(spark, sf_dir, tmp_path):
    """The reference's `bench <dir>` flow: a directory of .sql files runs
    end-to-end with per-query stats."""
    (tmp_path / "q1.sql").write_text(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag;"
    )
    (tmp_path / "q2.sql").write_text(
        "SELECT COUNT(*) AS n FROM orders o, lineitem l "
        "WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 10000"
    )
    eng = Engine(spark, sf_dir)
    stats = eng.bench_dir(str(tmp_path))
    assert [s["query"] for s in stats] == ["q1.sql", "q2.sql"]
    assert all(s["rows"] > 0 and s["millis"] >= 0 for s in stats)


def test_engine_select_into_and_ddl(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    eng.select_into("big_orders", "SELECT * FROM orders WHERE o_totalprice > 30000")
    n = eng.sql("SELECT COUNT(*) AS n FROM big_orders").collect()[0].n
    direct = eng.sql("SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > 30000").collect()[0].n
    assert n == direct
    eng.drop("big_orders")
    # DDL round-trip on a temp view via SQL surface
    eng.sql("CREATE OR REPLACE TEMP VIEW two_rows AS SELECT 1 AS a UNION ALL SELECT 2")
    assert eng.sql("SELECT SUM(a) AS s FROM two_rows").collect()[0].s == 3
    eng.sql("DROP VIEW two_rows")


def test_min_label_components_transitive_chain(spark):
    """A 5-node chain needs 4 propagation rounds — pins that the CC loop
    reaches the TRANSITIVE closure (the one-hop keep/drop policy cannot),
    plus an isolated 2-cycle keeping its own label."""
    from skinnerdb_spark.operators.dedup import min_label_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r.doc: r.lbl for r in min_label_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_funnel_steps_strictly_ordered(spark, sf_dir):
    """Funnel invariants: each reached step is strictly later than the
    previous one, and a step can only be reached if the previous was."""
    from skinnerdb_spark.operators.curation import ev_funnel_conversion

    for r in ev_funnel_conversion(spark, sf_dir).collect():
        if r["first_click"] is not None:
            assert r["first_click"] > r["first_view"]
        if r["first_purchase"] is not None:
            assert r["first_click"] is not None
            assert r["first_purchase"] > r["first_click"]


def test_source_target_mix_respects_budget(spark, sf_dir):
    """Token-budget rebalancing invariants: every source's sampled tokens fit
    its 1/n_sources share; under-budget sources keep ALL their docs."""
    from pyspark.sql import functions as F

    from skinnerdb_spark.operators.curation import sample_source_target_mix

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = d.select("source", F.size(F.split("text", " ")).alias("n"))
    totals = {r["source"]: r["t"] for r in toks.groupBy("source").agg(F.sum("n").alias("t")).collect()}
    total_all = sum(totals.values())
    n_sources = len(totals)
    sampled = {
        r["source"]: (r["docs"], r["tok"])
        for r in sample_source_target_mix(spark, sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_tokens").alias("tok"))
        .collect()
    }
    doc_counts = {r["source"]: r["c"] for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()}
    for src, (docs, tok) in sampled.items():
        assert tok * n_sources <= total_all, f"{src} exceeds its token share"
        if totals[src] * n_sources <= total_all:
            assert docs == doc_counts[src], f"under-budget {src} must keep all docs"


def test_merge_upsert_invariants(spark, sf_dir):
    """MERGE semantics invariants: output keys = target keys ∪ insert keys;
    matched rows carry the update's text (uppercased); inserted rows are
    exactly the shifted-key set; pass-through rows are untouched."""
    from pyspark.sql import functions as F

    from skinnerdb_spark.operators.curation import docs_merge_upsert

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    out = docs_merge_upsert(spark, sf_dir)
    n_target = d.count()
    n_inserts = d.filter(F.col("doc_id") % 13 == 0).count()
    assert out.count() == n_target + n_inserts
    assert out.filter("was_inserted = 1").count() == n_inserts
    assert out.filter("was_updated = 1").count() == d.filter("doc_id % 7 = 0").count()
    # matched rows take the update (uppercased text differs unless no letters)
    upd = out.filter("was_updated = 1").select("doc_id", "text")
    src = d.filter("doc_id % 7 = 0").select("doc_id", F.upper("text").alias("text"))
    assert upd.exceptAll(src).count() == 0
    # pass-through rows byte-identical to the target
    passthrough = out.filter("was_updated = 0 AND was_inserted = 0").select(
        "doc_id", "text", "source"
    )
    orig = d.filter("doc_id % 7 != 0")
    assert passthrough.exceptAll(orig).count() == 0


def test_compress_without_warehouse_raises_clearly(spark):
    """compress before attach_warehouse must fail with a clear error, not an
    AttributeError deep in path handling."""
    import pytest as _pytest

    from skinnerdb_spark.engine import Engine

    eng = Engine(spark)
    with _pytest.raises(ValueError, match="warehouse"):
        eng.compress_tables(["nation"])


def test_anomaly_hours_flags_known_spike(spark, tmp_path):
    """Synthetic series: 30 calm hours of 10 events + one 300-event spike —
    exactly the spike must be flagged; a perfectly flat series flags
    nothing (variance 0 never divides — the cleared predicate handles it)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from skinnerdb_spark.operators.curation import ev_anomaly_hours

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(31):
        n = 300 if h == 7 else 10
        for i in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=i), 1, "click", 1.0, "{}"))
            eid += 1
    # flat control series: constant 5/hour, must never flag
    for h in range(31):
        for i in range(5):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=i), 2, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = ev_anomaly_hours(spark, str(tmp_path)).collect()
    flagged = {(r["event_type"], r["hour"].hour) for r in out}
    assert ("click", 7) in flagged, f"spike hour must be flagged: {flagged}"
    assert all(t != "view" for t, _ in flagged), "flat series must never flag"


def test_binaryfile_ingest_to_features(spark, tmp_path):
    """binaryFile source -> canonical media records -> Arrow feature
    extraction (fake decode): the full multimodal ingest path."""
    from skinnerdb_spark.operators.multimodal import extract_features, fake_decode_meta
    from skinnerdb_spark.sources.binaryfile import load_binary, to_media

    payloads = {
        "a.img": b"\x89PNGfake-a" * 40,
        "b.img": b"\x89PNGfake-b" * 9,
        "skip.txt": b"not media",
    }
    for name, blob in payloads.items():
        (tmp_path / name).write_bytes(blob)

    files = load_binary(spark, str(tmp_path), glob="*.img")
    assert set(files.columns) == {"path", "modificationTime", "length", "content"}
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in files.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert rows["a.img"]["length"] == len(payloads["a.img"])

    # length predicate prunes at listing time (no read of oversized files)
    assert load_binary(spark, str(tmp_path), glob="*.img", max_bytes=100).count() == 1

    media = to_media(files, "image")
    assert [f.name for f in media.schema.fields] == ["media_id", "content", "media_type"]
    feats = {r["content_md5"]: r for r in extract_features(media).collect()}
    assert len(feats) == 2
    import hashlib

    for blob in (payloads["a.img"], payloads["b.img"]):
        md5 = hashlib.md5(blob).hexdigest()
        w, h, c = fake_decode_meta(blob)
        got = feats[md5]
        assert (got["byte_len"], got["fake_width"], got["fake_height"], got["channels"]) == (
            len(blob), w, h, c,
        )

    # media_id is deterministic: same path -> same id across scans
    again = to_media(load_binary(spark, str(tmp_path), glob="*.img"), "image")
    assert {r["media_id"] for r in media.collect()} == {r["media_id"] for r in again.collect()}


def test_explain_adaptive_dot_renders_tree(spark, sf_dir):
    """DOT export of the explored UCT order tree (TreePlotter file-output
    analogue): valid digraph text, winning path bold, fallback labeled."""
    eng = Engine(spark, sf_dir)
    dot = eng.explain_adaptive_dot(
        "SELECT COUNT(*) AS n FROM lineitem, orders, supplier "
        "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey"
    )
    assert dot.startswith("digraph uct {") and dot.rstrip().endswith("}")
    assert "->" in dot or "single connected" in dot or "n0" in dot
    assert "style=bold" in dot or "single connected" in dot
    assert eng.last_adaptive.best_order

    fallback = eng.explain_adaptive_dot("SELECT COUNT(*) AS n FROM region")
    assert "not adaptive" in fallback


def test_cached_sql_roundtrip_and_staleness(spark, sf_dir, tmp_path, monkeypatch):
    """Persisted result cache: miss -> materialize, hit -> identical rows
    from parquet; any warehouse file change flips the key (new fingerprint
    = miss). Uses a COPY of the warehouse so staleness can be simulated
    without touching the read-only testdata."""
    import os
    import shutil

    wh = tmp_path / "wh"
    shutil.copytree(sf_dir, wh)
    eng = Engine(spark, str(wh))
    sql = "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment"

    # fresh per-run cache root: the default repo-level cache persists across
    # sessions BY DESIGN (copytree preserves mtimes, so a rerun would HIT)
    os.environ["SKINNER_RESULT_CACHE_DIR"] = str(tmp_path / "result_cache")
    try:
        _run_cached_sql_scenario(eng, wh, sql, monkeypatch)
    finally:
        os.environ.pop("SKINNER_RESULT_CACHE_DIR", None)
        # the session-scoped fixture shares temp views across tests —
        # re-point them at the canonical warehouse
        Engine(spark, sf_dir)


def _run_cached_sql_scenario(eng, wh, sql, monkeypatch):
    import os

    from skinnerdb_spark import engine

    first = eng.cached_sql(sql).collect()
    assert eng.last_cache_hit is False
    second = eng.cached_sql(sql).collect()
    assert eng.last_cache_hit is True
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))

    # different SQL -> different key
    eng.cached_sql("SELECT COUNT(*) AS n FROM nation")
    assert eng.last_cache_hit is False

    # warehouse rewrite -> stale: touch a file's mtime
    target = next(
        os.path.join(r, f) for r, _, fs in os.walk(wh) for f in fs if f.endswith(".parquet")
    )
    os.utime(target, ns=(os.stat(target).st_mtime_ns + 10**9,) * 2)
    eng.cached_sql(sql)
    assert eng.last_cache_hit is False

    # bounded cache: with cap=2, a third distinct result evicts the oldest
    monkeypatch.setattr(engine, "RESULT_CACHE_MAX", 2)
    eng.cached_sql("SELECT COUNT(*) AS n FROM region")
    root = os.environ["SKINNER_RESULT_CACHE_DIR"]
    live = [d for d in os.listdir(root) if ".tmp-" not in d]
    assert len(live) <= 2

    # detached engine refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="warehouse"):
        Engine(eng.spark).cached_sql("SELECT 1")


def test_stream_incremental_rollup_matches_batch(spark, sf_dir, tmp_path):
    """foreachBatch + dynamic partition overwrite: after draining the
    source, the persisted rollup table equals the batch-twin aggregation
    (ev_tumbling_hour), and a REPLAY from a fresh checkpoint is idempotent."""
    from skinnerdb_spark.registry import all_specs
    from skinnerdb_spark.streaming.windows import stream_incremental_rollup

    src = f"{sf_dir}/events.parquet"
    out, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        stream_incremental_rollup(spark, src, out, ckpt)

        batch = all_specs()["ev_tumbling_hour"].spark(spark, sf_dir).toPandas()
        got = (
            spark.read.parquet(out)
            .select("window_start", "event_type", "n_events")
            .toPandas()
        )
        key = ["window_start", "event_type"]
        batch = batch.sort_values(key, ignore_index=True)[batch.columns.sort_values()]
        got = got.sort_values(key, ignore_index=True)[got.columns.sort_values()]
        assert len(got) == len(batch) and (got["n_events"] == batch["n_events"]).all()

        # replay with a new checkpoint: same partitions rewritten, same table
        stream_incremental_rollup(spark, src, out, str(tmp_path / "ckpt2"))
        again = spark.read.parquet(out)
        assert again.count() == len(batch)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_corpus_generator_matches_committed_files(tmp_path):
    """tools/gen_job_corpus.py is deterministic and the committed
    queries_sql/ files are exactly its output — no hand-edited drift between
    the generator (what the docs describe) and the corpus (what bench and
    the differential gate actually run)."""
    import pathlib
    import runpy

    mod = runpy.run_path("tools/gen_job_corpus.py", run_name="corpusgen")
    mod["main"](str(tmp_path))
    committed = {p.name: p.read_bytes() for p in pathlib.Path("queries_sql").glob("*.sql")}
    generated = {p.name: p.read_bytes() for p in tmp_path.glob("*.sql")}
    assert generated == committed


def test_recursive_cte_support_and_limits(spark):
    """Spark 4 recursive CTEs: linear UNION ALL recursion works (date-spine /
    sequence generation without explode); UNION-distinct recursion — what a
    cyclic-graph closure needs — is rejected, which is WHY dedup_clusters
    uses the iterative min-label / star-contraction loops instead (the
    DuckDB oracle side does use a recursive CTE, where UNION is allowed)."""
    rows = spark.sql(
        """
        WITH RECURSIVE spine(d) AS (
          SELECT DATE '2024-01-01'
          UNION ALL
          SELECT d + INTERVAL 1 DAY FROM spine WHERE d < DATE '2024-01-10')
        SELECT COUNT(*) AS n, MIN(d) AS lo, MAX(d) AS hi FROM spine
        """
    ).collect()
    assert rows[0].n == 10 and str(rows[0].hi) == "2024-01-10"

    with pytest.raises(Exception, match="UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"):
        spark.sql(
            """
            WITH RECURSIVE r(n) AS (
              SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 5)
            SELECT * FROM r
            """
        ).collect()


def test_attach_operators_sql_composition(spark, sf_dir):
    """Registry operators exposed as SQL views compose declaratively: a
    cross-operator join runs through spark.sql, Catalyst prunes through the
    view boundary, and results agree with the operator APIs."""
    from skinnerdb_spark.operators.curation_gate import docs_curation_gate

    eng = Engine(spark, sf_dir)
    created = eng.attach_operators(["docs_curation_gate", "text_langid"])
    assert created == ["op_docs_curation_gate", "op_text_langid"]

    composed = spark.sql(
        """
        SELECT COUNT(*) AS n FROM op_docs_curation_gate g
        JOIN op_text_langid l USING (doc_id)
        WHERE g.verdict = 'keep'
        """
    ).collect()[0].n
    direct = docs_curation_gate(spark, sf_dir).filter(F.col("verdict") == "keep").count()
    assert composed == direct > 0

    # column pruning crosses the view boundary: selecting one column from
    # the gate view must not scan embeddings-irrelevant signal branches'
    # unused columns (smoke: the plan parses and prunes text from langid)
    plan = spark.sql(
        "SELECT doc_id FROM op_text_langid WHERE lang_pred = 'en'"
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    read = plan.split("ReadSchema", 1)[1][:160]
    assert "n_chars" not in read

    with pytest.raises(ValueError, match="warehouse"):
        Engine(spark).attach_operators(["text_langid"])


# --------------------------------------------------------------------------
# operators/pq — product-quantization index
# --------------------------------------------------------------------------
def test_pq_index_persist_roundtrip(spark, sf_dir, tmp_path):
    """Persisted codes equal recomputed ones, every vector gets exactly
    M_SUBS codes, and codes stay within the 4-bit codebook range."""
    from skinnerdb_spark.operators.pq import (
        K_CODES,
        M_SUBS,
        build_pq_index,
        encode,
    )

    e = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pq_index")
    build_pq_index(spark, e, path)
    cb = spark.read.parquet(f"{path}/codebooks")
    assert cb.count() == M_SUBS * K_CODES
    persisted = {
        (r.vec_id, r.sub): r.code
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    fresh = {(r.vec_id, r.sub): r.code for r in encode(e, cb).collect()}
    assert persisted == fresh, "persisted codes must equal recomputed ones"
    n_vec = e.count()
    assert len(persisted) == n_vec * M_SUBS
    assert all(0 <= c < K_CODES for c in persisted.values())


def test_pq_fingerprint_tracks_ivf_source_and_version(sf_dir):
    """PQ staleness keys on the same source fingerprint as IVF but under its
    own format-version prefix — a PQ algorithm bump must not invalidate IVF
    indexes (and vice versa)."""
    from skinnerdb_spark.operators import ivf, pq

    fp = pq.source_fingerprint(sf_dir)
    assert fp.startswith(f"pq{pq.INDEX_VERSION}.m{pq.M_SUBS}k{pq.K_CODES}:")
    assert fp.endswith(ivf.source_fingerprint(sf_dir))


def test_analytics_session_gap_matches_streaming():
    """analytics re-declares SESSION_GAP_MIN (import-cycle avoidance);
    ev_session_paths promises the SAME session definition as
    ev_sessionization, so the two constants must not drift apart."""
    from skinnerdb_spark.operators import analytics
    from skinnerdb_spark.streaming import windows

    assert analytics.SESSION_GAP_MIN == windows.SESSION_GAP_MIN


def test_prefix_filter_complete_vs_brute_force(spark, sf_dir):
    """The prefix-filter join's pruning guarantee, checked pair-for-pair:
    its output must EQUAL the all-pairs brute-force Jaccard >= 0.5 set —
    recall 1.0 by construction, unlike the minhash family."""
    from skinnerdb_spark.operators.dedup import (
        dedup_prefix_filter,
        shared_shingle_sets,
    )

    got = {
        (r.doc_a, r.doc_b) for r in dedup_prefix_filter(spark, sf_dir).collect()
    }
    sh = shared_shingle_sets(spark, sf_dir)
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sa"), F.col("n").alias("na")
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sb"), F.col("n").alias("nb")
    )
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("i", F.expr("size(array_intersect(sa, sb))"))
        .filter(3 * F.col("i") >= F.col("na") + F.col("nb"))
    )
    expect = {(r.doc_a, r.doc_b) for r in brute.collect()}
    assert got == expect
    assert len(expect) > 0, "corpus must exercise the threshold"


def test_stream_transition_counts_matches_batch(spark, sf_dir):
    """The stateful transition stream drains to exactly the batch bigram
    counts (single availableNow batch -> all arrivals in order, zero late
    drops), keyed (prev_type, next_type) summed over users."""
    import collections

    from skinnerdb_spark.streaming.windows import (
        run_stream_once,
        stream_events,
        stream_transition_counts,
    )

    src = os.path.join(sf_dir, "events.parquet")
    try:
        stream = stream_events(spark, src)
    except Exception as e:
        pytest.skip(f"stream source unavailable: {e}")
    rows = run_stream_once(
        stream_transition_counts(stream), "t_stream_trans", output_mode="update"
    )
    got: collections.Counter = collections.Counter()
    for r in rows:
        got[(r.prev_type, r.next_type)] += r.n
        assert r.n_late_dropped == 0
    e = read_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        e.select("event_type", F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", "event_type")
        .count()
        .collect()
    )
    expect = {(r.prev, r.event_type): r["count"] for r in batch}
    assert dict(got) == expect


def test_transition_update_emits_late_count_for_late_only_batch():
    """ADVICE r5: a micro-batch containing ONLY late rows must still surface
    n_late_dropped (one transition-less row), not drop it with the empty
    counts frame — driven directly against the update function with a fake
    state (the stateful-streaming runtime is env-blocked)."""
    import pandas as pd

    from skinnerdb_spark.streaming.windows import _transition_update

    class FakeState:
        def __init__(self, tup):
            self.tup = tup

        @property
        def exists(self):
            return self.tup is not None

        @property
        def get(self):
            return self.tup

        def update(self, tup):
            self.tup = tup

    t0 = pd.Timestamp("2024-01-01 12:00:00")
    state = FakeState((int(t0.value // 1000), "click"))
    late_batch = pd.DataFrame(
        {
            "user_id": [7, 7],
            "event_id": [1, 2],
            "ts": [t0 - pd.Timedelta(hours=2), t0 - pd.Timedelta(hours=1)],
            "event_type": ["view", "view"],
        }
    )
    (out,) = list(_transition_update((7,), [late_batch], state))
    assert len(out) == 1
    row = out.iloc[0]
    assert row["n_late_dropped"] == 2 and row["n"] == 0
    assert pd.isna(row["prev_type"]) and pd.isna(row["next_type"])
    # state unchanged by late rows
    assert state.tup == (int(t0.value // 1000), "click")
    # and a genuinely empty batch still yields the typed-empty frame
    (empty,) = list(_transition_update((7,), [late_batch.iloc[:0]], state))
    assert empty.empty and list(empty.columns) == list(out.columns)


def test_codecs_roundtrip_all_png_filters_and_bmp():
    """Pure-stdlib codecs (r6): BMP and PNG encode/decode round-trip pixel-
    exact (gray/RGB/RGBA), the decoder reconstructs every PNG filter type
    (Sub/Up/Average/Paeth), BMP orientation/padding/BGR handling is pinned,
    and unsupported formats fail loudly naming what IS supported."""
    import random
    import struct
    import zlib

    from skinnerdb_spark.operators.codecs import (
        PNG_SIG,
        decode_bmp,
        decode_image,
        decode_png,
        encode_bmp,
        encode_png,
    )

    rng = random.Random(7)
    for w, h, ch in [(1, 1, 3), (5, 3, 3), (16, 9, 3), (7, 7, 1), (4, 2, 4), (33, 17, 3)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        if ch == 3:
            bmp = encode_bmp(w, h, px)
            assert decode_bmp(bmp) == (w, h, 3, px)
            assert decode_image(bmp) == (w, h, 3, px)
        png = encode_png(w, h, px, ch)
        assert decode_png(png) == (w, h, ch, px)
        assert decode_image(png) == (w, h, ch, px)

    # hand-encode each non-trivial PNG filter; the decoder must invert it
    def png_with_filter(w, h, px, ft):
        stride = w * 3
        raw = bytearray()
        prev = bytearray(stride)
        for y in range(h):
            line = bytearray(px[y * stride : (y + 1) * stride])
            enc = bytearray(stride)
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                ul = prev[i - 3] if i >= 3 else 0
                if ft == 1:
                    enc[i] = (line[i] - left) & 0xFF
                elif ft == 2:
                    enc[i] = (line[i] - prev[i]) & 0xFF
                elif ft == 3:
                    enc[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
                else:
                    p = left + prev[i] - ul
                    pa, pb, pc = abs(p - left), abs(p - prev[i]), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (prev[i] if pb <= pc else ul)
                    enc[i] = (line[i] - pred) & 0xFF
            raw.append(ft)
            raw += enc
            prev = line

        def chunk(tag, pl):
            return struct.pack(">I", len(pl)) + tag + pl + struct.pack(
                ">I", zlib.crc32(tag + pl) & 0xFFFFFFFF
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")

    w, h = 9, 5
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    for ft in (1, 2, 3, 4):
        assert decode_png(png_with_filter(w, h, px, ft)) == (w, h, 3, px), ft

    # JPEG dispatches to the real r7 decoder now: a truncated stream fails
    # loudly INSIDE it; WebP routes to the real VP8L decoder, whose
    # lossy-WebP guard names the supported subset
    with pytest.raises(ValueError, match="SOS"):
        decode_image(b"\xff\xd8\xff\xe0JFIF")
    lossy = b"RIFF" + struct.pack("<I", 16) + b"WEBPVP8 " + b"\x00" * 8
    with pytest.raises(NotImplementedError, match="lossless"):
        decode_image(lossy)
    with pytest.raises(NotImplementedError, match="PNG, BMP"):
        decode_image(b"\x00unknown-format")


def test_stream_heavy_hitters_misra_gries_guarantees(spark, sf_dir):
    """Drained sharded Misra-Gries sketch satisfies the deterministic MG
    contract vs exact batch counts: underestimates only, error bounded by
    n_shard/(k+1), and every item above that bound is present."""
    from skinnerdb_spark.streaming.windows import (
        MG_ITEM_EXPR,
        MG_K,
        MG_SHARDS,
        run_stream_once,
        stream_events,
        stream_heavy_hitters,
    )

    src = os.path.join(sf_dir, "events.parquet")
    try:
        stream = stream_events(spark, src)
    except Exception as e:
        pytest.skip(f"stream source unavailable: {e}")
    rows = run_stream_once(
        stream_heavy_hitters(stream), "t_stream_hh", output_mode="update"
    )
    assert rows, "sketch must emit"
    est = {(r.shard, r.item): r.est for r in rows}
    n_shard = {r.shard: r.n_shard for r in rows}

    e = read_table(spark, sf_dir, "events")
    from skinnerdb_spark.streaming.windows import mg_shard_col

    exact_rows = (
        e.filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(F.expr(MG_ITEM_EXPR).alias("item"))
        .withColumn("shard", mg_shard_col(MG_SHARDS))
        .groupBy("shard", "item")
        .count()
        .collect()
    )
    exact = {(r.shard, r.item): r["count"] for r in exact_rows}
    # shard totals agree with the data
    for s, n in n_shard.items():
        assert n == sum(c for (sh, _), c in exact.items() if sh == s)
    saw_decrement = False
    for key, c_hat in est.items():
        true = exact.get(key, 0)
        bound = n_shard[key[0]] // (MG_K + 1) + 1
        assert c_hat <= true, f"{key}: MG must never overestimate"
        assert true - c_hat <= bound, f"{key}: error above the MG bound"
        if c_hat < true:
            saw_decrement = True
    # every guaranteed-heavy item is present
    for (s, item), true in exact.items():
        if true > n_shard[s] / (MG_K + 1):
            assert (s, item) in est, f"guaranteed heavy hitter {item} missing"
    assert saw_decrement, (
        "item cardinality must exceed k so the decrement step is exercised"
    )


def test_mg_update_state_roundtrip_and_bounded_size():
    """The MG update function keeps at most k counters across batches and
    restores state exactly — driven with a fake state object."""
    import pandas as pd

    from skinnerdb_spark.streaming.windows import _mg_update

    class FakeState:
        def __init__(self):
            self.tup = None

        @property
        def exists(self):
            return self.tup is not None

        @property
        def get(self):
            return self.tup

        def update(self, tup):
            self.tup = tup

    state = FakeState()
    b1 = pd.DataFrame({"item": ["a"] * 5 + ["b"] * 3 + list("cdefgh")})
    (out1,) = list(_mg_update((0,), [b1], state, k=4))
    assert len(out1) <= 4 and out1["n_shard"].iloc[0] == 14
    # heavy item 'a' survives batch 1 and keeps accumulating in batch 2
    b2 = pd.DataFrame({"item": ["a"] * 4})
    (out2,) = list(_mg_update((0,), [b2], state, k=4))
    got_a = int(out2.set_index("item")["est"].get("a", 0))
    assert got_a >= 4 and out2["n_shard"].iloc[0] == 18
    assert len(state.tup[0]) <= 4  # bounded state across batches


# ---------------------------------------------------------------------------
# RIFF/WAVE codec (r7)
# ---------------------------------------------------------------------------


class TestWavCodec:
    def test_roundtrip_mono_and_stereo(self):
        from skinnerdb_spark.operators.audio import decode_wav, encode_wav

        for ch in (1, 2):
            samples = [((i * 37) % 2001) - 1000 for i in range(101 * ch)]
            sr, got_ch, got = decode_wav(encode_wav(16000, ch, samples))
            assert (sr, got_ch, got) == (16000, ch, samples)

    def test_odd_sized_data_chunk_gets_pad_byte(self):
        from skinnerdb_spark.operators.audio import decode_wav, encode_wav

        # one extra chunk of odd size before data: parser must skip the pad
        import struct

        wav = encode_wav(8000, 1, [1, -2, 3])
        # splice a 3-byte junk chunk (odd -> 1 pad byte) right after "WAVE"
        junk = b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"
        spliced = wav[:12] + junk + wav[12:]
        spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        assert decode_wav(spliced) == (8000, 1, [1, -2, 3])

    def test_rejects_non_pcm_and_truncated(self):
        import struct

        import pytest as _pytest

        from skinnerdb_spark.operators.audio import decode_wav, encode_wav

        with _pytest.raises(ValueError, match="RIFF/WAVE"):
            decode_wav(b"OggS" + b"\x00" * 40)
        wav = bytearray(encode_wav(8000, 1, [0, 1]))
        # flip audio_format (offset: 12 riff hdr + 8 chunk hdr) to 3 (float)
        struct.pack_into("<H", wav, 20, 3)
        with _pytest.raises(ValueError, match="PCM16"):
            decode_wav(bytes(wav))
        with _pytest.raises(ValueError, match="truncated|missing"):
            decode_wav(encode_wav(8000, 1, [0, 1])[:-3])


class TestAviCodec:
    def test_roundtrip_with_odd_frames_and_index(self):
        from skinnerdb_spark.operators.avi import decode_avi, encode_avi

        frames = [b"abc", b"de", b"fghij"]  # odd sizes force movi pad bytes
        w, h, fps, n, out = decode_avi(encode_avi(32, 24, 15, frames))
        assert (w, h, fps, n) == (32, 24, 15, 3)
        assert out == frames

    def test_rejects_structural_errors(self):
        import struct

        from skinnerdb_spark.operators.avi import decode_avi, encode_avi

        with pytest.raises(ValueError, match="RIFF/AVI"):
            decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
        # frame-count mismatch between header and movi must be loud
        avi = bytearray(encode_avi(8, 8, 10, [b"xx", b"yy"]))
        # avih dwTotalFrames is the 5th uint32 of the avih payload;
        # locate the 'avih' fourcc and patch payload offset 16
        i = bytes(avi).index(b"avih") + 8 + 16
        struct.pack_into("<I", avi, i, 9)
        with pytest.raises(ValueError, match="declares"):
            decode_avi(bytes(avi))


def test_xml_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    """documents -> XML -> back via Spark 4's native xml source: values
    survive; a malformed element quarantines into _corrupt_record; schema
    stays mandatory at scale."""
    import pytest

    from skinnerdb_spark.sources.formats import (
        load_xml,
        quarantine_split,
        store_xml,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "docs_xml")
    store_xml(docs, out, row_tag="doc", root_tag="docs")
    back = load_xml(spark, out, row_tag="doc",
                    schema="doc_id long, lang string, n_chars long")
    clean, corrupt = quarantine_split(back)
    assert corrupt.count() == 0
    a = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    b = {r["doc_id"]: r["n_chars"] for r in clean.collect()}
    assert a == b
    with pytest.raises(TypeError, match="schema"):
        load_xml(spark, out, row_tag="doc")
    bad = tmp_path / "badxml"
    bad.mkdir()
    (bad / "part-0.xml").write_text(
        "<docs><doc><doc_id>1</doc_id><lang>en</lang></doc>"
        "<doc><doc_id>oops</doc_id><lang>de</lang></doc></docs>"
    )
    mixed = load_xml(spark, str(bad), row_tag="doc",
                     schema="doc_id long, lang string")
    clean, corrupt = quarantine_split(mixed)
    assert clean.count() == 1 and corrupt.count() == 1


def test_greedy_orders_seed_dim_first():
    """greedy_orders produces connected, small-leading orders even when the
    DFS enumeration window would contain only fact-first permutations —
    the 16b-at-scale-100 regression (an 8-way star whose smallest, most
    filtered leaves sit last in table order)."""
    from skinnerdb_spark.plans.joinorder import (
        JoinEdge,
        connected_orders,
        greedy_orders,
        is_connected_order,
    )

    tables = ["an", "ci", "cn", "k", "mc", "mk", "n", "t"]
    E = JoinEdge
    edges = [
        E("an", "person_id", "n", "id"),
        E("n", "id", "ci", "person_id"),
        E("ci", "movie_id", "t", "id"),
        E("t", "id", "mk", "movie_id"),
        E("mk", "keyword_id", "k", "id"),
        E("t", "id", "mc", "movie_id"),
        E("mc", "company_id", "cn", "id"),
        E("an", "person_id", "ci", "person_id"),
        E("ci", "movie_id", "mc", "movie_id"),
    ]
    sizes = {"k": 2, "cn": 10, "mc": 50, "an": 52, "mk": 54,
             "t": 136, "n": 239, "ci": 843}
    greedy = greedy_orders(tables, edges, sizes)
    assert greedy, "no greedy order found on a connected graph"
    # every greedy order is valid and covers all tables
    for o in greedy:
        assert is_connected_order(o, tables, edges)
    # the first seed starts from the smallest leaf (k) and keeps ci last-ish
    assert greedy[0][0] == "k"
    assert greedy[0].index("ci") >= 4
    # the DFS window at max_orders=12 never opens with k on this graph
    # (alphabetical DFS exhausts its budget on an-first permutations) —
    # exactly why the seeds exist
    dfs = connected_orders(tables, edges, max_orders=12)
    assert all(o[0] != "k" for o in dfs)


def test_is_connected_order_rejects_cartesian_and_partial():
    from skinnerdb_spark.plans.joinorder import JoinEdge, is_connected_order

    tables = ["a", "b", "c"]
    edges = [JoinEdge("a", "x", "b", "x"), JoinEdge("b", "y", "c", "y")]
    assert is_connected_order(("a", "b", "c"), tables, edges)
    assert not is_connected_order(("a", "c", "b"), tables, edges)  # a-c cartesian
    assert not is_connected_order(("a", "b"), tables, edges)  # partial


def test_asof_join_directions_and_ties(spark):
    """asof_join semantics on a constructed frame: backward picks the
    greatest right_ts <= left_ts (ties: greatest tiebreak), forward the
    smallest right_ts >= left_ts (ties: smallest tiebreak); equal
    timestamps match in BOTH directions; unmatched left rows drop."""
    from skinnerdb_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 5, "b"), (2, 7, "c")], "k int, t int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 5, 101), (1, 12, 200), (2, 99, 300)],
        "k int, rt int, rid int",
    )
    back = {
        (r.tag): (r.rt, r.rid)
        for r in asof_join(left, right, "k", "t", "rt", tiebreak="rid").collect()
    }
    # t=10 -> rt=5 (latest <=), tie between rid 100/101 -> greatest (101)
    # t=5  -> rt=5 equal-ts match; t=7 (k=2) -> no rt <= 7 -> dropped
    assert back == {"a": (5, 101), "b": (5, 101)}
    fwd = {
        (r.tag): (r.rt, r.rid)
        for r in asof_join(
            left, right, "k", "t", "rt", tiebreak="rid", direction="forward"
        ).collect()
    }
    # t=10 -> rt=12 (earliest >=); t=5 -> rt=5 tie -> SMALLEST rid (100)
    # t=7 (k=2) -> rt=99
    assert fwd == {"a": (12, 200), "b": (5, 100), "c": (99, 300)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join(left, right, "k", "t", "rt", direction="sideways")


def test_stream_ab_monitor_matches_batch(spark, sf_dir, tmp_path):
    """Continuous A/B monitor: after a full availableNow drain, the last
    monitor row's four test integers AND the z statistic are bit-identical
    to the batch stats_ab_ztest entry over the same events file; a replay
    from a fresh checkpoint onto the same state is skipped (row count per
    batch_id stays 1, the test integers stay the batch entry's)."""
    from skinnerdb_spark.registry import all_specs
    from skinnerdb_spark.streaming.windows import stream_ab_monitor

    src = f"{sf_dir}/events.parquet"
    state = str(tmp_path / "ab_state")
    monitor = str(tmp_path / "ab_monitor")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        stream_ab_monitor(spark, src, state, monitor, str(tmp_path / "ck1"))

        batch = all_specs()["stats_ab_ztest"].spark(spark, sf_dir).collect()[0]
        mon = spark.read.parquet(monitor)
        last = mon.orderBy(F.col("batch_id").desc()).limit(1).collect()[0]
        for c in ("n0", "x0", "n1", "x1"):
            assert last[c] == batch[c], (c, last[c], batch[c])
        # z is either bit-equal or both-NULL (degenerate variance)
        assert (last["z"] is None and batch["z"] is None) or last["z"] == batch["z"]

        # replay: same batches -> same batch_id partitions rewritten in place
        stream_ab_monitor(spark, src, state, monitor, str(tmp_path / "ck2"))
        mon2 = spark.read.parquet(monitor).groupBy("batch_id").count().collect()
        assert all(r["count"] == 1 for r in mon2)
        last2 = (
            spark.read.parquet(monitor)
            .orderBy(F.col("batch_id").desc())
            .limit(1)
            .collect()[0]
        )
        # the state already holds batch 0 (its stored batch id), so the
        # replay is skipped and nothing is counted twice
        for c in ("n0", "x0", "n1", "x1"):
            assert last2[c] == batch[c], (c, last2[c], batch[c])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_sweep_runner_run_one(spark, sf_dir):
    """The committed scale-sweep runner executes a registry entry under its
    watchdog and records the status/sec/rows/metrics fields the 100x record
    (BENCH_SF10_SWEEP.jsonl) is built from."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("sweep_runner", "tools/sweep_runner.py")
    sr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sr)
    from skinnerdb_spark.registry import all_specs

    r = sr.run_one(spark, all_specs()["sample_shard_manifest"], sf_dir, 120)
    assert r["status"] == "ok"
    assert r["rows"] == 8 and r["sec"] > 0
    assert "spill" in r and "shuffles" in r


def test_sweep_runner_grace_completion_not_mislabeled(spark, sf_dir):
    """ADVICE r8: a worker that completes DURING the post-cancel grace join
    must keep its status=ok record — the old code stamped timeout over it.
    The spec below outlives the watchdog window (0.3 s) but finishes well
    inside the 30 s grace, deterministically exercising exactly that race."""
    import importlib.util
    import time as _t

    spec = importlib.util.spec_from_file_location("sweep_runner", "tools/sweep_runner.py")
    sr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sr)

    class _SlowBuildSpec:
        name = "slow_build"

        def spark(self, session, sf):
            _t.sleep(1.2)  # driver-side: cancelJobGroup can't interrupt it
            return session.range(3)

    r = sr.run_one(spark, _SlowBuildSpec(), sf_dir, 0.3)
    assert r["status"] == "ok", r
    assert r["rows"] == 3 and r["sec"] >= 1.2


def test_union_dedup_recursion_boundary_pinned(spark):
    """Spark 4.1 supports only UNION ALL recursion; the cycle-safe
    UNION-dedup form (graph reachability) raises
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE — the documented engine boundary
    that keeps cyclic traversals on the unrolled-rounds path
    (queries/modern_sql.py header). Pinned so a Spark upgrade that LIFTS
    the boundary is noticed: if this test fails with no error raised,
    revisit dedup_clusters' unrolled loop."""
    import pytest as _pt
    from pyspark.errors import AnalysisException

    with _pt.raises(AnalysisException) as ei:
        spark.sql(
            "WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r "
            "WHERE n < 5) SELECT * FROM r"
        ).collect()
    assert ei.value.getCondition() == "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"


def test_cte_recursion_row_limit_guard_pinned(spark):
    """The cteRecursionRowLimit runaway guard: a recursion producing more
    rows than the conf trips RECURSION_ROW_LIMIT_EXCEEDED at execution.
    Scoped to a child session — the same isolation rcte_order_chains uses
    for the opposite purpose (raising the limit) — so this session's guard
    is untouched. Pins both the error class and that the conf is read at
    EXECUTION (the child session's value governs its own DataFrames)."""
    import pytest as _pt

    s2 = spark.newSession()
    s2.conf.set("spark.sql.cteRecursionRowLimit", "10")
    df = s2.sql(
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r "
        "WHERE n < 100) SELECT COUNT(*) AS n FROM r"
    )
    with _pt.raises(Exception, match="RECURSION_ROW_LIMIT_EXCEEDED"):
        df.collect()
    # the caller's session guard is untouched by the child's conf
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") != "10"


def test_systematic_pps_boundaries(spark, tmp_path):
    """PPS crossing-count boundaries: (a) a document heavier than the
    stride is drawn once per stratum it spans; (b) the FIRST document
    (cum - w = 0) must not trip the Spark-DIV-vs-DuckDB-floor divergence
    on negative numerators — the formula stays in nonnegative space."""
    from skinnerdb_spark.registry import all_specs

    docs = spark.createDataFrame(
        [(0, "s", 5000), (1, "s", 10), (2, "s", 10)],
        "doc_id long, source string, n_chars int",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = all_specs()["sample_systematic_pps"].spark(spark, str(tmp_path)).collect()
    assert [(r["doc_id"], r["n_picks"]) for r in rows] == [(0, 64)], rows

    # uniform weights: exactly one pick per stratum, 64 distinct docs
    docs2 = spark.createDataFrame(
        [(i, "s", 10) for i in range(128)], "doc_id long, source string, n_chars int"
    )
    docs2.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows2 = all_specs()["sample_systematic_pps"].spark(spark, str(tmp_path)).collect()
    assert sum(r["n_picks"] for r in rows2) == 64
    assert all(r["n_picks"] == 1 for r in rows2)


def test_stream_cusum_monitor_matches_batch(spark, sf_dir, tmp_path):
    """The streaming CUSUM monitor's post-drain state reproduces the batch
    entry's series EXACTLY (daily-count merging is associative integer
    addition), and the monitor row aggregates that series."""
    import pyspark.sql.functions as F

    from skinnerdb_spark.operators.stattests import cusum_series
    from skinnerdb_spark.registry import all_specs
    from skinnerdb_spark.streaming.windows import stream_cusum_monitor

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        src = sf_dir + "/events.parquet"
        state = str(tmp_path / "state")
        monitor = str(tmp_path / "monitor")
        stream_cusum_monitor(spark, src, state, monitor, str(tmp_path / "ck"))

        batch = all_specs()["ev_cusum_drift"].spark(spark, sf_dir).toPandas()
        drained = (
            cusum_series(
                spark.read.parquet(state).select(
                    F.col("d"), F.col("n").cast("bigint").alias("n")
                )
            )
            .toPandas()
        )
        b = batch.sort_values("day", ignore_index=True)
        s = drained.sort_values("day", ignore_index=True)
        assert b.equals(s), "drained state series != batch series"

        mon = spark.read.parquet(monitor)
        last = mon.orderBy(F.col("batch_id").desc()).limit(1).collect()[0]
        assert last["n_days"] == len(b)
        assert last["total_events"] == int(b["n_events"].sum())
        assert last["n_alarms"] == int(b["alarm"].sum())
        assert last["max_cusum_pos"] == int(b["cusum_pos"].max())

        # replay: same batches -> same batch_id partitions rewritten
        stream_cusum_monitor(spark, src, state + "2", monitor, str(tmp_path / "ck2"))
        mon2 = spark.read.parquet(monitor).groupBy("batch_id").count().collect()
        assert all(r["count"] == 1 for r in mon2)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_sq_ann_recall_and_candidate_bound(spark, sf_dir):
    """SQ8's quantization error (255 levels over the per-dim value span) is
    far below this corpus's neighbor margins, so the compressed-scan tier
    must be LOSSLESS at top-5 — recall 1.0 vs brute force, pinned (a recall
    drop means the quantizer or the asymmetric distance regressed). Also
    pins the candidate contract: <= CAND rows per query feed the rescore."""
    from skinnerdb_spark.operators.sq import CAND, sim_sq_ann
    from skinnerdb_spark.operators.similarity import TOP_K, sim_bruteforce_topk

    def tops(df):
        out: dict[int, set[int]] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = tops(sim_bruteforce_topk(spark, sf_dir))
    got = tops(sim_sq_ann(spark, sf_dir))
    assert truth.keys() == got.keys()
    for q, t in truth.items():
        assert len(got[q]) == TOP_K
        assert got[q] == t, f"query {q}: SQ top-k diverged from brute force"
    assert TOP_K <= CAND


def test_stream_kmv_monitor_matches_batch(spark, sf_dir, tmp_path):
    """The streaming KMV monitor's post-drain state sketch is ROW-IDENTICAL
    to the sketch computed over the same files as one batch — the
    approx_kmv_merge algebra (bottom-k of a union == bottom-k of the union
    of bottom-k's) applied as bounded streaming state. Also pins the
    batch_id-overwrite idempotence contract."""
    import pyspark.sql.functions as F

    from skinnerdb_spark.queries.extensions import KMV_K, kmv_sketch
    from skinnerdb_spark.queries.util import read_table
    from skinnerdb_spark.streaming.windows import APPLIED_BATCH, stream_kmv_monitor

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        src = sf_dir + "/events.parquet"
        state = str(tmp_path / "state")
        monitor = str(tmp_path / "monitor")
        stream_kmv_monitor(spark, src, state, monitor, str(tmp_path / "ck"))

        batch = (
            kmv_sketch(read_table(spark, sf_dir, "events"), "event_type", "user_id")
            .toPandas()
            .sort_values(["grp", "h"], ignore_index=True)
        )
        drained = (
            spark.read.parquet(state)
            .drop(APPLIED_BATCH)
            .toPandas()
            .sort_values(["grp", "h"], ignore_index=True)
        )
        assert batch.equals(drained), "drained sketch != batch sketch"
        assert (batch.groupby("grp").size() <= KMV_K).all()

        mon = spark.read.parquet(monitor)
        last_bid = mon.agg(F.max("batch_id")).collect()[0][0]
        last = {
            r["grp"]: r
            for r in mon.filter(F.col("batch_id") == last_bid).collect()
        }
        for grp, n in batch.groupby("grp").size().items():
            assert last[grp]["in_sketch"] == n
            assert last[grp]["kth_min"] == int(
                batch[batch["grp"] == grp]["h"].max()
            )

        # replay: same batches -> same batch_id partitions rewritten
        stream_kmv_monitor(spark, src, state + "2", monitor, str(tmp_path / "ck2"))
        mon2 = (
            spark.read.parquet(monitor)
            .groupBy("batch_id", "grp")
            .count()
            .collect()
        )
        assert all(r["count"] == 1 for r in mon2)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_stream_bitmap_monitor_matches_batch(spark, sf_dir, tmp_path):
    """The streaming bitmap monitor's post-drain state table is
    ROW-IDENTICAL to the batch kernel over the same files — bit_or merge
    associativity (the ev_bitmap_rollup merge_exact receipt) applied as
    bounded streaming state: one word per (user, month) forever. Also pins
    the batch_id-overwrite idempotence contract."""
    import pyspark.sql.functions as F

    from skinnerdb_spark.operators.analytics import user_month_bitmaps
    from skinnerdb_spark.queries.util import read_table
    from skinnerdb_spark.streaming.windows import stream_bitmap_monitor

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        src = sf_dir + "/events.parquet"
        state = str(tmp_path / "state")
        monitor = str(tmp_path / "monitor")
        stream_bitmap_monitor(spark, src, state, monitor, str(tmp_path / "ck"))

        batch = (
            user_month_bitmaps(read_table(spark, sf_dir, "events"))
            .toPandas()
            .sort_values(["user_id", "month"], ignore_index=True)
        )
        drained = (
            spark.read.parquet(state)
            .toPandas()[["user_id", "month", "bm"]]
            .sort_values(["user_id", "month"], ignore_index=True)
        )
        assert batch.equals(drained), "drained bitmap state != batch kernel"

        mon = spark.read.parquet(monitor)
        last_bid = mon.agg(F.max("batch_id")).collect()[0][0]
        last = {
            r["month"]: r
            for r in mon.filter(F.col("batch_id") == last_bid).collect()
        }
        truth = (
            batch.assign(days=batch["bm"].map(lambda w: bin(int(w)).count("1")))
            .groupby("month")
            .agg(n_users=("user_id", "size"), user_days=("days", "sum"),
                 max_days=("days", "max"))
        )
        for month, row in truth.iterrows():
            assert last[month]["n_users"] == row["n_users"]
            assert last[month]["user_days"] == row["user_days"]
            assert last[month]["max_days"] == row["max_days"]

        # replay: same batches -> same batch_id partitions rewritten
        stream_bitmap_monitor(spark, src, state + "2", monitor, str(tmp_path / "ck2"))
        mon2 = (
            spark.read.parquet(monitor)
            .groupBy("batch_id", "month")
            .count()
            .collect()
        )
        assert all(r["count"] == 1 for r in mon2)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_bloom_semijoin_empty_probe_matches_oracle(spark, sf_dir, tmp_path):
    """approx_bloom_semijoin on a warehouse whose probe selection (H2-1995
    shipments) is empty: its row and key counts must read 0, as the
    oracle's COUNT(*)s do, not the NULL of a SUM over no rows."""
    import math
    import shutil

    import duckdb

    from skinnerdb_spark.catalog import table_path
    from skinnerdb_spark.registry import all_specs

    wh = str(tmp_path)
    shutil.copy(table_path(sf_dir, "orders"), table_path(wh, "orders"))
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{table_path(sf_dir, 'lineitem')}') "
        "WHERE NOT (l_shipdate >= DATE '1995-07-01' AND l_shipdate < DATE '1996-01-01')) "
        f"TO '{table_path(wh, 'lineitem')}' (FORMAT PARQUET)"
    )
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(wh, t)}')")
    spec = all_specs()["approx_bloom_semijoin"]
    got = spec.spark(spark, wh).toPandas().iloc[0].to_dict()
    exp = con.execute(spec.oracle).df().iloc[0].to_dict()
    con.close()
    assert exp["n_probe"] == 0 and exp["n_rows_probe"] == 0  # the probe is empty
    assert sorted(got) == sorted(exp)
    for k, v in exp.items():
        both_null = all(x is None or (isinstance(x, float) and math.isnan(x)) for x in (v, got[k]))
        assert both_null or got[k] == v, (k, got[k], v)


def test_native_runtime_bloom_filter_fires(spark, sf_dir):
    """Ties approx_bloom_semijoin to ENGINE behavior: Spark's own
    InjectRuntimeFilter rewrite (spark.sql.optimizer.runtime.bloomFilter)
    synthesizes exactly the plan that entry makes explicit — a bloom built
    over the filtered dim keys, probed by might_contain on the fact scan
    BEFORE the join. Pin that the rewrite fires on this build (thresholds
    lowered to this warehouse's size), so the 100 TB deployment note in the
    entry's docstring rests on a tested engine capability, not a claim."""
    from skinnerdb_spark.queries.util import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # disable the cheaper semi-join alternative so the bloom path is
        # the one chosen deterministically
        "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled": "false",
        # the injector only fires on SHUFFLE joins (a broadcast join already
        # prunes at the hash table); at the gate SF the dim side is tiny, so
        # force the 100 TB shape where the rewrite matters
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "l_returnflag"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_overlap_join_dedup_exactly_once(spark):
    """interval_overlap_join(dedup=True) must emit each overlapping pair
    EXACTLY once via the canonical-bin filter — including pairs whose
    overlap spans two month bins (the case the old post-join DISTINCT
    existed for) — and must equal dedup=False + DISTINCT (the semantics it
    replaces, VERDICT r10 item 5)."""
    import datetime as dt

    from skinnerdb_spark.operators.temporal import interval_overlap_join

    d = dt.date
    a = spark.createDataFrame(
        [
            # spans Jan->Feb: overlaps b1 in BOTH shared months
            ("a1", d(2020, 1, 20), d(2020, 2, 10)),
            # single-month interval
            ("a2", d(2020, 2, 1), d(2020, 2, 5)),
            # no overlap with anything
            ("a3", d(2020, 6, 1), d(2020, 6, 30)),
        ],
        "aid string, a_start date, a_end date",
    )
    b = spark.createDataFrame(
        [
            # spans Jan->Feb too: shares two bins with a1
            ("b1", d(2020, 1, 25), d(2020, 2, 20)),
            # touches a2 exactly at its start (closed intervals)
            ("b2", d(2020, 2, 5), d(2020, 3, 1)),
        ],
        "bid string, b_start date, b_end date",
    )
    deduped = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", dedup=True
    ).select("aid", "bid")
    got = sorted((r.aid, r.bid) for r in deduped.collect())
    # ground truth by hand: a1-b1 overlap (Jan 25-Feb 10), a1-b2 overlap
    # (Feb 5-10), a2-b1 (Feb 1-5), a2-b2 (Feb 5 = closed endpoint), a3-none
    assert got == [("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2")]
    # multi-bin pair a1-b1 appears ONCE (the canonical-bin filter did the
    # dedup); and dedup=True == dedup=False + DISTINCT
    raw = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end"
    ).select("aid", "bid")
    assert sorted((r.aid, r.bid) for r in raw.collect()) != got  # dup exists
    assert sorted((r.aid, r.bid) for r in raw.distinct().collect()) == got


def test_numpy_moment_partials_match_sql_explode(spark, sf_dir):
    """r11: embed_power_iteration's corpus stage moved from the augmented
    outer-product explode (2145 struct rows per vector) to per-task numpy
    int64 matmul partials (_aug_moments_np). Both are exact associative
    int64 sums, so the merged (i, j) -> sp frame must be IDENTICAL —
    pinned here against the r7 SQL-explode shape on the test corpus."""
    from pyspark.sql import functions as F

    from skinnerdb_spark.operators.spectral import _aug_moments_np
    from skinnerdb_spark.operators.textprims import fan_out
    from skinnerdb_spark.queries.util import read_table

    e = read_table(spark, sf_dir, "embeddings").select("embedding")
    qa = fan_out(e).select(
        F.expr(
            "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))"
        ).alias("qa")
    )
    got = (
        qa.mapInPandas(_aug_moments_np, "i bigint, j bigint, sp bigint")
        .groupBy("i", "j")
        .agg(F.sum("sp").cast("bigint").alias("sp"))
    )
    ref = (
        qa.select(F.col("qa").alias("q"))
        .select(
            F.explode(
                F.expr(
                    "concat("
                    "flatten(transform(sequence(1, size(q)), i -> "
                    "transform(sequence(i, size(q)), j -> named_struct("
                    "'i', CAST(i AS BIGINT), 'j', CAST(j AS BIGINT), "
                    "'p', element_at(q, i) * element_at(q, j))))), "
                    "transform(sequence(1, size(q)), i -> named_struct("
                    "'i', CAST(i AS BIGINT), 'j', CAST(0 AS BIGINT), "
                    "'p', element_at(q, i))), "
                    "array(named_struct('i', CAST(0 AS BIGINT), "
                    "'j', CAST(0 AS BIGINT), 'p', CAST(1 AS BIGINT))))"
                )
            ).alias("t")
        )
        .groupBy("t.i", "t.j")
        .agg(F.sum("t.p").cast("bigint").alias("sp"))
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    # empty-partition contract: a task with zero rows emits nothing
    assert list(_aug_moments_np(iter([]))) == []


def test_bootstrap_fused_slices_match_exploded_reference(spark, sf_dir):
    """r11: stats_bootstrap_ci aggregates the four 32-bit digest slices as
    four top-level (swc, sw) pairs per (pri, bg) instead of exploding x4
    before the aggregate. Pin the identity: the entry's CI equals the one
    computed by the original exploded-slice replicate chain (same integer
    terms per (pri, b) cell; addition associative)."""
    from pyspark.sql.window import Window

    from skinnerdb_spark.operators.stattests import BOOT_B, _pois_w, stats_bootstrap_ci
    from skinnerdb_spark.operators.textprims import fan_out
    from skinnerdb_spark.queries.util import read_table

    o = read_table(spark, sf_dir, "orders")
    rows_g = fan_out(
        o.select(
            F.col("o_orderpriority").alias("pri"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("c"),
            F.col("o_orderkey"),
        )
    ).select(
        "pri", "c", "o_orderkey",
        F.explode(F.expr(f"sequence(0, {BOOT_B // 4 - 1})")).alias("bg"),
    ).select(
        "pri", "c", "bg",
        F.expr(
            "md5(CAST(concat(CAST(o_orderkey AS STRING),"
            " ':', CAST(bg AS STRING)) AS BINARY))"
        ).alias("h"),
    )
    rows_b = rows_g.select(
        "pri", "c", "bg", "h",
        F.explode(F.expr("sequence(0, 3)")).alias("s"),
    ).select(
        "pri", "c",
        (F.col("bg") * 4 + F.col("s")).alias("b"),
        F.expr(
            "CAST(conv(substring(h, 1 + 8 * s, 8), 16, 10) AS DOUBLE)"
            " / 4294967296.0"
        ).alias("u"),
    )
    weighted = rows_b.select("pri", "b", "c", F.expr(_pois_w("u")).alias("w"))
    rep = weighted.groupBy("pri", "b").agg(
        F.expr("CAST(SUM(w * c) AS BIGINT)").alias("swc"),
        F.expr("CAST(SUM(w) AS BIGINT)").alias("sw"),
    )
    means = rep.select(
        "pri", "b", F.expr("CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE)").alias("m")
    )
    rw = Window.partitionBy("pri").orderBy("m", "b")
    ranked = means.withColumn("rn", F.row_number().over(rw))
    ref_ci = ranked.groupBy("pri").agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("rn") == BOOT_B - 1, F.col("m"))).alias("ci_hi_cents"),
    )
    want = {r.pri: (r.ci_lo_cents, r.ci_hi_cents) for r in ref_ci.collect()}
    got = {
        r.o_orderpriority: (r.ci_lo_cents, r.ci_hi_cents)
        for r in stats_bootstrap_ci(spark, sf_dir).collect()
    }
    assert got == want
