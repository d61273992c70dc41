"""The four streaming state monitors under incremental drains.

sf0.001's events table is one file, so a single drain is one micro-batch and
the monitors' state-merge branch never runs. Here the events are split into
three files (``event_id % 3``) that arrive one per drain, against one
checkpoint and one state path: three ``batch_id``s, two merges of stored
state with a new batch. After the last drain each monitor must agree with
its batch twin over the whole table, exactly as the single-drain tests in
``test_components.py`` assert. A fourth drain then re-runs the last batch
under its own ``batch_id``, as Structured Streaming does after a crash
between the state overwrite and the offset commit; the state must not count
that batch twice.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.streaming import windows

N_PARTS = 3


def _check_ab(spark, sf_dir, state, mon):
    from skinnerdb_spark.registry import all_specs

    batch = all_specs()["stats_ab_ztest"].spark(spark, sf_dir).collect()[0]
    last = mon.orderBy(F.col("batch_id").desc()).limit(1).collect()[0]
    for c in ("n0", "x0", "n1", "x1"):
        assert last[c] == batch[c], (c, last[c], batch[c])
    assert (last["z"] is None and batch["z"] is None) or last["z"] == batch["z"]


def _check_cusum(spark, sf_dir, state, mon):
    from skinnerdb_spark.operators.stattests import cusum_series
    from skinnerdb_spark.registry import all_specs

    batch = all_specs()["ev_cusum_drift"].spark(spark, sf_dir).toPandas()
    drained = cusum_series(
        spark.read.parquet(state).select("d", F.col("n").cast("bigint").alias("n"))
    ).toPandas()
    b = batch.sort_values("day", ignore_index=True)
    s = drained.sort_values("day", ignore_index=True)
    assert b.equals(s), "drained state series != batch series"
    last = mon.orderBy(F.col("batch_id").desc()).limit(1).collect()[0]
    assert last["n_days"] == len(b)
    assert last["total_events"] == int(b["n_events"].sum())
    assert last["n_alarms"] == int(b["alarm"].sum())
    assert last["max_cusum_pos"] == int(b["cusum_pos"].max())


def _last_batch(mon, key):
    last_bid = mon.agg(F.max("batch_id")).collect()[0][0]
    return {r[key]: r for r in mon.filter(F.col("batch_id") == last_bid).collect()}


def _check_kmv(spark, sf_dir, state, mon):
    from skinnerdb_spark.queries.extensions import KMV_K, kmv_sketch

    batch = (
        kmv_sketch(read_table(spark, sf_dir, "events"), "event_type", "user_id")
        .toPandas()
        .sort_values(["grp", "h"], ignore_index=True)
    )
    drained = (
        spark.read.parquet(state)
        .drop(windows.APPLIED_BATCH)
        .toPandas()
        .sort_values(["grp", "h"], ignore_index=True)
    )
    assert batch.equals(drained), "drained sketch != batch sketch"
    assert (batch.groupby("grp").size() <= KMV_K).all()
    last = _last_batch(mon, "grp")
    for grp, n in batch.groupby("grp").size().items():
        assert last[grp]["in_sketch"] == n
        assert last[grp]["kth_min"] == int(batch[batch["grp"] == grp]["h"].max())


def _check_bitmap(spark, sf_dir, state, mon):
    from skinnerdb_spark.operators.analytics import user_month_bitmaps

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
    last = _last_batch(mon, "month")
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


#: monitor -> (checks against its batch twin, monitor key per batch_id)
MONITORS = {
    "stream_ab_monitor": (_check_ab, []),
    "stream_cusum_monitor": (_check_cusum, []),
    "stream_kmv_monitor": (_check_kmv, ["grp"]),
    "stream_bitmap_monitor": (_check_bitmap, ["month"]),
}


@pytest.mark.parametrize("name", sorted(MONITORS))
def test_incremental_drains_match_batch(spark, sf_dir, tmp_path, name):
    """Three drains, one new events file each, one checkpoint and one state
    path: the stored state is merged with a new batch twice, and the final
    state and monitor rows match the batch twin over the whole table."""
    check, keys = MONITORS[name]
    monitor_fn = getattr(windows, name)
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    parts = tmp_path / "parts"
    parts.mkdir()
    part_of = events["event_id"].to_numpy() % N_PARTS
    for i in range(N_PARTS):
        pq.write_table(events.filter(pa.array(part_of == i)), parts / f"part-{i}.parquet")
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    monitor = str(tmp_path / "monitor")
    ck = tmp_path / "ck"

    def verify():
        mon = spark.read.parquet(monitor)
        counts = mon.groupBy("batch_id", *keys).count().collect()
        assert sorted({r["batch_id"] for r in counts}) == list(range(N_PARTS))
        assert all(r["count"] == 1 for r in counts)
        check(spark, sf_dir, state, mon)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        for i in range(N_PARTS):
            shutil.copy(parts / f"part-{i}.parquet", src / f"part-{i}.parquet")
            monitor_fn(spark, str(src), state, monitor, str(ck))
        verify()
        # drop the last offset commit: the next drain re-runs that batch
        last = N_PARTS - 1
        (ck / "commits" / str(last)).unlink()
        (ck / "commits" / f".{last}.crc").unlink(missing_ok=True)
        monitor_fn(spark, str(src), state, monitor, str(ck))
        assert (ck / "commits" / str(last)).exists()
        verify()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
