"""Hot-bucket cap guards (dedup + similarity LSH), multiprobe probe-set
properties, and simhash NULL-text semantics.

The cap is the 100 TB degenerate-input guard: one pathological bucket of b
members contributes b^2 candidate pairs, so production dedup/ANN always
bounds bucket size. These tests patch the cap constant to a tiny value and
assert the candidate generation is actually bounded and the dropped buckets
are observable (no silent caps).
"""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from skinnerdb_spark.operators import dedup
from skinnerdb_spark.operators.dedup import (
    cap_buckets,
    hot_bucket_report,
    lsh_candidates,
)
from skinnerdb_spark.operators.similarity import (
    MP_BITS,
    MP_TABLES,
    _multi_ann,
    sim_hot_bucket_report,
)


def test_cap_buckets_drops_only_over_cap(spark):
    rows = [("b1", i) for i in range(5)] + [("b2", i) for i in range(2)] + [("b3", 0)]
    df = spark.createDataFrame(rows, "key string, doc_id int")
    kept = cap_buckets(df, ["key"], cap=2).groupBy("key").count().collect()
    sizes = {r["key"]: r["count"] for r in kept}
    assert sizes == {"b2": 2, "b3": 1}, "the 5-member bucket must be dropped whole"


def test_dedup_lsh_cap_bounds_candidates_and_reports(spark, sf_dir, monkeypatch):
    uncapped = lsh_candidates(spark, sf_dir).count()
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", 1)
    capped = lsh_candidates(spark, sf_dir).count()
    # a pair needs a shared bucket of size >= 2; cap=1 excludes them all
    assert capped == 0 <= uncapped
    dropped = hot_bucket_report(spark, sf_dir)
    if uncapped > 0:
        assert dropped.count() > 0, "dropped buckets must be observable"
    assert dropped.filter(F.col("bucket_n") <= 1).count() == 0


def test_similarity_ann_cap_bounds_candidates_and_reports(spark, sf_dir, monkeypatch):
    uncapped = _multi_ann(spark, sf_dir, 2, 2).count()
    assert uncapped > 0
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", 1)
    # every (query, neighbor) pair shares a corpus bucket of size >= 2
    # (the query itself is a corpus member here), so cap=1 empties it
    assert _multi_ann(spark, sf_dir, 2, 2).count() == 0
    dropped = sim_hot_bucket_report(spark, sf_dir, 2, 2)
    assert dropped.count() > 0, "dropped buckets must be observable"
    assert dropped.filter(F.col("bucket_n") <= 1).count() == 0


def test_multiprobe_top1_never_worse_than_exact_bucket(spark, sf_dir):
    """Hamming-1 probing strictly widens each table's probe set (the exact
    key is always probed too), so per query the multiprobe candidate set is a
    superset and its best retrieved cosine can never be lower."""
    def top1(df):
        return {
            r["query_id"]: r["cosine"] for r in df.filter(F.col("rnk") == 1).collect()
        }

    exact = top1(_multi_ann(spark, sf_dir, MP_TABLES, MP_BITS))
    probed = top1(_multi_ann(spark, sf_dir, MP_TABLES, MP_BITS, probe_hamming=1))
    assert set(probed) >= set(exact), "probing must not lose any query"
    for q, cos in exact.items():
        assert probed[q] >= cos - 1e-12, f"query {q}: probed top-1 worse than exact"


def test_margin_multiprobe_superset_and_determinism(spark, sf_dir):
    """The r9 query-directed multiprobe: (a) the zero-cost empty flip-set
    ranks first for every table, so the exact buckets are always probed and
    the candidate set is a superset of the no-probe variant's; (b) the
    probe ranking is exact-decimal, so two runs retrieve identical sets."""
    from skinnerdb_spark.operators.similarity import (
        MP_BITS,
        MP_TABLES,
        _margin_probe_candidates,
        _probe_masks,
    )

    # mask universe: all <=3-flip subsets, ascending, empty set first
    masks = _probe_masks(4, 2)
    assert masks[0] == 0 and masks == sorted(masks)
    assert len(masks) == 1 + 4 + 6

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact_only = pairs(
        _margin_probe_candidates(spark, sf_dir, probes=MP_TABLES, max_flips=0)
    )
    probed = pairs(_margin_probe_candidates(spark, sf_dir, probes=64))
    assert probed >= exact_only, "margin probing lost an exact-bucket pair"
    assert probed == pairs(
        _margin_probe_candidates(spark, sf_dir, probes=64)
    ), "probe selection must be deterministic run-to-run"
    # a bigger budget only widens the set
    wider = pairs(_margin_probe_candidates(spark, sf_dir, probes=256))
    assert wider >= probed


def test_simhash_drops_null_text(spark, tmp_path):
    """NULL texts drop (the oracle's UNNEST over a NULL list emits no rows);
    they must not collapse into a shared all-'0' signature bucket."""
    from skinnerdb_spark.operators.dedup import dedup_simhash

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, None), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = dedup_simhash(spark, str(tmp_path)).collect()
    got = {r["doc_id"] for r in out}
    assert got == {0, 2}, f"NULL-text doc must be dropped, got {got}"
    sigs = {r["doc_id"]: r["simhash"] for r in out}
    assert sigs[0] == sigs[2]


def test_contamination_eval_cap_bounds_array_and_reports(spark, sf_dir, monkeypatch):
    """The eval-shingle cap is the contamination twin of the LSH hot-bucket
    guard: a tiny cap must bound the broadcast array, warn that it FIRED
    (oracle divergence), and report exactly how many shingles were dropped."""
    from skinnerdb_spark.operators import pipeline
    from skinnerdb_spark.operators.pipeline import (
        _capped_eval_set,
        contamination_check,
        contamination_eval_report,
    )

    full = contamination_eval_report(spark, sf_dir).collect()[0]
    assert full["n_dropped"] == 0, "default cap must never fire on test data"
    uncapped_hits = contamination_check(spark, sf_dir).count()

    monkeypatch.setattr(pipeline, "CONTAM_MAX_EVAL", 3)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ev = _capped_eval_set(spark, sf_dir).collect()[0]["ev_set"]
    assert any("FIRED" in str(x.message) for x in w), (
        "a fired cap must warn about oracle divergence"
    )
    assert len(ev) == 3, "broadcast eval array must be bounded by the cap"
    assert ev == sorted(ev), "truncation must be deterministic (sorted)"
    rep = contamination_eval_report(spark, sf_dir).collect()[0]
    assert rep["cap"] == 3
    assert rep["n_dropped"] == rep["n_eval_shingles"] - 3 > 0
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        capped_hits = contamination_check(spark, sf_dir).count()
    assert capped_hits <= uncapped_hits, "capping can only lose hits"


def test_simhash_pairs_respect_bucket_cap(spark, sf_dir, monkeypatch):
    """The hot-bucket cap bounds simhash-pair candidate generation exactly
    like the minhash family: a tiny cap excludes the dominant band bucket
    and strictly shrinks the pair set; restoring the cap restores it."""
    from skinnerdb_spark.operators.dedup import dedup_simhash_pairs

    uncapped = dedup_simhash_pairs(spark, sf_dir).count()
    with monkeypatch.context() as m:
        m.setattr(dedup, "LSH_MAX_BUCKET", 5)
        capped = dedup_simhash_pairs(spark, sf_dir).count()
        assert capped < uncapped
    assert dedup_simhash_pairs(spark, sf_dir).count() == uncapped
