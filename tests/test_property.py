"""Property-based tests (hypothesis): distributed operators vs tiny pure-
Python reference implementations on randomized inputs.

The differential idea mirrors tests/test_fuzz_differential.py (Spark vs
DuckDB on generated SQL); here hypothesis owns the input generation and
shrinking, and the reference is exact Python — so a failure minimizes to
the smallest graph / word list that breaks the operator.

Examples are deliberately few (each drives real Spark jobs); the per-example
input space is where the breadth comes from.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from skinnerdb_spark.operators.dedup import min_label_components
from skinnerdb_spark.operators.textprims import shingles_expr


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference: min node id per component, via path-compressed union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(edges=edge_lists)
def test_components_match_union_find(spark, edges):
    """Any undirected graph: min-label propagation must agree with exact
    union-find — including multi-hop chains, cycles, duplicate and reversed
    edges (hypothesis shrinks to the minimal failing graph)."""
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.doc: r.lbl for r in min_label_components(pairs).collect()}
    assert got == _union_find_components(edges)


words = st.text(alphabet="abc", min_size=1, max_size=4)


@settings(max_examples=8, deadline=None)
@given(wordlists=st.lists(st.lists(words, min_size=0, max_size=9), min_size=1, max_size=6))
def test_shingles_expr_matches_python(spark, wordlists):
    """shingles_expr == the textbook sliding window for any word list,
    including the < k guard (empty array, never a backwards sequence())."""
    rows = [(i, ws) for i, ws in enumerate(wordlists)]
    df = spark.createDataFrame(rows, "i int, w array<string>").select(
        "i", shingles_expr("w", k=3).alias("sh")
    )
    got = {r.i: r.sh for r in df.collect()}
    want = {
        i: [" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)]
        for i, ws in rows
    }
    assert got == want


def test_segment_dedup_invariants(spark, sf_dir):
    """Structural invariants of dedup_segments: full corpus coverage,
    n_shared <= n_segments, n_segments matches ceil(tokens/8) per doc, and
    the 0.5-threshold decision is consistent with shared_frac."""
    import math

    from skinnerdb_spark.operators.segments import SEG_TOKENS, dedup_segments
    from skinnerdb_spark.queries.util import read_table

    res = {r.doc_id: r for r in dedup_segments(spark, sf_dir).collect()}
    docs = {
        r.doc_id: r.text
        for r in read_table(spark, sf_dir, "documents").collect()
        if len(r.text) > 0
    }
    assert set(res) == set(docs)
    for doc_id, text in docs.items():
        r = res[doc_id]
        assert r.n_segments == math.ceil(len(text.split(" ")) / SEG_TOKENS)
        assert 0 <= r.n_shared <= r.n_segments
        assert abs(r.shared_frac - r.n_shared / r.n_segments) < 1e-12
        assert r.decision == ("drop" if r.shared_frac >= 0.5 else "keep")


def test_attribution_join_invariants(spark, sf_dir):
    """Every attributed pair: same user, click strictly before purchase,
    gap within [0, 30min); at most one attribution per purchase; the
    attributed click is the LATEST eligible one."""
    from skinnerdb_spark.registry import all_specs
    from skinnerdb_spark.queries.util import read_table

    rows = all_specs()["ev_attribution_join"].spark(spark, sf_dir).collect()
    purchases = {r.purchase_id for r in rows}
    assert len(purchases) == len(rows)  # top-1 per purchase

    import collections

    events = collections.defaultdict(list)
    for e in read_table(spark, sf_dir, "events").collect():
        events[(e.user_id, e.event_type)].append(e)
    for r in rows:
        assert 0 <= r.gap_seconds < 1800
        assert r.attributed_click_ts < r.purchase_ts
        eligible = [
            c
            for c in events[(r.user_id, "click")]
            if c.ts < r.purchase_ts
            and (r.purchase_ts - c.ts).total_seconds() <= 1800
        ]
        best = max(eligible, key=lambda c: (c.ts, c.event_id))
        assert (best.ts, best.event_id) == (
            r.attributed_click_ts,
            r.attributed_click_id,
        )


def test_curation_gate_reason_consistency(spark, sf_dir):
    """The gate's verdict/reason pair must follow the documented rule order
    and its inputs must agree with the standalone signal operators."""
    from skinnerdb_spark.operators.curation_gate import docs_curation_gate
    from skinnerdb_spark.operators.dedup import dedup_exact

    gate = {r.doc_id: r for r in docs_curation_gate(spark, sf_dir).collect()}
    dups = {r.doc_id: r.is_dup for r in dedup_exact(spark, sf_dir).collect()}
    assert set(gate) == set(dups)
    for doc_id, r in gate.items():
        assert r.is_dup == dups[doc_id]
        expected_reason = (
            "exact_dup"
            if r.is_dup == 1
            else "low_quality"
            if r.quality_score < 0.5
            else "shared_passages"
            if r.shared_frac >= 0.5
            else "ok"
        )
        assert r.reason == expected_reason
        assert r.verdict == ("keep" if expected_reason == "ok" else "drop")


def test_leakage_free_split_keeps_clusters_together(spark, sf_dir):
    """The property the op exists for: no near-dup cluster straddles the
    train/valid boundary, every doc is assigned, and the valid share is in
    the md5-rule's expected band."""
    from skinnerdb_spark.operators.curation import sample_leakage_free_split
    from skinnerdb_spark.operators.dedup import dedup_clusters
    from skinnerdb_spark.queries.util import read_table

    split = {r.doc_id: r for r in sample_leakage_free_split(spark, sf_dir).collect()}
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert len(split) == n_docs

    clusters = {}
    for r in dedup_clusters(spark, sf_dir).collect():
        clusters.setdefault(r.cluster_id, []).append(r.doc_id)
    assert clusters, "test corpus must contain near-dup clusters"
    for cid, members in clusters.items():
        sides = {split[m].split for m in members}
        assert len(sides) == 1, f"cluster {cid} straddles splits: {sides}"
        assert all(split[m].group_key == cid for m in members)

    frac = sum(1 for r in split.values() if r.split == "valid") / n_docs
    assert 0.05 < frac < 0.4  # ~18.75% expected; wide band for small corpora


def test_simhash_banding_is_complete_for_hamming3(spark, sf_dir):
    """Pigeonhole guarantee, verified exhaustively: 4-band blocking over
    32-bit signatures must find EVERY pair at Hamming distance <= 3 (4 bands
    can't all differ with only 3 differing bits) — banded recall is exactly
    1.0, unlike the probabilistic minhash bands."""
    from skinnerdb_spark.operators.dedup import dedup_simhash, dedup_simhash_pairs

    sigs = {r.doc_id: r.simhash for r in dedup_simhash(spark, sf_dir).collect()}
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = sum(1 for x, y in zip(sigs[a], sigs[b]) if x != y)
            if d <= 3:
                want.add((a, b))
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash_pairs(spark, sf_dir).collect()
    }
    assert set(got) == want, (
        f"banding missed {len(want - set(got))} pairs / "
        f"overproduced {len(set(got) - want)}"
    )
    for (a, b), h in got.items():
        assert h == sum(1 for x, y in zip(sigs[a], sigs[b]) if x != y)


def test_containment_dominates_jaccard(spark, sf_dir):
    """|A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| always; equality iff one set
    contains the other — checked on every candidate pair both measures
    score."""
    from skinnerdb_spark.operators.dedup import dedup_containment, dedup_ngram_jaccard

    jac = {(r.doc_a, r.doc_b): r.jaccard for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    con = {(r.doc_a, r.doc_b): r.containment for r in dedup_containment(spark, sf_dir).collect()}
    assert set(jac) == set(con)
    assert all(con[p] >= jac[p] - 1e-12 for p in jac)
    assert any(con[p] > jac[p] + 1e-9 for p in jac), (
        "corpus should contain at least one non-subset overlap"
    )


# --------------------------------------------------------------------------
# Morton (Z-order) key: bit-interleave invariants vs a Python reference
# --------------------------------------------------------------------------
@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=24,
    )
)
def test_morton_key_matches_python_interleave(spark, pts):
    """morton_key == the textbook bit interleave, and same-cell locality:
    points sharing their high bits in BOTH dims map into one contiguous
    key range (the property file skipping relies on)."""
    from skinnerdb_spark.sources.layout import morton_key
    from pyspark.sql import functions as F

    bits = 8

    def py_morton(x, y):
        out = 0
        for b in range(bits):
            out |= ((x >> b) & 1) << (2 * b + 1)
            out |= ((y >> b) & 1) << (2 * b)
        return out

    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r.x, r.y): r.k
        for r in df.withColumn(
            "k", morton_key([F.col("x"), F.col("y")], bits)
        ).collect()
    }
    for (x, y), k in got.items():
        assert k == py_morton(x, y), (x, y, k)


@settings(max_examples=6, deadline=None)
@given(
    sets=st.lists(
        st.sets(st.integers(0, 30), min_size=1, max_size=12),
        min_size=2,
        max_size=8,
    )
)
def test_prefix_filter_candidates_complete(sets):
    """Pure-python check of the prefix-filter completeness theorem on
    random small set families: every Jaccard >= 0.5 pair must share a
    token within both rarity-ordered prefixes of length n - ceil(n/2) + 1
    (the guarantee dedup_prefix_filter's pruning rests on)."""
    import collections
    import math

    freq = collections.Counter()
    for s in sets:
        freq.update(s)

    def prefix(s):
        ordered = sorted(s, key=lambda t: (freq[t], t))
        keep = len(s) - math.ceil(0.5 * len(s)) + 1
        return set(ordered[:keep])

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            inter = len(a & b)
            jac = inter / len(a | b)
            if jac >= 0.5:
                assert prefix(a) & prefix(b), (
                    f"qualifying pair pruned: {a} {b} J={jac}"
                )


# --------------------------------------------------------------------------
# r7 Arrow-stage functions vs pure-Python references (no Spark needed —
# these are the module-level pandas fns the stateful/grouped ops run)
# --------------------------------------------------------------------------
_vec = st.lists(st.integers(min_value=-1000, max_value=1000), min_size=4, max_size=4)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(_vec, st.integers(min_value=0, max_value=9)),
        min_size=0,
        max_size=7,
    )
)
def test_sem_dropped_matches_pure_python(rows):
    """_sem_dropped_in_cluster == brute-force O(m^2) reference for every
    random cluster: same multiset of dropped ids."""
    import math

    import numpy as np
    import pandas as pd

    from skinnerdb_spark.operators.kmeans import (
        SEM_DEN,
        SEM_NUM,
        _sem_dropped_in_cluster,
    )

    vids = list(range(100, 100 + len(rows)))
    qa = [np.array(v, dtype="int64") for v, _ in rows]
    xn = [int(sum(c * c for c in v)) for v, _ in rows]
    d2i = [d for _, d in rows]
    pdf = pd.DataFrame(
        {
            "cell": [0] * len(rows),
            "vec_id": pd.Series(vids, dtype="int64"),
            "xn": pd.Series(xn, dtype="int64"),
            "d2i": pd.Series(d2i, dtype="int64"),
            "qa": qa,
        }
    )
    got = sorted(_sem_dropped_in_cluster(pdf).did.tolist())

    ref = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            dot = int(sum(int(a) * int(b) for a, b in zip(qa[i], qa[j])))
            lhs = float(SEM_DEN * dot)
            rhs = (float(SEM_NUM) * math.sqrt(float(xn[i]))) * math.sqrt(float(xn[j]))
            if lhs >= rhs:
                drop_i = (d2i[i] > d2i[j]) or (d2i[i] == d2i[j] and vids[i] > vids[j])
                ref.append(vids[i] if drop_i else vids[j])
    assert got == sorted(ref)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(  # batches of (ts_offset_sec, event_id) rows
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3000),
                st.integers(min_value=0, max_value=10_000),
            ),
            min_size=0,
            max_size=6,
            unique_by=lambda t: t[1],
        ),
        min_size=1,
        max_size=4,
    )
)
def test_rate_limit_update_matches_pure_python(batches):
    """_rate_limit_update across micro-batches == take the first K rows in
    (batch order, then (ts, event_id) within batch), never more than K
    total, rn strictly sequential."""
    import pandas as pd

    from skinnerdb_spark.streaming import windows as W

    # ensure event_ids unique ACROSS batches too (hypothesis only dedups
    # within a batch)
    seen: set[int] = set()
    batches = [
        [(ts, eid) for ts, eid in b if eid not in seen and not seen.add(eid)]
        for b in batches
    ]

    class FakeState:
        exists = False
        tup = None

        @property
        def get(self):
            return self.tup

        def update(self, t):
            self.tup = t
            self.exists = True

    K = 3
    W._RATE_LIMIT_K_OVERRIDE = K
    try:
        state = FakeState()
        key = (1, pd.Timestamp("2024-01-01 00:00:00"))
        got: list[int] = []
        for b in batches:
            pdf = pd.DataFrame(
                {
                    "ts": pd.to_datetime(
                        [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s) for s, _ in b]
                    ),
                    "event_id": pd.Series([e for _, e in b], dtype="int64"),
                }
            )
            (out,) = list(W._rate_limit_update(key, [pdf], state))
            got.extend(out.event_id.tolist())
        ref: list[int] = []
        for b in batches:
            for _, eid in sorted(b):
                if len(ref) < K:
                    ref.append(eid)
        assert got == ref
        assert state.tup == (len(ref),)
    finally:
        W._RATE_LIMIT_K_OVERRIDE = None
