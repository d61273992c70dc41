"""Deduplication operators for training-data pipelines (beyond-reference tier).

Five dedup families, each a `queries()` entry with a DuckDB oracle:

- exact         : hash-groupBy on a normalized key (one shuffle)
- MinHash + LSH : shingle -> 8 minhashes -> 4 bands -> bucket self-join
- SimHash       : 32-bit sign-of-sums signature + band bucketing
- n-gram Jaccard: shingle-set overlap for candidate pairs
- embedding-cosine near-dup: see operators/similarity.py (shares machinery)

Portability: every hash is md5-hex (see textprims.py). At 100 TB the shapes
hold: shingle explosion is map-side; minhash/simhash aggregation is one
groupBy per doc (combiner-friendly: MIN/SUM partial-aggregate map-side); the
LSH self-join shuffles on (band, key) — exactly the bucket-join that makes
near-dup detection tractable at scale (vs the O(n^2) naive pair join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skinnerdb_spark.operators.textprims import (
    ORACLE_SHINGLES_CTE,
    fan_out,
    hex_high_sql,
    hex_int,
    shingles_expr,
)
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register
from skinnerdb_spark.state import memo

N_HASHES = 8  # minhash signature length
N_BANDS = 4  # LSH bands (rows per band = 2)
SIMHASH_BITS = 32

#: LSH buckets larger than this are dropped from candidate generation (a
#: degenerate band key — e.g. near-constant documents — would otherwise make
#: one bucket quadratic). Dropped buckets are observable via
#: :func:`hot_bucket_report`; the cap never fires on healthy corpora.
LSH_MAX_BUCKET = 100_000


def shared_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (doc_id, sig) minhash signatures for sf_dir's documents."""
    return memo(
        spark, sf_dir, "sigs",
        lambda: minhash_signatures(read_table(spark, sf_dir, "documents")),
    )


def shared_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (doc_id, sh_set, n): the DISTINCT 3-gram shingle set per doc as
    an in-row array plus its size. No explode, no shuffle — the per-doc set
    is bounded by document length, so the exact-verify stage can join
    candidates to these arrays and intersect in-row instead of self-joining
    an exploded shingle table (the O(n^2) shape LSH exists to avoid)."""
    def build():
        docs = read_table(spark, sf_dir, "documents")
        return (
            fan_out(docs).withColumn("w", F.split("text", " "))
            .filter(F.size("w") >= 3)
            .select("doc_id", F.array_distinct(shingles_expr("w", k=3)).alias("sh_set"))
            .withColumn("n", F.size("sh_set"))
        )
    return memo(spark, sf_dir, "shsets", build)


def shared_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (doc_id, sh_h, n): the shingle set as a SORTED int64 xxhash64
    array. Exact-verify joins intersect these instead of the string arrays:
    one hash pass per DOC turns the per-CANDIDATE intersection into
    primitive-long equality — measured ~7x on the sf1 verify stage, where
    18M candidate pairs x ~48-element arrays dominate the operator. A
    cross-shingle hash collision (probability ~2^-64 per pair of distinct
    shingles; ~1e-7 over the whole sf1 corpus) would perturb inter_n vs the
    string-side oracle — the hash-green gates at test SFs certify none
    occur there, and the bound is documented rather than insured against."""
    def build():
        return shared_shingle_sets(spark, sf_dir).select(
            "doc_id",
            F.expr("array_sort(transform(sh_set, x -> xxhash64(x)))").alias("sh_h"),
            "n",
        )

    return memo(spark, sf_dir, "shhashes", build)


def cap_buckets(bands: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Drop rows belonging to buckets with more than ``cap`` members.

    The hot-bucket guard for every LSH family: one groupBy on the bucket key
    (co-partitioned with the self-join that follows, so the marginal shuffle
    is the aggregated bucket-size table only) + a semi-join-shaped inner join
    back. Production dedup always caps bucket size — a single degenerate
    bucket of b members contributes b^2 candidate pairs."""
    sizes = (
        bands.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bucket_n"))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )
    return bands.join(sizes, key_cols)


def hot_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(band, key, bucket_n) for buckets the cap excluded — 'no silent caps':
    callers can count/inspect exactly what candidate generation dropped."""
    bands = lsh_bands(shared_sigs(spark, sf_dir))
    return (
        bands.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > LSH_MAX_BUCKET)
    )


def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (doc_a, doc_b) LSH candidate pairs: the bucket self-join on
    (band, key) — the only pair-generating shuffle in the dedup family.
    Buckets over ``LSH_MAX_BUCKET`` are excluded first (see
    :func:`cap_buckets`; :func:`hot_bucket_report` shows what was dropped).

    Oracle-parity caveat: the DuckDB oracles for the LSH family
    (dedup_minhash_lsh / dedup_pipeline_decisions / dedup_ngram_jaccard)
    never cap — if a corpus trips the cap, the gates will diverge BY
    DESIGN; inspect :func:`hot_bucket_report` to see exactly which buckets
    were dropped."""
    cap = LSH_MAX_BUCKET

    def build():
        bands = cap_buckets(lsh_bands(shared_sigs(spark, sf_dir)), ["band", "key"], cap)
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
    return memo(spark, sf_dir, f"cand@{cap}", build)


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    """
    SELECT doc_id,
           md5(text) AS content_key,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                THEN 0 ELSE 1 END AS is_dup
    FROM documents
    """,
    tags=("dedup", "pipeline"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True exact (byte-identical) dedup keyed on md5(text): every document
    gets its content hash, the canonical (lowest) doc_id holding that content,
    and a keep/drop flag. One window shuffle on the content key; at scale this
    is the cheapest dedup pass and runs first — downstream keeps is_dup = 0.
    (sf0.1 has 8 byte-identical dup texts; sf0.01 has none, so the gate
    verifies the hash/canonical assignment over all rows, not just dups.)"""
    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_key")
    return (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("content_key"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn(
            "is_dup", F.when(F.col("doc_id") == F.col("canonical_id"), 0).otherwise(1)
        )
    )


@register(
    "dedup_norm_prefix",
    """
    SELECT SUBSTR(LOWER(text), 1, 30) AS norm_key,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY norm_key
    HAVING COUNT(*) > 1
    """,
    tags=("dedup", "pipeline"),
)
def dedup_norm_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-prefix dedup (lowercased 30-char prefix): the cheap fuzzy
    first pass that catches retitled/recapitalized copies exact hashing
    misses. One hash-groupBy shuffle."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.substring(F.lower("text"), 1, 30).alias("norm_key"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): sig[j] = MIN(md5(j || ':' || shingle)) as an N_HASHES-element
    array. MIN over md5 hex strings is a valid minhash (uniform over the
    hash's order). Docs with < 3 words are dropped (mirrors the oracle's
    len(w) >= 3 guard).

    Shape (r11): explode the DISTINCT in-row shingles and compute the H
    mins as TOP-LEVEL aggregate expressions over one doc_id groupBy. The
    md5 count is identical to the former in-row
    transform+array_min fold, but aggregate expressions stay in codegen
    where folds nested inside transform() drop to the interpreted path
    (the documented transform-lambda dropout; dedup_simhash hit the same
    4x). Measured 10.4 -> 6.7 s warm / 18.9 -> 10.6 s cold at sf10,
    signatures row-identical. The added doc_id shuffle is map-side
    combinable and keyed on the natural key; at 100 TB it rides the same
    exchange budget as any per-doc aggregate."""
    sh = (
        fan_out(docs).withColumn("w", F.split(F.col("text"), " "))
        .filter(F.size("w") >= 3)  # cheap guard; see text_fingerprint note
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles_expr("w", k=3))).alias("s"),
        )
    )
    mins = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{j}:"), F.col("s")).cast("binary"))
            ).alias(f"m{j}")
            for j in range(N_HASHES)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"m{j}") for j in range(N_HASHES)]).alias("sig")
    )


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key): band key = md5 of the band's minhashes in j-order.
    Rows per band derive from the *actual* signature length (size(sig)).
    The posexplode here is |docs| * N_BANDS rows — the only fan-out in the
    pipeline, and it feeds directly into the bucket self-join shuffle."""
    bands_arr = F.expr(
        f"transform(sequence(0, {N_BANDS - 1}), b -> md5(cast(concat_ws('|', "
        f"slice(sig, b * (size(sig) div {N_BANDS}) + 1, size(sig) div {N_BANDS})) as binary)))"
    )
    return sigs.select("doc_id", F.posexplode(bands_arr).alias("band", "key"))


#: the oracle's shingle sets, the DuckDB mirror of shared_shingle_sets:
#: word 3-shingles (sh) and each doc's distinct shingles (shd). CTE text to
#: follow a WITH.
_SHINGLE_SET_CTES = f"""{ORACLE_SHINGLES_CTE},
    shd AS (SELECT DISTINCT doc_id, s FROM sh)"""

#: the oracle's LSH candidate chain over the shingle sets, the DuckDB mirror
#: of shared_sigs -> lsh_bands -> lsh_candidates: the minhash table (mh),
#: band keys (bands) and the candidate pairs (cand)
_LSH_CTES = f"""{_SHINGLE_SET_CTES},
    mh AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
           FROM shd, generate_series(0, {N_HASHES - 1}) AS g(j)
           GROUP BY doc_id, j),
    bands AS (SELECT doc_id, CAST(j // {N_HASHES // N_BANDS} AS INTEGER) AS band,
                     md5(string_agg(mh, '|' ORDER BY j)) AS key
              FROM mh GROUP BY doc_id, band),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""

#: shingle-set sizes and pairwise intersections over shd, the exact-Jaccard
#: inputs of _exact_jaccard_on_candidates and _prefix_pairs_impl
_OVERLAP_CTES = """sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both_n
              FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY doc_a, doc_b)"""


_MINHASH_ORACLE = f"""
    WITH {_LSH_CTES}
    SELECT c.doc_a, c.doc_b,
           CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS DOUBLE)
             / {N_HASHES} AS est_jaccard
    FROM cand c
    JOIN mh x ON x.doc_id = c.doc_a
    JOIN mh y ON y.doc_id = c.doc_b AND y.j = x.j
    GROUP BY c.doc_a, c.doc_b
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE, tags=("dedup", "pipeline", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with estimated Jaccard.

    shingle -> minhash -> band -> bucket self-join: the scale path. The
    candidate join shuffles on (band, key) so only same-bucket docs ever meet;
    the final signature-compare join is |cand| * H rows. The signatures cross
    that join as int64 arrays (xxhash64 of each md5 position, projected
    map-side off the cached family frame — r11, the narrow-types recipe):
    est_jaccard only needs position EQUALITY, which the hash preserves
    (collisions are the documented shared-shingle-hash class, gate-certified
    row-identical at test SFs), and the pair join shuffles 8-byte longs
    instead of 32-char strings per position (measured 2.7 -> 1.8 s
    entry-only at sf10, every new run beat every old).
    """
    sigs = shared_sigs(spark, sf_dir).select(
        "doc_id", F.expr("transform(sig, x -> xxhash64(x))").alias("sig")
    )
    cand = lsh_candidates(spark, sf_dir)
    x = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    y = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    # est. Jaccard = fraction of matching signature positions, folded in-row
    match_frac = (
        F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))").cast("double")
        / N_HASHES
    )
    return (
        cand.join(x, "doc_a").join(y, "doc_b").select("doc_a", "doc_b", match_frac.alias("est_jaccard"))
    )


# --------------------------------------------------------------------------
# end-to-end dedup pipeline: LSH candidates -> exact Jaccard verify -> keep/drop
# --------------------------------------------------------------------------
_PIPELINE_ORACLE = f"""
    WITH {_LSH_CTES},
    {_OVERLAP_CTES},
    verified AS (
        SELECT c.doc_a, c.doc_b,
               CAST(i.both_n AS DOUBLE) / (sa.n + sb.n - i.both_n) AS jaccard
        FROM cand c
        JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b)
    SELECT doc_b AS drop_id, MIN(doc_a) AS kept_id, MAX(jaccard) AS jaccard
    FROM verified WHERE jaccard >= 0.5
    GROUP BY doc_b
"""


@register("dedup_pipeline_decisions", _PIPELINE_ORACLE, tags=("dedup", "pipeline", "lsh"))
def dedup_pipeline_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production dedup pipeline in one pass:
    MinHash bands propose candidates -> exact 3-gram Jaccard verifies ->
    keep-lowest-id policy emits (drop_id, kept_id) decisions.

    At scale this is the canonical shape: the O(n^2) exact measure runs only
    on LSH candidates, and the decision policy is a single groupBy (lowest
    surviving id wins; a one-pass approximation of connected components —
    iterative CC is the refinement when duplicate chains matter)."""
    verified = shared_verified_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
    return verified.groupBy(F.col("doc_b").alias("drop_id")).agg(
        F.min("doc_a").alias("kept_id"), F.max("jaccard").alias("jaccard")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
#: the oracle's 32-bit SimHash signatures, the DuckDB mirror of
#: :func:`_simhash_sigs`: per-word md5 bits (wt, bits) and each document's
#: signature string (sig). CTE text to follow a WITH.
_SIMHASH_SIG_CTES = f"""wt AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
    bits AS (SELECT doc_id, i,
                    CASE WHEN SUM(CASE WHEN {hex_high_sql("SUBSTR(md5(w), i, 1)")}
                                       THEN 1 ELSE -1 END) > 0
                         THEN '1' ELSE '0' END AS bit
             FROM wt, generate_series(1, {SIMHASH_BITS}) AS g(i)
             GROUP BY doc_id, i),
    sig AS (SELECT doc_id, string_agg(bit, '' ORDER BY i) AS simhash
            FROM bits GROUP BY doc_id)"""

_SIMHASH_ORACLE = f"""
    WITH {_SIMHASH_SIG_CTES}
    SELECT doc_id, simhash, SUBSTR(simhash, 1, 16) AS bucket16
    FROM sig
"""


@register("dedup_simhash", _SIMHASH_ORACLE, tags=("dedup", "pipeline"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document + 16-bit band bucket.

    Bit i is the sign of the sum over words of (+1/-1) from bit i of the
    word's md5 (hex-nibble high-bit trick -> portable). Near-dup docs differ
    in few bits; bucket16 gives the LSH-style blocking key. Word frequency
    weights naturally (no distinct), matching classic SimHash.

    Entirely in-row: md5 once per word into an array, then each of the 32
    bits is an integer fold over that array — zero explodes, zero shuffles
    (the round-2 version exploded words x 32 bits, multiplying the token
    stream 32x through its first shuffle; this plan has no Exchange at all
    beyond the optional fan_out round-robin).
    """
    return shared_simhash(spark, sf_dir)


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncached signature computation — see :func:`dedup_simhash` for the
    algorithm contract. Structured for codegen: the per-(word, bit) test is
    integer shift/mask over per-word nibble-high-bit MASKS (4 convs per
    word, built once) instead of 32 string substring-IN probes per word, and
    the 32 bit-sums are 32 TOP-LEVEL projection folds — a fold nested inside
    a transform() lambda drops out of whole-stage codegen and runs ~4x
    slower (the documented generator-path gotcha), which this layout avoids.
    Measured: 5.7 s -> ~1 s for the sf0.1 corpus signature pass."""
    d = fan_out(read_table(spark, sf_dir, "documents"))
    # per-word masks: chunk c covers md5 hex chars (c-1)*8+1..c*8 as a
    # 32-bit int; char j's nibble-high-bit sits at bit 4*(8-j)+3
    masks = [
        F.expr(
            f"transform(hs, h -> {hex_int('h', (c - 1) * 8 + 1, 8)})"
        ).alias(f"ms{c}")
        for c in range(1, 5)
    ]
    base = (
        # NULL texts must DROP (oracle's UNNEST over a NULL list emits no
        # rows) — without the filter, aggregate(NULL hs) -> NULL > 0 is
        # false, emitting a spurious all-'0' signature row
        d.filter(F.col("text").isNotNull())
        .withColumn("hs", F.expr("transform(split(text, ' '), w -> md5(cast(w as binary)))"))
        .select("doc_id", *masks)
    )
    bit_sums = []
    for i in range(1, SIMHASH_BITS + 1):
        c, j = (i - 1) // 8 + 1, (i - 1) % 8 + 1
        pos = 4 * (8 - j) + 3
        bit_sums.append(
            F.expr(
                f"aggregate(ms{c}, 0L, (acc, m) -> acc + 2 * ((m >> {pos}) & 1) - 1)"
            ).alias(f"b{i}")
        )
    sig = F.concat(
        *[F.when(F.col(f"b{i}") > 0, "1").otherwise("0") for i in range(1, SIMHASH_BITS + 1)]
    )
    return (
        base.select("doc_id", *bit_sums)
        .select("doc_id", sig.alias("simhash"))
        .withColumn("bucket16", F.substring("simhash", 1, 16))
    )


def shared_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, simhash, bucket16) — one tiny row per doc;
    the pairs entry reuses it instead of re-running the signature pass."""
    return memo(spark, sf_dir, "simhash", lambda: _simhash_sigs(spark, sf_dir))


# --------------------------------------------------------------------------
# n-gram Jaccard over the LSH candidate set — the production shape: exact
# set-overlap measure computed ONLY for pairs the minhash bands propose
# --------------------------------------------------------------------------
_JACCARD_ORACLE = f"""
    WITH {_LSH_CTES},
    {_OVERLAP_CTES}
    SELECT c.doc_a, c.doc_b,
           CAST(i.both_n AS DOUBLE) / (sa.n + sb.n - i.both_n) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
"""


@register("dedup_ngram_jaccard", _JACCARD_ORACLE, tags=("dedup", "pipeline", "lsh"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for the minhash-band candidate pairs — the
    measure stage of production dedup, unthresholded (the pipeline entry
    adds the >= 0.5 cut and keep/drop decisions). Candidates come from
    :func:`lsh_candidates`, and the exact intersection is computed strictly
    candidate-bounded: see :func:`_exact_jaccard_on_candidates`."""
    return shared_verified_pairs(spark, sf_dir)


def shared_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_a, doc_b, jaccard) verified pairs — the
    array_intersect verify join is the LSH chain's last expensive stage and
    THREE consumers read it (dedup_ngram_jaccard, dedup_pipeline_decisions,
    the shared_clusters build); memoizing it completes the family-cache
    chain (sigs -> candidates -> verified). The frame is pair-sized
    (candidates that share >= 1 shingle), far below corpus size.

    Memo key carries the LSH bucket cap (ADVICE r8): the upstream
    lsh_candidates memo is keyed cand@{cap}, so a mid-session cap change
    must propagate here (and to shared_clusters downstream) instead of
    serving pairs verified against the OLD candidate set."""
    return memo(
        spark, sf_dir, f"verified_jaccard@{LSH_MAX_BUCKET}",
        lambda: _exact_jaccard_on_candidates(spark, sf_dir),
    )


def _exact_jaccard_on_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact 3-gram Jaccard for exactly the LSH
    candidate pairs, and nothing else.

    Scale shape: join the (small) candidate-pair table to the per-doc shingle
    HASH arrays (shared_shingle_hashes — one row per doc, no explode) and
    compute ``size(array_intersect(sh_a, sh_b))`` in-row over primitive
    longs. Cost is O(|candidates| * doc_length) — a shingle appearing in k
    docs contributes k rows, never k^2: the all-pairs exploded-shingle
    self-join (which Catalyst could not push the candidate restriction
    below, because the restriction sat above its groupBy) is gone. Pairs
    with an empty intersection are dropped, mirroring the oracle's inner
    join against its intersection CTE.

    r11 session 6: the intersect runs on the int64 hash arrays instead of
    the string arrays — the dedup_containment/§16 recipe this stage had
    not yet adopted (the docstring of shared_shingle_hashes promised it;
    the pair join now moves 8-byte elements and compares primitives).
    Collision risk is the documented shared-shingle-hash class, with one
    sharpening (ADVICE r11): na/nb stay STRING-set sizes while the
    intersection counts hashes, so a cross-shingle collision inflates
    ``both_n`` and with it the jaccard value — and that value feeds the
    ``>= 0.5`` keep/drop threshold consumed by dedup_ngram_jaccard,
    dedup_pipeline_decisions and dedup_clusters, so at SFs the gate never
    certifies a near-threshold pair can FLIP its decision (not merely
    carry a perturbed score). The string-side oracle stays unchanged and
    the gate certifies row-identical outputs at the test SFs; the
    birthday-bound scale note on dedup_verbatim_spans applies here too."""
    cand = lsh_candidates(spark, sf_dir)
    sets = shared_shingle_hashes(spark, sf_dir)
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_h").alias("sh_a"), F.col("n").alias("na")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_h").alias("sh_b"), F.col("n").alias("nb")
    )
    both_n = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = both_n.cast("double") / (F.col("na") + F.col("nb") - both_n)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", both_n.alias("both_n"), jac.alias("jaccard"))
        .filter(F.col("both_n") > 0)
        .drop("both_n")
    )


# --------------------------------------------------------------------------
# duplicate CLUSTERS: iterative connected components over the verified pair
# graph — the refinement dedup_pipeline_decisions' docstring promises. The
# keep-lowest-id pair policy is one-hop: with chains A~B, B~C (but A!~C) it
# drops B->A and C->B separately and never learns A,B,C are one group.
# Cluster-level dedup needs the transitive closure.
# --------------------------------------------------------------------------
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_LSH_CTES},
    {_OVERLAP_CTES},
    verified AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE CAST(i.both_n AS DOUBLE) / (sa.n + sb.n - i.both_n) >= 0.5),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    reach(doc, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.doc = e.v),
    lbl AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc)
    SELECT l.doc_id, l.cluster_id, c.cluster_n
    FROM lbl l
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_n FROM lbl
          GROUP BY cluster_id) c USING (cluster_id)
"""


@register("dedup_clusters", _CLUSTERS_ORACLE, tags=("dedup", "pipeline", "lsh"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup graph:
    (doc_id, cluster_id, cluster_n) for every doc in a >=0.5-Jaccard pair,
    cluster_id = lowest doc_id reachable through dup edges.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels, until a fixpoint (checked with a
    changed-count aggregate). ``localCheckpoint`` truncates the lineage each
    round — without it the plan doubles per iteration and Catalyst re-analyzes
    the whole history. Rounds needed = component diameter; near-dup clusters
    are dense (LSH proposes most intra-cluster pairs directly), so this
    converges in 2-3 rounds in practice. At 100 TB the loop runs on the
    VERIFIED PAIR GRAPH only — a small fraction of the corpus — never on the
    documents themselves. An adversarial chain graph (documents that each
    LSH-collide only with their nearest variant) would make the round count
    linear in chain length. The DuckDB oracle computes the same
    closure with a recursive CTE — feasible only at test scale, which is
    exactly why the distributed path exists.

    Reference analogue: dedup has no counterpart in the reference engine;
    this extends its query surface for training-data curation (SURVEY §6)."""
    return shared_clusters(spark, sf_dir)


def shared_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached cluster assignment — the closure runs its iterative
    rounds EAGERLY (per-round changed-count aggregates), so every consumer
    of dedup_clusters (dedup_keep_best, sample_leakage_free_split) used to
    re-pay the full 20-30 s loop at sf10. The cached frame holds only docs
    in verified near-dup pairs — a small fraction of the corpus. The key
    carries the LSH bucket cap (ADVICE r8): clusters derive from verified
    pairs derive from cand@{cap}."""
    cap = LSH_MAX_BUCKET

    def build() -> DataFrame:
        verified = shared_verified_pairs(spark, sf_dir).filter(
            F.col("jaccard") >= 0.5
        )
        labels = min_label_components(verified.select("doc_a", "doc_b"))
        sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_n"))
        return labels.join(sizes, "lbl").select(
            F.col("doc").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_n",
        )

    return memo(spark, sf_dir, f"clusters@{cap}", build)


#: keep-best representative selection per duplicate cluster — the decision
#: stage a production dedup pipeline runs AFTER clustering: of each
#: near-dup cluster keep the highest-quality member, drop the rest, and
#: account for the tokens removed. Quality = the text_quality_lr linear
#: score (exact rationals, one IEEE division per doc); argmax tie-break is
#: doc_id, so the choice is fully deterministic cross-engine.
_CLUSTERS_CTE_BODY = _CLUSTERS_ORACLE[: _CLUSTERS_ORACLE.index("    SELECT l.doc_id")]

_KEEP_BEST_ORACLE = _CLUSTERS_CTE_BODY.rstrip().rstrip(",") + f""",
    csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_n
            FROM lbl GROUP BY cluster_id),
    feats AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_filter(toks, t -> list_contains(
                   ['the', 'a', 'and', 'of', 'to'], t))) AS n_stop,
               len(list_distinct(toks)) AS n_uniq,
               len(list_filter(toks, t -> length(t) >= 6)) AS n_long
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents
              WHERE text IS NOT NULL AND LENGTH(text) > 0)),
    q AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(3 * n_stop + 4 * n_uniq + 2 * n_long - n_tokens AS DOUBLE)
                   / CAST(n_tokens AS DOUBLE) AS score
          FROM feats WHERE n_tokens > 0),
    r AS (SELECT l.cluster_id, l.doc_id, q.n_tokens, q.score,
                 ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                    ORDER BY q.score DESC, l.doc_id) AS rnk
          FROM lbl l JOIN q ON q.doc_id = l.doc_id)
    SELECT r.cluster_id, s.cluster_n,
           MAX(CASE WHEN rnk = 1 THEN r.doc_id END) AS kept_doc,
           MAX(CASE WHEN rnk = 1 THEN score END) AS kept_score,
           CAST(COUNT(CASE WHEN rnk > 1 THEN 1 END) AS BIGINT) AS dropped_docs,
           CAST(COALESCE(SUM(CASE WHEN rnk > 1 THEN n_tokens END), 0) AS BIGINT)
               AS dropped_tokens
    FROM r JOIN csz s USING (cluster_id)
    GROUP BY r.cluster_id, s.cluster_n
"""


@register("dedup_keep_best", _KEEP_BEST_ORACLE, tags=("dedup", "pipeline", "lsh"))
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection per duplicate cluster (r8): compose
    :func:`dedup_clusters` (transitive near-dup groups) with the
    text_quality_lr score and keep the highest-quality member of each
    cluster — (cluster_id, cluster_n, kept_doc, kept_score, dropped_docs,
    dropped_tokens). This is the decision table a curation run applies to
    the corpus: every production dedup ends with exactly this
    cluster -> one-survivor policy plus a tokens-removed accounting row.

    Scale shape: the cluster labels are verified-pair-graph-sized (a small
    fraction of the corpus), the quality score is one map-side projection,
    and the argmax is a window PARTITIONED by cluster_id (bounded by
    cluster size — never a corpus-wide sort). Deterministic by
    construction: score is a single IEEE division of exact integers and
    ties break on doc_id."""
    from skinnerdb_spark.operators.text import text_quality_lr

    labels = dedup_clusters(spark, sf_dir)
    qual = text_quality_lr(spark, sf_dir).select("doc_id", "n_tokens", "score")
    j = labels.join(qual, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = j.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("cluster_id", "cluster_n").agg(
        F.max(F.when(F.col("rnk") == 1, F.col("doc_id"))).alias("kept_doc"),
        F.max(F.when(F.col("rnk") == 1, F.col("score"))).alias("kept_score"),
        F.count(F.when(F.col("rnk") > 1, F.lit(1))).cast("bigint").alias("dropped_docs"),
        F.coalesce(
            F.sum(F.when(F.col("rnk") > 1, F.col("n_tokens"))), F.lit(0)
        ).cast("bigint").alias("dropped_tokens"),
    )


#: edges per partition for the CC loops. The pair graph is orders of
#: magnitude smaller than the corpus, so running its iterations at the
#: corpus' shuffle width just multiplies per-task overhead by the round
#: count; sizing from the actual edge count keeps sf0.1 on a couple of
#: partitions while a 10^9-edge graph still fans out to thousands.
_CC_EDGES_PER_PARTITION = 500_000


def _cc_parallelism(pairs: DataFrame) -> int:
    n = pairs.count()  # upstream verified-pair set is cached; this is cheap
    return max(1, -(-n // _CC_EDGES_PER_PARTITION))


def min_label_components(pairs: DataFrame) -> DataFrame:
    """(doc, lbl) connected-component labels for an undirected pair graph
    given as (doc_a, doc_b) rows; lbl = min node id reachable from doc.

    Min-label propagation to a fixpoint — see :func:`dedup_clusters` for the
    convergence/scale discussion. Deterministic for any input partitioning
    (min is order-insensitive)."""
    npart = _cc_parallelism(pairs)
    edges = (
        pairs.union(pairs.select(pairs.columns[1], pairs.columns[0]))
        .toDF("u", "v")
        .repartition(npart, "u")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("doc"))
        .distinct()
        .withColumn("lbl", F.col("doc"))
        .repartition(npart, "doc")
        .localCheckpoint(eager=True)
    )
    for _ in range(64):  # hard cap; converges in O(component diameter)
        nbr_min = (
            edges.join(
                labels.select(F.col("doc").alias("v"), F.col("lbl").alias("nlbl")),
                "v",
            )
            .groupBy(F.col("u").alias("doc"))
            .agg(F.min("nlbl").alias("mlbl"))
        )
        new_labels = (
            labels.join(nbr_min, "doc", "left")
            .select(
                "doc",
                F.least("lbl", F.coalesce("mlbl", "lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.lbl") < F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


# --------------------------------------------------------------------------
# asymmetric containment over the LSH candidate set: quote/subsumption
# detection (doc A ⊂ doc B), which symmetric Jaccard under-scores
# --------------------------------------------------------------------------
_CONTAINMENT_ORACLE = f"""
    WITH {_LSH_CTES},
    {_OVERLAP_CTES}
    SELECT c.doc_a, c.doc_b,
           CAST(i.both_n AS DOUBLE) / LEAST(sa.n, sb.n) AS containment,
           CASE WHEN sa.n <= sb.n THEN c.doc_a ELSE c.doc_b END AS contained_doc,
           CASE WHEN CAST(i.both_n AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
                THEN 1 ELSE 0 END AS is_near_subset
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
"""


@register("dedup_containment", _CONTAINMENT_ORACLE, tags=("dedup", "pipeline", "lsh"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / min(|A|, |B|) for the LSH
    candidate pairs: a short doc quoted whole inside a long one scores ~1.0
    here while its Jaccard stays low — the subsumption case symmetric dedup
    passes over. ``contained_doc`` is the smaller (candidate-for-drop) side;
    ``is_near_subset`` applies the standard 0.8 cut.

    Same candidate-bounded shape as :func:`dedup_ngram_jaccard` (in-row
    array_intersect, never an all-pairs join). HONEST CAVEAT, also in the
    oracle: candidates come from the minhash bands, which approximate
    JACCARD — a containment-complete candidate generator would band the
    smaller doc's shingles only (prefix-LSH); pairs with high containment
    but near-zero Jaccard can be missed. The measure itself is exact on
    every proposed pair."""
    cand = lsh_candidates(spark, sf_dir)
    sets = shared_shingle_sets(spark, sf_dir)
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"), F.col("n").alias("na")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"), F.col("n").alias("nb")
    )
    both_n = F.size(F.array_intersect("sh_a", "sh_b"))
    containment = both_n.cast("double") / F.least("na", "nb")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            both_n.alias("both_n"),
            containment.alias("containment"),
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            F.when(containment >= 0.8, 1).otherwise(0).alias("is_near_subset"),
        )
        .filter(F.col("both_n") > 0)
        .drop("both_n")
    )


# --------------------------------------------------------------------------
# SimHash PAIRS: 4x8-bit banded blocking over the 32-bit signatures + exact
# Hamming verify — completes the simhash path from signature to decisions
# --------------------------------------------------------------------------
SIMHASH_BAND_LEN = SIMHASH_BITS // 4  # 4 bands; Hamming<=3 pairs share >=1

_SIMHASH_PAIRS_ORACLE = f"""
    WITH {_SIMHASH_SIG_CTES},
    bands AS (SELECT doc_id, simhash, b.b AS band,
                     SUBSTR(simhash, (b.b - 1) * {SIMHASH_BAND_LEN} + 1,
                            {SIMHASH_BAND_LEN}) AS band_key
              FROM sig, generate_series(1, 4) AS b(b)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                    b.doc_id AS doc_b, b.simhash AS sig_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST((SELECT SUM(CASE WHEN SUBSTR(sig_a, i, 1) <> SUBSTR(sig_b, i, 1)
                                 THEN 1 ELSE 0 END)
                 FROM generate_series(1, {SIMHASH_BITS}) AS h(i)) AS BIGINT)
             AS hamming
    FROM cand
    WHERE (SELECT SUM(CASE WHEN SUBSTR(sig_a, i, 1) <> SUBSTR(sig_b, i, 1)
                           THEN 1 ELSE 0 END)
           FROM generate_series(1, {SIMHASH_BITS}) AS h(i)) <= 3
"""


@register("dedup_simhash_pairs", _SIMHASH_PAIRS_ORACLE, tags=("dedup", "pipeline", "lsh"))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance <= 3: the 32-bit signature
    splits into 4 bands of 8 bits, and by pigeonhole any pair within
    distance 3 agrees EXACTLY on at least one band — so candidates meet only
    inside (band, band_key) buckets (one shuffle, same skeleton + cap
    semantics as the minhash family) and the exact Hamming count runs
    in-row on candidates only. This is the Google-crawl dedup formulation
    (Manku et al., WWW'07) on the already-verified signature column.

    The minhash family's hot-bucket cap applies here too
    (``LSH_MAX_BUCKET``): a degenerate band value shared by b docs
    contributes b^2 candidates, so production runs bound b and observe the
    drops. Same oracle-parity caveat as the minhash entries: the DuckDB
    mirror assumes the cap is not hit at gate SF (largest bucket at sf0.01
    is 343 vs the 100k cap)."""
    # signatures ride the join as 32-bit INTEGERS, not 32-char bit-strings:
    # bands become (sig >> (32-8b)) & 255 (identical grouping to the MSB-first
    # substring bands the oracle uses), candidate rows shrink ~6x on the
    # bucket shuffle, and the exact verify is bit_count(a XOR b) — one xor +
    # popcount per pair instead of two 32-element string-split array folds
    # (this was the bench's most expensive entry; same output, ~4x faster)
    sig = dedup_simhash(spark, sf_dir).select(
        "doc_id", F.expr("CAST(conv(simhash, 2, 10) AS BIGINT)").alias("sig_int")
    )
    bands = sig.select(
        "doc_id",
        "sig_int",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, 4), b -> "
                f"(sig_int >> (32 - b * {SIMHASH_BAND_LEN})) & 255)"
            )
        ).alias("band", "band_key"),
    )
    bands = cap_buckets(bands, ["band", "band_key"], LSH_MAX_BUCKET)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig_int").alias("sig_a"), "band", "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig_int").alias("sig_b"), "band", "band_key"
    )
    # verify BEFORE cross-band dedup: the xor+popcount test is ~free per
    # joined row while distinct() is a multi-million-row exchange+hash, and
    # only ~7% of candidates survive Hamming<=3 on this corpus — filtering
    # first shrinks the dedup input ~15x (measured 6.4M -> 0.9M rows at
    # sf0.1). hamming is functionally determined by the pair, so the
    # 3-column distinct equals a pair distinct.
    hamming = F.expr("bit_count(sig_a ^ sig_b)").cast("bigint")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# --------------------------------------------------------------------------
# Prefix-filtering set-similarity join (AllPairs/PPJoin family) — EXACT
# thresholded near-dup pairs with a pruning GUARANTEE, no LSH probabilism
# --------------------------------------------------------------------------
#: Jaccard threshold; the candidate filter below is provably complete for it
PREFIX_JACCARD_T = 0.5

_PREFIX_ORACLE = f"""
    WITH {_SHINGLE_SET_CTES},
    {_OVERLAP_CTES},
    freq AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS f FROM shd GROUP BY s),
    ranked AS (
        SELECT shd.doc_id, shd.s, sizes.n,
               ROW_NUMBER() OVER (PARTITION BY shd.doc_id
                                  ORDER BY freq.f, shd.s) AS rn
        FROM shd JOIN freq ON shd.s = freq.s
        JOIN sizes ON shd.doc_id = sizes.doc_id),
    prefix AS (SELECT doc_id, s FROM ranked
               WHERE rn <= n - CAST(CEIL(n / 2.0) AS BIGINT) + 1),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM prefix a JOIN prefix b
               ON a.s = b.s AND a.doc_id < b.doc_id)
    SELECT c.doc_a, c.doc_b, i.both_n AS inter_n, sa.n AS n_a, sb.n AS n_b,
           CAST(i.both_n AS DOUBLE) / (sa.n + sb.n - i.both_n) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE 3 * i.both_n >= sa.n + sb.n
"""


def _rarity_prefix(sh: DataFrame) -> DataFrame:
    """(doc_id, n, s, rn): each doc's rarity-first prefix — distinct
    shingles ranked by corpus rarity, cut to the first n - ceil(t*n) + 1
    (t = 1/2). rn is kept for the positional filter.

    ``s`` is the shingle's **xxhash64** (int64), not the string, and the
    rank order is (corpus frequency, hash) — r11, guide §2.3 "narrower
    types": this stage was ~100% of the sf10rv pipeline cost (93.8 s of
    90.7 s measured), and its two corpus-sized exchanges (freq join, rank
    window) were shuffling + sorting ~27M 3-gram STRINGS. Hashing at the
    explode keeps every exchanged row at 3 fixed-width columns.
    Output-pair invariance: the prefix-filter completeness proof (see
    dedup_prefix_filter) holds for ANY consistent global total order on
    shingles, and the verify stage recomputes exact intersections from
    the full hash arrays — so the candidate SET may differ from the
    string-ranked one, but the verified output is the same qualifying
    pairs either way. A cross-shingle hash collision could merge two
    shingles' freq counts or produce a spurious candidate (rejected at
    verify); that is the same ~2^-64-per-pair risk class already accepted
    and gate-certified for :func:`shared_shingle_hashes`."""
    tok = sh.select(
        "doc_id", "n",
        F.explode(F.expr("transform(sh_set, x -> xxhash64(x))")).alias("s"),
    )
    freq = tok.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    wrank = Window.partitionBy("doc_id").orderBy("f", "s")
    return (
        tok.join(freq, "s")
        .withColumn("rn", F.row_number().over(wrank).cast("bigint"))
        .filter(F.expr("rn <= n - CAST(CEIL(n / 2.0) AS BIGINT) + 1"))
        .select("doc_id", "n", "s", "rn")
    )


def prefix_hot_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, bucket_n) for prefix-shingle buckets the cap excluded — the
    'no silent caps' twin of :func:`hot_bucket_report` for the exact
    prefix-filter join. ``s`` is the shingle's xxhash64 (the prefix join
    key since r11); recover the offending string by filtering
    ``shared_shingle_sets`` for docs whose transform(sh_set, xxhash64)
    contains it."""
    prefix = _rarity_prefix(shared_shingle_sets(spark, sf_dir))
    return (
        prefix.groupBy("s")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > LSH_MAX_BUCKET)
    )


@register("dedup_prefix_filter", _PREFIX_ORACLE, tags=("dedup", "pipeline", "prefix"))
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= {PREFIX_JACCARD_T} near-dup pairs via prefix
    filtering (AllPairs/PPJoin): order each doc's distinct shingles by
    global rarity ((corpus frequency, shingle) — total, deterministic),
    keep only the first n - ceil(t*n) + 1 as the doc's PREFIX, and join
    prefixes on shared shingles. COMPLETENESS GUARANTEE (unlike the minhash
    family's probabilistic recall): J(A,B) >= t implies |A inter B| >=
    ceil(t*|A|) (J >= t => i >= t(|A|+|B|-i) >= t|A|), so the globally
    FIRST shared shingle w cannot sit beyond either prefix — if it did,
    that doc's suffix from w on (< ceil(t*n) slots) would have to hold all
    >= ceil(t*n) shared shingles. Hence every qualifying pair meets in the
    prefix join. The >= 1/2 cut is the integer test 3*i >= n_a + n_b — no
    float in the decision; jaccard is emitted as one IEEE division.

    Scale shape: rarity-first prefixes make bucket sizes ~inverse to
    selectivity (the rarest shingles have the smallest buckets — opposite
    of banded LSH's uniform buckets), the prefix join touches ~half of each
    doc's set, and the exact intersection runs in-row (array_intersect) on
    candidates only. This is the exact-threshold production alternative to
    minhash when recall must be 1.0; tested pair-for-pair against the
    all-pairs brute force.

    Candidate growth is the operator's scale hazard — Σ_shingle bucket²,
    quadratic in per-shingle corpus density (measured 96x time at 10x docs
    on the dense-vocab sf1 bench corpus before r6). MEASURED 100x point
    (r8, VERDICT r7 item 1): on a REALISTIC Zipf-vocabulary corpus
    (tools/datagen_scale.py --realvocab-docs, V=200k — the sparsity real
    text has and the rarity-prefix exploits) the operator runs sf1rv
    21.5 s -> sf10rv 71.2 s = **3.3x at 10x data, sub-linear**, recovering
    exactly the 3000 seeded dup pairs. The 1024-word dense-vocab synthetic
    corpus remains quadratic BY CONSTRUCTION (>570 s at sf10, watchdogged)
    — that corpus misrepresents the workload; per-shingle density there is
    ~n/1024 while real corpora put most shingles in O(1) docs. Two guards:
    - PPJoin POSITIONAL filter (exactness-preserving, in the join
      predicate): a pair first meeting at prefix ranks (rn_a, rn_b) can
      overlap at most 1 + min(n_a - rn_a, n_b - rn_b); requiring
      3*(that) >= n_a + n_b prunes exactly the late-prefix meetings that
      common shingles produce. Every J >= t pair still meets at its FIRST
      shared rarity-ranked shingle, where the bound is loosest and
      provably passes — output unchanged, oracle needs no mirror.
      Together with the int-hash verify (:func:`shared_shingle_hashes`)
      the sf1 wall time went 365 s -> 33 s (output bit-identical).
    - the family hot-bucket cap (``LSH_MAX_BUCKET``) on prefix
      buckets: the recall-1.0 guarantee cannot survive truly degenerate
      shingles at 100 TB, so past the cap the operator drops the bucket
      observably (:func:`prefix_hot_bucket_report`, the twin of
      :func:`lsh_candidates`' report; the cap never fires on healthy data).

    Why not PPJoin+'s suffix filter (considered r8, rejected with
    reasoning): the positional filter here already enforces the
    pair-dependent required overlap α = ceil((n_a+n_b)/3) — algebraically,
    3*(1 + min(n_a-rn_a, n_b-rn_b)) >= n_a+n_b is equivalent to BOTH
    rn_a <= n_a-α+1 and rn_b <= n_b-α+1, i.e. PPJoin's tightened
    per-pair prefix bounds (including the 2t/(1+t) "indexing prefix" as
    the equal-size special case) are implied, so adding them is a no-op on
    output. PPJoin+'s suffix filter goes further only by probing the two
    docs' actual suffix CONTENT (divide-and-conquer Hamming bound) — a
    per-pair computation that in this join shape can only run at the
    verify stage, where the cost is already one vectorized int64
    `array_intersect` per deduped pair; the stage it would save is not the
    bottleneck. The quadratic term is the bucket-join ENUMERATION itself
    (Σ bucket² inside codegen), which no join-predicate or verify-stage
    filter reduces — only bucket size does, which is why the measured
    scale contract above is stated against vocabulary realism (bucket
    sparsity) plus the hot-bucket cap rather than more per-pair filters."""
    return shared_prefix_pairs(spark, sf_dir)


def shared_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached exact prefix-filter pairs — the family build for the
    exact-threshold side of the dedup tier. Two consumers read it
    (dedup_prefix_filter itself and dedup_lsh_recall_report, whose truth
    side would otherwise re-execute the whole prefix join per reference —
    measured at 2x the join cost inside one report action before this memo
    existed). Keyed by the bucket cap like shared_verified_pairs: a
    mid-session cap change must rebuild the pairs, not serve ones computed
    under the old cap."""
    return memo(
        spark, sf_dir, f"prefix_pairs@{LSH_MAX_BUCKET}",
        lambda: _prefix_pairs_impl(spark, sf_dir),
    )


def _prefix_pairs_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shared_shingle_sets(spark, sf_dir)
    prefix = cap_buckets(_rarity_prefix(sh), ["s"], LSH_MAX_BUCKET)
    a, b = prefix.alias("a"), prefix.alias("b")
    # Join-predicate pruning (output-identical, see docstring):
    # - LENGTH filter: J >= 1/2 forces set sizes within 2x of each other
    #   (24% fewer pairs measured at sf0.1);
    # - POSITIONAL filter: overlap upper bound from the meeting ranks
    #   (another ~3x fewer candidate rows at sf1's density).
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.col("b.n") >= F.col("a.n"))
            & (2 * F.col("a.n") >= F.col("b.n"))
            & (
                3 * (1 + F.least(F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")))
                >= F.col("a.n") + F.col("b.n")
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    shh = shared_shingle_hashes(spark, sf_dir)
    sa = shh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_h").alias("set_a"), F.col("n").alias("n_a")
    )
    sb = shh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_h").alias("set_b"), F.col("n").alias("n_b")
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter_n", F.expr("CAST(size(array_intersect(set_a, set_b)) AS BIGINT)"))
        .filter(3 * F.col("inter_n") >= F.col("n_a") + F.col("n_b"))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "inter_n",
        "n_a",
        "n_b",
        (
            F.col("inter_n").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter_n"))
        ).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# Cross-document verbatim-span detection (r7): which document PAIRS share
# exact word-level 8-gram spans, and how many — the substring-dedup signal
# (Lee et al., "Deduplicating Training Data Makes Language Models Better")
# at n-gram granularity, distinct from dedup_ngram_jaccard (set similarity)
# and contamination_check (overlap vs an external benchmark list): this one
# finds verbatim copying WITHIN the corpus.
# --------------------------------------------------------------------------

VERBATIM_N = 8       # words per span
VERBATIM_TOP = 50    # reported pairs
#: spans shared by more than this many docs are boilerplate, not copying —
#: and unbounded they make the pair join quadratic (the hot-bucket cap
#: pattern used by every LSH family here; the cap is part of the contract
#: and the oracle applies the same bound)
VERBATIM_MAX_DOCS = 16


@register(
    "dedup_verbatim_spans",
    f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL AND LENGTH(text) > 0),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(w[i.i + 1 : i.i + {VERBATIM_N}], ' ') AS g
        FROM toks, UNNEST(generate_series(0, len(w) - {VERBATIM_N})) AS i(i)
        WHERE len(w) >= {VERBATIM_N}),
    ok AS (
        SELECT g FROM grams GROUP BY g
        HAVING COUNT(*) > 1 AND COUNT(*) <= {VERBATIM_MAX_DOCS}),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS shared_spans
        FROM grams a JOIN ok USING (g) JOIN grams b USING (g)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    ranked AS (
        SELECT doc_a, doc_b, shared_spans,
               ROW_NUMBER() OVER (ORDER BY shared_spans DESC, doc_a, doc_b)
                   AS rnk
        FROM pairs)
    SELECT doc_a, doc_b, shared_spans, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {VERBATIM_TOP}
    ORDER BY rnk
    """,
    tags=("dedup", "text", "pipeline"),
)
def dedup_verbatim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top document pairs by count of shared verbatim word 8-grams.

    Plan shape: tokenize -> per-doc DISTINCT spans (one explode, no UDF —
    the span build is a JVM-side ``transform(sequence)`` higher-order
    expression) -> span-keyed self-join restricted to spans shared by
    2..{cap} docs (boilerplate/hot-span cap, applied BEFORE the join so the
    pair explosion is bounded by cap^2 per span) -> pair aggregate ->
    bounded ranked_topk.

    Spans are hashed to int64 (``xxhash64``) at the explode, top-level so
    the hash stays in codegen (r11, the dedup_prefix_filter/dedup_segments
    recipe): the output carries only pair COUNTS — no span string ever
    appears in it — and every downstream step (per-doc DISTINCT, the
    2..{cap} frequency filter, the pair self-join key) needs only span
    EQUALITY, which the hash preserves. No 8-word string ever crosses an
    exchange. Collision risk (ADVICE r11): the per-pair figure (~1e-9 at
    64 bits) is NOT the governing bound — with D DISTINCT spans corpus-wide
    the birthday bound is P(any collision) ~ D^2 / 2^65, i.e. ~3% at
    D = 10^9 and near-certain by D ~ 10^10, which a 100 TB corpus reaches.
    A collision at an uncertified SF merges two span groups and can perturb
    pair counts and the top-{VERBATIM_TOP} ranking nondeterministically vs
    the string-keyed oracle. Boundary: beyond ~10^9 distinct spans, switch
    to a dual hash (xxhash64 of the span and of its reverse — independent
    64-bit keys, collision ~ D^2 / 2^129) or fall back to string keys for
    any oracle-gated SF. Gate-certified row-identical at the test SFs,
    where D < 10^6 keeps the bound < 1e-7."""
    from skinnerdb_spark.queries.util import ranked_topk

    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("w"),
    ).filter(F.size("w") >= VERBATIM_N)
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(w) - {VERBATIM_N}),"
                    f" i -> array_join(slice(w, i + 1, {VERBATIM_N}), ' '))"
                )
            ).alias("gs"),
        )
        # top-level hash (codegen'd), BEFORE the distinct exchange: the
        # per-doc DISTINCT, frequency filter and pair join move int64 keys
        .select("doc_id", F.xxhash64("gs").alias("g"))
        .distinct()
    )
    ok = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") > 1) & (F.col("nd") <= VERBATIM_MAX_DOCS))
        .select("g")
    )
    # the filtered candidate set feeds BOTH sides of the pair self-join and
    # its lineage contains the whole explode+distinct pipeline, which would
    # otherwise execute twice more above the reused exchange (measured
    # 2.2 -> 1.9 s warm at sf0.1 and 5.8 -> 3.3 s at sf1). Materialize it
    # once — but with DISK_ONLY persist, NOT localCheckpoint: this frame is
    # corpus-shaped (not a bounded k-row frame), and a checkpointed RDD
    # carries no stats, so at 100x (sf10) Catalyst happily BROADCAST a
    # multi-GB candidate frame and OOM'd the executor heap — found by the
    # sf10 sweep; DISK_ONLY keeps the cost model honest (InMemoryRelation
    # stats) and never competes for heap.
    from pyspark import StorageLevel

    bounded = grams.join(ok, "g").persist(StorageLevel.DISK_ONLY)
    bounded.count()  # materialize before both consumers plan against it
    pairs = (
        bounded.alias("a")
        .join(bounded.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_spans"))
    )
    out = ranked_topk(
        pairs, [("shared_spans", "desc"), ("doc_a", "asc"), ("doc_b", "asc")],
        VERBATIM_TOP,
    )
    return out.select(
        "doc_a", "doc_b", "shared_spans", F.col("rnk").cast("bigint").alias("rnk")
    )


#: incremental-dedup contract: the "new crawl batch" slice and the novelty
#: floor below which a batch doc is dropped as mostly-already-seen content
#: (threshold sits at the corpus median so the verdict is discriminative:
#: neither keep-all nor drop-all at the gate SF)
INCR_BATCH_SOURCE = "src19"
INCR_NOVELTY_T = 0.4


@register(
    "dedup_incremental",
    f"""
    WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w
                FROM documents),
    idx AS (SELECT doc_id, source, w, UNNEST(generate_series(1, len(w) - 2)) AS i
            FROM ws WHERE len(w) >= 3),
    sh AS (SELECT DISTINCT doc_id, source,
                  w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
           FROM idx),
    corpus AS (SELECT DISTINCT s FROM sh WHERE source <> '{INCR_BATCH_SOURCE}'),
    b AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS seen
          FROM sh LEFT JOIN corpus c ON sh.s = c.s
          WHERE sh.source = '{INCR_BATCH_SOURCE}'
          GROUP BY sh.doc_id)
    SELECT doc_id, n AS n_shingles, seen AS seen_shingles,
           1.0 - CAST(seen AS DOUBLE) / n AS novelty,
           CAST(CASE WHEN 1.0 - CAST(seen AS DOUBLE) / n >= {INCR_NOVELTY_T}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
    FROM b
    """,
    tags=("dedup", "pipeline", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the production crawl shape: a
    NEW batch of documents (source = INCR_BATCH_SOURCE) is scored against the
    ALREADY-INGESTED corpus (every other source), and a batch doc is kept
    only if enough of its 3-gram shingles are novel (Dolma/CC-style
    "mostly-already-seen" drop). Unlike the self-join dedup family above,
    the comparison here is asymmetric: the corpus is the big indexed side,
    the batch is the small probe side.

    Exactness: novelty = 1 - seen/n over exact distinct-shingle counts — one
    correctly-rounded int64/int64 double division per doc compared against
    the same literal in both engines.

    Scale shape (100 TB): the corpus's distinct-shingle index is computed
    once (at production scale it would be a persisted bucketed table — the
    sources/bucketing.py layout); the batch explodes its shingles and joins
    co-partitioned on the shingle key, with AQE free to broadcast whichever
    side is small. Reuses shared_shingle_sets, so the in-row distinct
    shingle arrays are shared with the LSH/containment entries in the same
    session. No UDFs; the only corpus-sized shuffle is the distinct."""
    sets = shared_shingle_sets(spark, sf_dir)  # (doc_id, sh_set, n) distinct
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    s2 = sets.join(src, "doc_id")
    corpus = (
        s2.filter(F.col("source") != INCR_BATCH_SOURCE)
        .select(F.explode("sh_set").alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    batch = s2.filter(F.col("source") == INCR_BATCH_SOURCE).select(
        "doc_id", F.explode("sh_set").alias("s")
    )
    scored = (
        batch.join(corpus, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("seen_shingles"),
        )
    )
    novelty = F.lit(1.0) - F.col("seen_shingles").cast("double") / F.col("n_shingles")
    return scored.select(
        "doc_id",
        "n_shingles",
        "seen_shingles",
        novelty.alias("novelty"),
        F.when(novelty >= INCR_NOVELTY_T, 1).otherwise(0).cast("bigint").alias("keep_flag"),
    )


# --------------------------------------------------------------------------
# LSH candidate-recall receipt (r9 cont.): the minhash family's recall is
# PROBABILISTIC (banding theory gives P[candidate | J] = 1-(1-J^r)^b, not a
# guarantee); the prefix-filter join is EXACT at the same threshold. This
# entry joins the two pipelines into the acceptance report a production
# dedup deploy runs before trusting LSH at scale: measured recall and
# candidate precision of the banded stage against exact ground truth —
# self-certifying blocking quality, computed entirely from the memoized
# family frames (ANN has bench-level recall; dedup's is now a first-class,
# oracle-verified query).
# --------------------------------------------------------------------------

_LSH_RECALL_ORACLE = f"""
    WITH {_LSH_CTES},
    {_OVERLAP_CTES},
    truth AS (SELECT i.doc_a, i.doc_b
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.doc_a
              JOIN sizes sb ON sb.doc_id = i.doc_b
              WHERE 3 * i.both_n >= sa.n + sb.n),
    hits AS (SELECT t.doc_a FROM truth t
             JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
           CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
               / NULLIF((SELECT COUNT(*) FROM truth), 0) AS recall,
           CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
               / NULLIF((SELECT COUNT(*) FROM cand), 0) AS candidate_precision
"""


@register(
    "dedup_lsh_recall_report",
    _LSH_RECALL_ORACLE,
    tags=("dedup", "pipeline", "lsh", "prefix"),
)
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall (and candidate precision) of the banded-minhash
    candidate stage against the prefix-filter join's EXACT Jaccard >= 1/2
    ground truth — one row: n_true, n_candidates, n_hits, recall,
    candidate_precision.

    Scale shape: both pair sets come from the memoized family chains
    (truth = the prefix join's guarantee-complete pairs, candidates = the
    banded buckets), the hit set is one pair-keyed join of two pair-sized
    frames, and the three counts cross-join as broadcast 1-row aggregates.
    Nothing here re-scans the corpus; at 100 TB the report costs one pass
    over the PAIR tables. Ratios are single IEEE divisions of exact counts
    with identical NULLIF guards in both engines."""
    truth = shared_prefix_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cand = lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    hits = truth.join(cand, ["doc_a", "doc_b"])
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    c = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    h = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    one = t.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(h))
    return one.select(
        "n_true",
        "n_candidates",
        "n_hits",
        F.expr("CAST(n_hits AS DOUBLE) / NULLIF(n_true, 0)").alias("recall"),
        F.expr("CAST(n_hits AS DOUBLE) / NULLIF(n_candidates, 0)").alias(
            "candidate_precision"
        ),
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood blocking (r9 cont.): the third classic blocking
# family, completing the set — LSH banding (probabilistic), prefix
# filtering (exact-threshold), and now SORTED NEIGHBORHOOD (Hernandez &
# Stolfo's merge/purge): sort records by a normalized key and compare only
# rows within a fixed window w of each other, so candidates grow O(w * n)
# whatever the corpus does. The relational realization replaces the global
# sort (anti-scale) with per-bin sorts: records partition by a short key
# prefix, rank within the bin, and the window becomes an EQUI-join on
# (bin, rank + j), j in 1..w — no window function ever crosses bins, no
# global row_number exists anywhere.
# --------------------------------------------------------------------------
SN_WINDOW = 4  # sorted-neighborhood comparison window
SN_KEY_LEN = 24  # normalized sort-key length
SN_MAX_LEV = 4  # verify threshold on key edit distance


@register(
    "dedup_sorted_neighborhood",
    f"""
    WITH keyed AS (
        SELECT doc_id,
               SUBSTR(regexp_replace(LOWER(SUBSTR(text, 1, 80)),
                      '[^a-z0-9]', '', 'g'), 1, {SN_KEY_LEN}) AS k
        FROM documents),
    binned AS (
        SELECT doc_id, k, SUBSTR(k, 1, 2) AS bin,
               ROW_NUMBER() OVER (PARTITION BY SUBSTR(k, 1, 2)
                                  ORDER BY k, doc_id) AS rn
        FROM keyed WHERE LENGTH(k) >= 8),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.k AS k_a, b.k AS k_b
        FROM binned a
        JOIN (VALUES (1), (2), (3), (4)) AS off(j) ON TRUE
        JOIN binned b ON b.bin = a.bin AND b.rn = a.rn + off.j)
    SELECT doc_a, doc_b,
           CAST(levenshtein(k_a, k_b) AS BIGINT) AS key_dist
    FROM cand
    WHERE levenshtein(k_a, k_b) <= {SN_MAX_LEV}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "blocking", "pipeline"),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates: documents keyed by their
    normalized {SN_KEY_LEN}-char head (lowercased, non-alphanumerics
    stripped), ranked inside 2-char key-prefix bins, compared only to the
    {SN_WINDOW} rank-neighbors ahead of them, and kept when the keys'
    edit distance is <= {SN_MAX_LEV}. Short keys (< 8 chars of signal)
    are dropped before ranking.

    Scale shape: the rank window partitions by BIN (~36^2 groups), never
    globally — each bin sorts independently, and the neighbor window is an
    equi-join on (bin, rn + j) after a {SN_WINDOW}-way rank explode, so
    candidates are exactly w rows per record: O(w*n) growth by
    construction, the property that makes sorted neighborhood the
    bounded-cost blocking pass. At 100 TB the bin prefix widens (3-4
    chars) to keep per-bin sorts partition-sized; boundary pairs straddling
    a bin edge are the documented recall trade of the binned variant
    (the multi-pass remedy is a second run with a shifted key). Verify is
    in-row levenshtein on {SN_KEY_LEN}-char keys — constant cost per
    candidate, identical in both engines.

    Reference analogue: none (dedup/blocking tier, SURVEY §2 extension)."""
    d = read_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.substring("text", 1, 80)), "[^a-z0-9]", ""),
            1,
            SN_KEY_LEN,
        ).alias("k"),
    ).filter(F.length("k") >= 8)
    binned = keyed.select(
        "doc_id",
        "k",
        F.substring("k", 1, 2).alias("bin"),
        F.row_number()
        .over(Window.partitionBy(F.substring("k", 1, 2)).orderBy("k", "doc_id"))
        .alias("rn"),
    )
    probe = binned.select(
        F.col("doc_id").alias("doc_a"),
        F.col("k").alias("k_a"),
        "bin",
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + SN_WINDOW)
        ).alias("rn_b"),
    )
    cand = probe.join(
        binned.select(
            F.col("doc_id").alias("doc_b"),
            F.col("k").alias("k_b"),
            "bin",
            F.col("rn").alias("rn_b"),
        ),
        ["bin", "rn_b"],
    )
    return (
        cand.withColumn(
            "key_dist", F.levenshtein("k_a", "k_b").cast("bigint")
        )
        .filter(F.col("key_dist") <= SN_MAX_LEV)
        .select("doc_a", "doc_b", "key_dist")
        .orderBy("doc_a", "doc_b")
    )
