"""IVF (inverted-file) ANN index — the k-means-partitioned scale path.

sim_lsh_* partitions the corpus by random hyperplanes; IVF partitions by
learned k-means centroids, which adapts to the data distribution and is what
production vector stores (FAISS IVF, Milvus) do. Train/assign/search:

- train: Lloyd iterations on a bounded deterministic sample (driver-side
  numpy — at 100 TB you train on a sample regardless of engine);
- assign: argmax-dot per row as an IN-ROW Catalyst expression over the
  (small, literal) centroid array — decimal-exact dots, whole-stage codegen,
  zero shuffle and zero Python workers;
- search: probe the nprobe nearest centroid cells only — candidate cost is
  |corpus| * nprobe / k instead of |corpus|.

Only TRAINING is iterative (no SQL expression). Everything downstream of the
trained centroids — assignment, probe selection, candidate join, exact
scoring — is deterministic relational algebra, so the registry entry carries
a REAL DuckDB oracle that re-derives the entire search from the persisted
centroids parquet (reference analogue: index-backed probe correctness,
src/indexing/IntIndex.java:95-134). Determinism of training is pinned by
fixed sample, fixed init, and fixed iteration count; cross-engine exactness
of every dot product uses the decimal-fold machinery (similarity.py).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skinnerdb_spark import artifacts
from skinnerdb_spark.catalog import ORACLE_SF_DIR
from skinnerdb_spark.operators.similarity import (
    N_QUERIES,
    RESCORE_SQL,
    _oracle_dot,
    decimal_fold,
    exact_topk_on_candidates,
)
from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register

K_CELLS = 16
N_ITERS = 5
N_PROBE = 2
TRAIN_SAMPLE = 2048  # lowest vec_ids — deterministic sample
#: bump when the index FORMAT/ALGORITHM changes (v2: decimal-exact in-row
#: assignment replaced the float64 BLAS mapInPandas path) — a same-source
#: index built by an older algorithm must read as stale, not fresh
INDEX_VERSION = 2


def default_index_path(sf_dir: str) -> str:
    """Per-warehouse persisted-index location under the artifact root."""
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    return os.path.join(artifacts.ARTIFACT_ROOT, f"ivf_index_{sf_name}")


def source_fingerprint(sf_dir: str) -> str:
    """Identity of the embeddings source the index was built from: the
    file fingerprint of embeddings.parquet under the index format version.
    An index whose recorded fingerprint no longer matches is STALE (the
    corpus was rewritten) and must be rebuilt — path-basename keying alone
    would happily serve assignments for vectors that no longer exist."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    return f"v{INDEX_VERSION}:" + artifacts.file_fingerprint(src)


def train_centroids(train: np.ndarray) -> np.ndarray:
    """Plain Lloyd k-means on unit-normalized vectors (spherical k-means).
    Deterministic: init = first K_CELLS training rows, N_ITERS iterations."""
    x = train / np.linalg.norm(train, axis=1, keepdims=True)
    c = x[:K_CELLS].copy()
    for _ in range(N_ITERS):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(K_CELLS):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    c[j] = m / n
    return c


def _centroid_array_sql(centroids: np.ndarray) -> str:
    """SQL literal ``array<struct<cell:bigint, centroid:array<double>>>`` of
    the centroid matrix. ``repr(float)`` is the shortest round-tripping
    decimal form, and Spark parses double literals correctly rounded, so the
    in-plan values are bit-identical to the persisted parquet doubles."""
    items = ", ".join(
        "named_struct('cell', CAST({} AS BIGINT), 'centroid', array({}))".format(
            j, ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in c)
        )
        for j, c in enumerate(centroids)
    )
    return f"array({items})"


def _cell_dot(emb: str) -> str:
    """Decimal-exact dot of row column ``emb`` with lambda-bound centroid
    ``c`` (same product/fold shape as similarity._oracle_dot, so Spark and
    DuckDB agree bitwise)."""
    return decimal_fold(
        f"zip_with({emb}, c.centroid, (x, y) -> "
        f"CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12)))"
    )


def assign_cells(e: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment as ONE in-row expression —
    max by (dot, -cell) over the literal centroid array. Cosine and dot agree
    on the argmax because the per-row norm is a positive constant factor, so
    no normalization is needed. Whole-stage codegen, zero shuffle, zero
    Python workers; ties break to the lowest cell (matching the oracle's
    ``ORDER BY dot DESC, cell``)."""
    cents = _centroid_array_sql(centroids)
    best = (
        f"array_max(transform({cents}, "
        f"c -> struct({_cell_dot('embedding')} AS d, -c.cell AS nc)))"
    )
    return e.select("vec_id", F.expr(f"CAST(-(({best}).nc) AS BIGINT)").alias("cell"))


def probe_cells(e: DataFrame, centroids: np.ndarray, nprobe: int = N_PROBE) -> DataFrame:
    """(query_id, cell): each query's ``nprobe`` nearest centroid cells, the
    same in-row decimal-exact ranking as :func:`assign_cells` (sort by
    (-dot, cell) ascending = dot descending, ties to the lowest cell)."""
    cents = _centroid_array_sql(centroids)
    ranked = (
        f"transform(slice(array_sort(transform({cents}, "
        f"c -> struct(-({_cell_dot('embedding')}) AS nd, c.cell AS cell))), "
        f"1, {nprobe}), s -> s.cell)"
    )
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.explode(F.expr(ranked)).alias("cell")
    )


def oracle_probe_ctes(index_path: str) -> str:
    """The oracle's IVF cells, the DuckDB mirror of :func:`assign_cells` and
    :func:`probe_cells` over the persisted centroids: every vector's cells
    ranked by dot product (ranked_cells), its own cell (asn) and each
    query's nprobe nearest cells (probes). CTE text to follow a WITH."""
    a_dot = _oracle_dot("e.embedding", "c.centroid")
    return f"""cents AS (
        SELECT cell, centroid
        FROM read_parquet('{index_path}/centroids/*.parquet')),
    ranked_cells AS (
        SELECT e.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                    ORDER BY {a_dot} DESC, c.cell) AS crn
        FROM embeddings e CROSS JOIN cents c),
    asn AS (SELECT vec_id, cell FROM ranked_cells WHERE crn = 1),
    probes AS (
        SELECT vec_id AS query_id, cell
        FROM ranked_cells WHERE vec_id < {N_QUERIES} AND crn <= {N_PROBE})"""


def build_ivf_index(spark: SparkSession, e: DataFrame, path: str) -> None:
    """Persist an IVF index: centroid matrix + per-vector cell assignments,
    both as parquet. The durable analogue of the reference's `index all`
    (src/indexing/Indexer.java — which rebuilds RAM indexes every session);
    here the index survives restarts and is shared cluster-wide."""
    train_pdf = (
        e.filter(F.col("vec_id") < TRAIN_SAMPLE).select("vec_id", "embedding").toPandas()
    )
    train = np.array(train_pdf.sort_values("vec_id")["embedding"].tolist(), dtype=np.float64)
    centroids = train_centroids(train)
    cent_pdf = pd.DataFrame(
        {"cell": range(len(centroids)), "centroid": [c.tolist() for c in centroids]}
    )
    spark.createDataFrame(cent_pdf).write.mode("overwrite").parquet(f"{path}/centroids")
    assign_cells(e, centroids).write.mode("overwrite").parquet(f"{path}/assignments")


def _ivf_oracle(index_path: str) -> str:
    """DuckDB SQL re-deriving the ENTIRE IVF search from the persisted
    centroids parquet: assignment (argmax dot per vector), probe selection
    (top-nprobe cells per query), candidate join, exact cosine top-k. Only
    k-means training is trusted from the index — it is deterministic (fixed
    sample/init/iterations), and the centroids the oracle reads are the very
    doubles the Spark plan inlines as literals."""
    return f"""
    WITH {oracle_probe_ctes(index_path)},
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN asn a USING (cell)
        WHERE a.vec_id <> p.query_id),
    {RESCORE_SQL}
    """


def index_is_fresh(path: str, sf_dir: str) -> bool:
    """True iff a persisted index exists AND was built from the embeddings
    files currently on disk (see :func:`source_fingerprint`)."""
    return artifacts.index_is_fresh(path, "centroids", source_fingerprint(sf_dir))


def ensure_ivf_index(spark: SparkSession, e: DataFrame, sf_dir: str) -> str:
    """The warehouse's persisted index path, (re)built first unless fresh."""
    path = default_index_path(sf_dir)
    artifacts.ensure_index(
        path, "centroids", source_fingerprint(sf_dir), lambda: build_ivf_index(spark, e, path)
    )
    return path


def load_ivf_index(spark: SparkSession, path: str) -> tuple[np.ndarray, DataFrame]:
    """(centroid matrix, assignments DataFrame) from a persisted index."""
    cent_pdf = spark.read.parquet(f"{path}/centroids").toPandas().sort_values("cell")
    centroids = np.array(cent_pdf["centroid"].tolist(), dtype=np.float64)
    return centroids, spark.read.parquet(f"{path}/assignments")


@register(
    "sim_ivf_ann",
    _ivf_oracle(default_index_path(ORACLE_SF_DIR)),
    bench=True,
    tags=("similarity", "pipeline", "ivf"),
)
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k — the DEFAULT ANN entry (recall@5 = 0.86 at 12% candidate
    cost on the test corpus vs sign-LSH's 0.64 at 40%; learned centroids
    adapt to the data where random hyperplanes cannot — full sweep in
    PERFORMANCE.md). Probes the 2 nearest cells per query, exact decimal
    cosine + rank within candidates. Full DuckDB oracle (see
    :func:`_ivf_oracle`) —
    the search is re-derived in SQL from the persisted centroids; only the
    deterministic k-means training step is outside SQL.

    Loads the persisted index (centroids + assignments) when present AND
    still matching the source files' fingerprint; builds+persists otherwise
    — repeated invocations never retrain, matching how a production vector
    store amortizes index builds, while a rewritten corpus invalidates the
    index instead of silently serving stale assignments. Training is
    deterministic (fixed sample/init/iterations), so cold and warm paths
    return identical results."""
    e = read_table(spark, sf_dir, "embeddings")
    centroids, cells = load_ivf_index(spark, ensure_ivf_index(spark, e, sf_dir))
    probes = probe_cells(e, centroids)
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return exact_topk_on_candidates(e, cand)
