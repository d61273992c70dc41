"""Query registry: the single source of truth for the engine's query surface.

Every implemented operator/query from SURVEY.md §2 (and the beyond-reference
extension tier) registers here with:
  - a Spark implementation  (spark, sf_dir) -> DataFrame   [DataFrame API]
  - an oracle: equivalent ANSI SQL for DuckDB over the same parquet tables,
    or None for genuinely non-SQL-expressible ops (driver then does a weaker
    rows-only check).

``__spark_entry__.py`` and ``bench.py`` are thin wrappers over this registry.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: QueryFn
    oracle: str | None
    doc: str = ""
    #: queries timed by bench.py (headline set)
    bench: bool = True
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    bench: bool = True,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "", bench, tags)
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Import all query modules and return the full registry.

    The driver's correctness gate samples the first 50 entries of
    ``__spark_entry__.queries()``. That order puts the gate front first:
    the entries whose fingerprint moved or that are new (GATE_CHECK.json,
    written by tools/gate_check.py). Registration order, the import order
    below, only orders the front and then the rest."""
    # imports are deferred so `import skinnerdb_spark` stays light
    from skinnerdb_spark.operators import (  # noqa: F401
        analytics,
        curation,
        curation_gate,
        dedup,
        htmlx,
        ivf,
        kmeans,
        multimodal,
        pipeline,
        pq,
        privacy,
        quality,
        retrieval,
        segments,
        similarity,
        spectral,
        sq,
        stattests,
        temporal,
        text,
        wcoj,
        weburl,
    )
    from skinnerdb_spark.sources import binaryfile  # noqa: F401
    from skinnerdb_spark.streaming import windows  # noqa: F401
    from skinnerdb_spark.queries import (  # noqa: F401
        modern_sql,
        tpch_surplus,
        adaptive,
        extensions,
        job,
        job_family,
        scalar,
        scalar_surplus,
        subquery,
        tpch,
    )

    return dict(_REGISTRY)


def family_builds() -> list[tuple[str, QueryFn]]:
    """The session-shared family builds as (row label, build): memoized
    intermediates that several registry entries read. bench.py and
    tools/sweep_runner.py time each as its own row before the entries, so
    a build is not billed to whichever member entry runs first."""
    from skinnerdb_spark.operators import analytics, dedup, similarity, text

    return [
        ("family:co_edges", analytics.shared_co_edges),
        ("family:bigram_inst", text.shared_bigram_instances),
        ("family:doc_len", analytics.shared_doc_lengths),
        ("family:bm25_tf", analytics.shared_bm25_tf),
        ("family:minhash_sigs", dedup.shared_sigs),
        ("family:shingle_sets", dedup.shared_shingle_sets),
        ("family:shingle_hashes", dedup.shared_shingle_hashes),
        ("family:lsh_candidates", dedup.lsh_candidates),
        ("family:verified_pairs", dedup.shared_verified_pairs),
        ("family:prefix_pairs", dedup.shared_prefix_pairs),
        ("family:simhash_sigs", dedup.shared_simhash),
        ("family:sign_bits", similarity.shared_bits),
        ("family:brute_topk", similarity.sim_bruteforce_topk),
    ]
