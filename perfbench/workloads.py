"""The benchmark's workloads, as seeded lists of ops.

Every op is one closed-loop request: build the DataFrame through a public
entry point, then execute it with ``plans.metrics.run_and_count``. The oracle
SQL of each op is what DuckDB runs to check the result afterwards.

The seed picks query order, the corpus instantiations and the rewritten rows;
the set of templates and registry entries is fixed. Per-entry costs at sf0.1
span 0.1-9 s, so a seeded sample of the ~20 registry entries that fit in one
run moved the median by 16-40% (interquartile share over seeds), far beyond
any usable bound.

Sizes are small because every run starts a fresh JVM (~15 s of set-up) and a
full measurement (22 runs per workload) is meant to take under an hour: each
run times about 15-25 s of ops (12 corpus queries, or 6 operator ops and a
table rewrite).
"""

from __future__ import annotations

import glob
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

#: adaptive_sql settings used for every corpus query (the repo's bench.py
#: uses the same episode budget and sample size)
ADAPTIVE_KW = {"episodes": 2, "sample_rows": 8000, "episode_budget_s": 10.0}

#: join_corpus templates: inner-join chains of 4, 8 and 12 tables that take
#: the adaptive path, plus one outer-join shape that the extractor rejects
JOIN_TEMPLATES = ["t2_chain", "t8_deep8", "t10_deep12", "t16_outer"]

#: operator_mix registry entries; each names the layer it is there for
OPERATOR_ENTRIES = [
    "tpch_q03",             # DataFrame TPC-H: read_table schema inference per table
    "dedup_minhash_lsh",    # memo LRU hit on the minhash family build
    "graph_bfs_hops",       # eager build-time checkpoints (a Spark job per hop)
    "multimodal_features",  # Arrow / pandas UDF Python workers
    "ev_sessionization",    # streaming window operator, shuffle-heavy
]

#: operator_mix family builds (session-shared memoized intermediates that the
#: members above reuse), run before the members as the repo's bench.py does
FAMILIES = [
    ("family:minhash_sigs", "skinnerdb_spark.operators.dedup", "shared_sigs"),
]

#: warm-up ops, run before the timed window so the first timed op does not
#: pay JVM class loading and codegen alone. Corpus warm-ups run through plain
#: spark.sql, so the order cache stays empty; registry warm-ups run on the
#: tiny sf0.001 warehouse, since the memos are keyed by warehouse path
WARMUP = {
    "join_corpus": ["corpus:t4_wide_01"],  # a template no timed op uses
    "operator_mix": ["multimodal_features"],  # also starts the Python workers
}


@dataclass
class Op:
    name: str
    kind: str  # "query", "family" or "write"
    build: Callable[[], object]  # returns the DataFrame to execute (None for writes)
    sql: str | None  # DuckDB oracle SQL


def corpus_files(root: str) -> dict[str, str]:
    return {
        os.path.basename(p)[:-4]: p
        for p in sorted(glob.glob(os.path.join(root, "queries_sql", "*.sql")))
    }


def read_sql(path: str) -> str:
    with open(path) as f:
        return f.read().strip().rstrip(";")


def corpus_op(engine, name: str, path: str) -> Op:
    text = read_sql(path)
    return Op("corpus:" + name, "query", lambda: engine.adaptive_sql(text, **ADAPTIVE_KW), text)


def registry_op(spark, spec, sf_dir: str) -> Op:
    return Op(spec.name, "query", lambda: spec.spark(spark, sf_dir), spec.oracle)


def family_ops(spark, sf_dir: str) -> list[Op]:
    import importlib

    out = []
    for label, mod, fn in FAMILIES:
        build = getattr(importlib.import_module(mod), fn)
        out.append(Op(label, "family", lambda b=build: b(spark, sf_dir), None))
    return out


def join_corpus(ctx, seed: int, rounds: int) -> list[Op]:
    """Corpus queries in rounds: each round holds one instantiation of every
    template (seeded pick and order), so the first round runs every shape's
    join-order episodes and later rounds hit the learned orders."""
    rnd = random.Random(seed)
    files = corpus_files(ctx.root)
    picks = {
        t: rnd.sample([n for n in files if n.rsplit("_", 1)[0] == t], rounds)
        for t in JOIN_TEMPLATES
    }
    ops = []
    for r in range(rounds):
        order = list(JOIN_TEMPLATES)
        rnd.shuffle(order)
        ops += [corpus_op(ctx.engine, picks[t][r], files[picks[t][r]]) for t in order]
    return ops


def operator_mix(ctx, seed: int) -> list[Op]:
    """The family builds first (seeded order), then the registry entries and
    one rewrite of orders + lineitem (seeded subset) in seeded order."""
    rnd = random.Random(seed)
    fams = family_ops(ctx.spark, ctx.sf_dir)
    rnd.shuffle(fams)
    m, o = rewrite_filter(seed)
    rest = [registry_op(ctx.spark, ctx.specs[n], ctx.sf_dir) for n in OPERATOR_ENTRIES]
    rest.append(Op("write:orders+lineitem", "write", lambda: ctx.rewrite(m, o), None))
    rnd.shuffle(rest)
    return fams + rest


def rewrite_filter(seed: int) -> tuple[int, int]:
    """(multiplier, offset) of the rewrite's row filter: an order is kept when
    (orderkey * m + o) % 10 < 5. Plain integer arithmetic, so Spark and
    DuckDB select exactly the same rows."""
    r = random.Random(seed * 1_000_003)
    return r.randrange(1, 9973), r.randrange(0, 10)


def keep_predicate(col: str, m: int, o: int) -> str:
    return f"({col} * {m} + {o}) % 10 < 5"


def warmup_ops(ctx, workload: str, small_dir: str) -> list[Op]:
    files = corpus_files(ctx.root)
    out = []
    for name in WARMUP[workload]:
        if name.startswith("corpus:"):
            text = read_sql(files[name[7:]])
            out.append(Op(name, "query", lambda text=text: ctx.spark.sql(text), None))
        else:
            out.append(registry_op(ctx.spark, ctx.specs[name], small_dir))
    return out
