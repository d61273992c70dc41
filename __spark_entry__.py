"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over skinnerdb_spark.registry — every implemented operator from
SURVEY.md §2 (plus the beyond-reference pipeline tier) registers a Spark
implementation and, where SQL-expressible, a DuckDB oracle.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from skinnerdb_spark.registry import all_specs

#: written by tools/gate_check.py: the entries whose fingerprint (plan,
#: oracle, source) moved since GATE_FINGERPRINTS.json, and the new ones
_GATE_CHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "GATE_CHECK.json")

#: entries changed only inside a worker-side UDF body (a helper that neither
#: the plan nor the registered function's source shows), which gate_check
#: cannot see
_UNFINGERPRINTED: list[str] = []


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H q03 shape —
    3-way join + group + order/limit, the full NONE->GROUPS pipeline of the
    reference's query lifecycle (SURVEY §3.1)."""
    specs = all_specs()
    return specs["tpch_q03"].spark(spark, "/root/testdata/sf0.001")


def _front() -> set[str]:
    """Entries the correctness gate must sample first: gate_check's
    changed and new sets plus _UNFINGERPRINTED."""
    with open(_GATE_CHECK) as f:
        report = json.load(f)
    return set(report["changed"]) | set(report["new"]) | set(_UNFINGERPRINTED)


def _driver_ordered() -> list[str]:
    """The gate samples the FIRST entries of queries(): the front in
    registry order, then every other entry in registry order."""
    front = _front()
    specs = all_specs()
    return [n for n in specs if n in front] + [n for n in specs if n not in front]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query/operator from SURVEY.md §2, the gate
    front first (see _front)."""
    specs = all_specs()
    return {name: specs[name].spark for name in _driver_ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() entry.

    Entries without an oracle (genuinely non-SQL-expressible ops) are omitted
    -> the driver records a weaker rows-only check for those.
    """
    specs = all_specs()
    return {
        name: specs[name].oracle
        for name in _driver_ordered()
        if specs[name].oracle is not None
    }
