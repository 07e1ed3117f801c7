"""Client operation mixes: what the closed-loop client issues.

An ``Op`` builds a lazy DataFrame through the engine's public functions
(``build``) and the client then pulls its rows to the driver. Registry
ops carry the operator's DuckDB oracle; rollup reads are checked
through the store gate instead (read == recompute), because they read
a store that changes while they run.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np

# Reference surface: the reference's README / MV / monitoring / entity /
# SQL-text queries, the tiered union view and two TPC-H joins.
DASHBOARD_REGISTRY = (
    "readme_daily_volume_7d", "mv_top_addresses", "monitoring_global_stats",
    "entity_by_id", "sql_adhoc_whale_report", "tiered_union_stats",
    "tpch_q3_shipping_priority",
)

# LLM-data-pipeline operators.
CORPUS_REGISTRY = (
    "dedup_minhash_lsh", "similarity_ivf_topk", "text_bm25_topk",
    "contamination_ngram_overlap", "pipeline_curate_topn",
)

REFERENCE_MODULES = ("rollups", "queries", "sqltext", "entity", "abi",
                     "tpch", "tpch_more", "tpch_suite")


@dataclass(frozen=True)
class Op:
    name: str
    layer: str                  # per-layer busy-time bucket
    build: Callable             # (spark, sf_dir) -> DataFrame
    oracle: str | None = None   # DuckDB SQL over the sf tables
    store_read: bool = False    # reads the live rollup store


def registry_ops(names) -> list[Op]:
    from clickhouse_aggregation_spark.operators.registry import REGISTRY
    ops = []
    for name in names:
        spec = REGISTRY[name]
        module = (spec.raw_fn or spec.fn).__module__.rsplit(".", 1)[-1]
        if name == "tiered_union_stats":
            layer = "plans.tiering"
        elif module in REFERENCE_MODULES:
            layer = "operators.reference"
        else:
            layer = f"operators.{module}"
        ops.append(Op(name, layer, spec.fn, spec.oracle))
    return ops


def rollup_ops(rng: np.random.Generator, store: str, days: list,
               hot_addresses: list) -> list[Op]:
    """The dashboard's rollup reads, with seeded filter parameters
    (hour window, address, top-k day)."""
    from pyspark.sql import functions as F
    from clickhouse_aggregation_spark.streaming.maintainer import (
        INCREMENTAL_ROLLUPS)
    R = {r.name: r for r in INCREMENTAL_ROLLUPS}
    day = int(rng.choice(days))                   # block-range day
    hour0 = day * 24 + int(rng.integers(0, 12))   # block-hour window start
    addr = str(hot_addresses[int(rng.integers(0, len(hot_addresses)))])

    def read(name):
        return lambda spark, _sf: R[name].read(spark, store)

    def top(name, key, value, measure):
        return lambda spark, sf: (
            read(name)(spark, sf).filter(F.col(key) == F.lit(value))
            .orderBy(F.col(measure).desc(), *R[name].keys).limit(10))

    specs = {
        "rollup.hourly_uniq_window": lambda spark, sf: (
            read("hourly_uniq")(spark, sf)
            .filter(F.col("block_hour").between(hour0, hour0 + 12))
            .orderBy("block_hour")),
        "rollup.top_senders_day": top("top_senders", "block_range", day,
                                      "total_sent"),
        "rollup.address_activity": lambda spark, sf: (
            read("top_addresses")(spark, sf)
            .filter(F.col("address") == F.lit(addr)).orderBy("day",
                                                             "address_type")),
    }
    return [Op(name, "maintainer.read", fn, None, True)
            for name, fn in specs.items()]


def dashboard_mix(rng, store, days, hot_addresses) -> list[Op]:
    return (rollup_ops(rng, store, days, hot_addresses)
            + registry_ops(DASHBOARD_REGISTRY))


def corpus_mix(rng, store, days, hot_addresses) -> list[Op]:
    return registry_ops(CORPUS_REGISTRY)


MIXES = {"dashboard": dashboard_mix, "corpus": corpus_mix}
