"""Correctness gate, run after the timed region of every run.

* every rollup's ``read()`` equals its ``recompute()`` over the union
  of landed transfer files;
* the reorg invariant holds for the signed rollups: the store equals a
  recompute over the surviving rows (latest version per ``log_id``,
  sign +1), as if the retracted rows had never been ingested;
* registry and corpus outputs match their ``spec.oracle`` in DuckDB,
  compared the way the test suite compares them (``tests/oracle.py``).

Each check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

# insert-only by design (the reference's WHERE _sign = 1): excluded
# from the reorg invariant, as in the engine's own streaming tests
NOT_REORG_SAFE = ("hourly_uniq",)

_GATE_CONF = {"spark.sql.shuffle.partitions": "1",
              "spark.sql.codegen.wholeStage": "false"}


def _digest(df, label: str):
    """One-row multiset digest of ``df``: row count and two sums of
    32-bit row hashes — equal multisets give equal digests."""
    from pyspark.sql import functions as F
    mask = F.lit(0xFFFFFFFF)
    cols = [F.col(c) for c in df.columns]
    return df.agg(
        F.count(F.lit(1)).alias(f"{label}_n"),
        F.sum(F.xxhash64(*cols).bitwiseAND(mask)).alias(f"{label}_h1"),
        F.sum(F.hash(*cols).cast("long").bitwiseAND(mask)).alias(f"{label}_h2"))


def check_store(spark, store: str, src_dir: str) -> tuple[int, list[str]]:
    """Store gate, evaluated as one Spark action over all digests."""
    from functools import reduce

    from pyspark.sql import Window, functions as F
    from clickhouse_aggregation_spark.schemas import TRANSFERS
    from clickhouse_aggregation_spark.streaming.maintainer import (
        INCREMENTAL_ROLLUPS)

    landed = spark.read.schema(TRANSFERS).parquet(src_dir)
    surviving = (
        landed.withColumn("_max_v", F.max("_version").over(
            Window.partitionBy("log_id")))
        .filter((F.col("_version") == F.col("_max_v")) & (F.col("_sign") == 1))
        .drop("_max_v")
    )
    landed, surviving = landed.cache(), surviving.cache()
    digests, pairs = [], []
    for i, r in enumerate(INCREMENTAL_ROLLUPS):
        digests += [_digest(r.read(spark, store), f"r{i}"),
                    _digest(r.recompute(landed), f"a{i}")]
        pairs.append((f"r{i}", f"a{i}", f"store {r.name}: read != recompute"))
        if r.name not in NOT_REORG_SAFE:
            digests.append(_digest(r.recompute(surviving), f"s{i}"))
            pairs.append((f"r{i}", f"s{i}",
                          f"store {r.name}: reorg invariant broken"))
    # the gate's inputs are tiny and its ~20 plans are new: one shuffle
    # partition and no code generation keep it cheap
    saved = {k: spark.conf.get(k) for k in _GATE_CONF}
    for k, v in _GATE_CONF.items():
        spark.conf.set(k, v)
    try:
        row = reduce(lambda a, b: a.crossJoin(b), digests).collect()[0]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    problems = [msg for a, b, msg in pairs
                if any(row[f"{a}_{k}"] != row[f"{b}_{k}"]
                       for k in ("n", "h1", "h2"))]
    landed.unpersist()
    surviving.unpersist()
    return len(pairs), problems


def check_oracles(results: dict, sf_dir: str) -> list[str]:
    """``results``: op name -> (pandas result, oracle SQL). Uses the test
    suite's DuckDB views and canonical form, so "matches the oracle"
    means the same here as in the tests."""
    from tests.oracle import canon, duckdb_con

    problems = []
    con = duckdb_con(sf_dir)
    try:
        for name, (pdf, sql) in sorted(results.items()):
            want = con.execute(sql).df()
            if sorted(pdf.columns) != sorted(want.columns):
                problems.append(f"{name}: columns differ")
            elif canon(pdf) != canon(want):
                problems.append(f"{name}: rows differ from the oracle "
                                f"({len(pdf)} vs {len(want)} rows)")
    finally:
        con.close()
    return problems
