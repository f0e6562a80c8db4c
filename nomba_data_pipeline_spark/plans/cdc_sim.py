"""Deterministic CDC simulation — port of the reference's test harness.

Reference: setup/simulate_cdc.py:40-155 applies parameterized
insert/update profiles (light/medium/heavy :22-26) against Postgres and
Mongo, then the pipeline re-runs and results are inspected manually
(README.md:224-263). Here the simulation is seeded and returns modified
*source DataFrames*, so tests can assert the post-rerun invariants
mechanically:

  * run pipeline twice with no changes  -> byte-identical tables
  * apply updates + rerun               -> updated rows visible exactly once
  * SCD2: changed check-col             -> exactly one open version per key,
                                           old version closed
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def random_sample(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """O3/F10: `ORDER BY RANDOM() LIMIT n` sampling (reference
    simulate_cdc.py:89,111) as `orderBy(rand(seed)).limit(n)`.

    rand(seed) is seeded PER PARTITION, so the sample is reproducible
    within a session for a fixed input partitioning (the reference's
    RANDOM() gives even less — no seed at all). For cross-engine /
    cross-run determinism, prefer the seeded-hash picks the simulators
    below use; this surface exists for reference-shape parity and
    unbiased sampling (hash-order sampling is uniform only if the hash
    mixes well)."""
    return df.orderBy(F.rand(seed)).limit(n)


def simulate_user_updates(
    users: DataFrame, fraction: float = 0.1, seed: int = 42, new_segment: str = "CHANGED"
) -> DataFrame:
    """Deterministically flip `segment` for ~fraction of users
    (reference simulate_cdc.py:126-155 mutates Mongo user state)."""
    # pmod, not abs(%): abs(Int.MinValue) stays negative (non-ANSI), so
    # that row's remainder is < 0 and it would be "picked" even at
    # fraction=0 (same pitfall operators/skew.py documents)
    pick = F.pmod(F.hash(F.col("user_id"), F.lit(seed)), F.lit(100)) < int(fraction * 100)
    return users.withColumn(
        "segment", F.when(pick, F.lit(new_segment)).otherwise(F.col("segment"))
    )


def simulate_plan_updates(
    plans: DataFrame, fraction: float = 0.1, seed: int = 42, hwm=None
) -> DataFrame:
    """Bump target_amount and updated_at for ~fraction of plans
    (reference simulate_cdc.py:52-86 updates plan rows + updated_at).

    `hwm` is the target's current high-water mark on updated_at. Pass it
    on every call after the first: the source is unchanged between
    calls, so without it each call stamps the same instant, which
    equals the HWM the previous call's merge left and fails the
    strict '>' filter — nothing would merge."""
    pick = F.pmod(F.hash(F.col("plan_id"), F.lit(seed)), F.lit(100)) < int(fraction * 100)
    # real CDC stamps updated_at = now(); model that as one day past the
    # later of the source max and the target HWM, so the rows clear the
    # strict-'>' high-water-mark (SURVEY §7.4.3)
    max_ts = plans.agg(F.max("updated_at")).first()[0]
    if hwm is not None and (max_ts is None or hwm > max_ts):
        max_ts = hwm
    return plans.withColumn(
        "target_amount",
        F.when(pick, F.col("target_amount") * 2).otherwise(F.col("target_amount")),
    ).withColumn(
        "updated_at",
        F.when(pick, F.lit(max_ts) + F.expr("INTERVAL 1 DAY")).otherwise(F.col("updated_at")),
    )


def simulate_new_transactions(
    txns: DataFrame, n: int = 100, seed: int = 42
) -> DataFrame:
    """Append n synthetic new transactions with fresh ids/timestamps
    (reference simulate_cdc.py:89-118 inserts new txn rows)."""
    # one fused aggregation: two separate .first() calls are two full
    # scan jobs over txns
    mx = txns.agg(
        F.max("transaction_id").alias("id"), F.max("updated_at").alias("ts")
    ).first()
    max_id = mx["id"] or 0
    max_ts = mx["ts"]
    template = txns.orderBy(F.abs(F.hash("transaction_id", F.lit(seed)))).limit(n)
    # n is small (test harness); the single-partition window is fine here
    fresh = template.withColumn(
        "transaction_id", F.lit(max_id) + F.row_number().over(Window.orderBy("transaction_id"))
    ).withColumn("updated_at", F.lit(max_ts) + F.expr("INTERVAL 1 DAY"))
    return txns.unionByName(fresh)
