"""Opt-in full-scale soak (sf0.1, ~90s): run with
`pytest tests/test_soak.py --run-soak` or SPARK_GRAFT_SOAK=1."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.merge import ParquetTable
from nomba_data_pipeline_spark.plans import models as M
from nomba_data_pipeline_spark.plans.cdc_sim import (
    simulate_plan_updates,
    simulate_user_updates,
)
from nomba_data_pipeline_spark.plans.pipeline import build_pipeline

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SOAK"), reason="set SPARK_GRAFT_SOAK=1 to run"
)


def _plans_hwm(spark, wh):
    """stg_plans' high-water mark, so each generation's stamps clear it."""
    return ParquetTable(spark, os.path.join(wh, "stg_plans")).high_water_mark_stats(
        "updated_at"
    )


def test_sf01_pipeline_three_generations(spark, tmp_path):
    wh = os.path.join(tmp_path, "wh")
    build_pipeline(spark, wh, "/root/testdata/sf0.1").run()
    for gen in range(1, 4):
        ov = {
            "stg_users": lambda s, sf, g=gen: simulate_user_updates(
                M.stg_users(s, sf), 0.03, seed=g, new_segment=f"G{g}"
            ),
            "stg_plans": lambda s, sf, g=gen: simulate_plan_updates(
                M.stg_plans(s, sf), 0.02, seed=g, hwm=_plans_hwm(s, wh)
            ),
        }
        r = build_pipeline(spark, wh, "/root/testdata/sf0.1", source_override=ov)
        r.run()
    snap = r.read_model("users_snapshot")
    multi_open = (
        snap.filter(F.col("valid_to").isNull()).groupBy("user_id").count().filter("count>1").count()
    )
    assert multi_open == 0
    assert r.read_model("fact_transactions").count() > 400_000


def test_twenty_cdc_cycles_no_rerun_degradation(spark, tmp_path):
    """20 consecutive CDC reruns must not degrade: file counts stay
    bounded (partition swaps, not appends) and the last cycles are not
    dramatically slower than the first (no small-file creep)."""
    import time

    wh = os.path.join(tmp_path, "wh")
    build_pipeline(spark, wh, "/root/testdata/sf0.1").run()
    fact = build_pipeline(spark, wh, "/root/testdata/sf0.1").table("fact_transactions")
    files0 = fact.file_count()
    cycle_secs = []
    for gen in range(1, 21):
        ov = {
            "stg_plans": lambda s, sf, g=gen: simulate_plan_updates(
                M.stg_plans(s, sf), 0.01, seed=g, hwm=_plans_hwm(s, wh)
            ),
        }
        t0 = time.perf_counter()
        build_pipeline(spark, wh, "/root/testdata/sf0.1", source_override=ov).run()
        cycle_secs.append(time.perf_counter() - t0)
    assert fact.file_count() <= files0 + 5
    early = sum(cycle_secs[:3]) / 3
    late = sum(cycle_secs[-3:]) / 3
    assert late < early * 2.5, f"rerun degraded: {early:.1f}s -> {late:.1f}s"
