"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Runs every workload for one operation on a fixture a tenth of the
benchmark's size (the sf0.001 shape), with every check on, and expects
no failure. Then checks that the checks catch corruption: a query result
with one row dropped, and a change cycle whose delta is empty, must each
count as one failed operation. Last, checks that BENCHMARK.json's
per-layer list matches the metrics a traced run reports. Exits 1 on any
unexpected outcome.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import run

SEED = 3


def main() -> int:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    if not run.engine_importable():
        return 2
    import datagen
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    problems = []
    with run.workdir() as work:
        sf_dir = os.path.join(work, "sf")
        datagen.write_tables(datagen.generate(SEED, scale=0.1), sf_dir)
        spark = run.start_spark(work, "smoke", trace=False)
        try:
            for name, workload in WORKLOADS.items():
                wl = workload()
                ctx = Ctx(work, sf_dir, SEED, Tracer(False))
                ctx.spark = spark
                wl.prepare(ctx)
                wl.setup(ctx)
                # op 1: the first op a run of a declared workload times
                secs, _subs, attempted, fails = run.run_op(wl, ctx, 1)
                took = "raised" if secs is None else f"{secs:.2f} s"
                print(f"{name}: one op ({took}), {len(fails)}/{attempted} failed")
                problems += [f"{name}: {f}" for f in fails]
                if name == "mart_queries":
                    problems += corrupted_query_caught(wl, ctx)
                if name == "cdc_delta":
                    problems += empty_cycle_caught(wl, ctx)
        finally:
            run.stop_spark(spark)
    problems += per_layer_list_matches()
    for p in problems:
        print(f"SMOKE FAILURE {p}")
    print("smoke ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


def per_layer_list_matches() -> list[str]:
    """BENCHMARK.json's per_layer list must mirror layers.metric_table()."""
    import layers

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        declared = [(m["name"], m["unit"], m["better"]) for m in json.load(fh)["per_layer"]]
    if declared != [(k, u, b) for k, (u, b) in layers.metric_table().items()]:
        return ["BENCHMARK.json per_layer differs from layers.metric_table()"]
    return []


def corrupted_query_caught(wl, ctx) -> list[str]:
    _secs, _subs, results = wl.op(ctx, 2)
    q = next(q for q, df in results.items() if len(df) > 1)
    results[q] = results[q].iloc[1:]
    attempted, fails = wl.check(ctx, 2, results)
    print(f"mart_queries with a row dropped from {q}: {len(fails)}/{attempted} failed")
    if len(fails) != 1 or not fails[0].startswith(q):
        return [f"dropping a row of {q} gave failures {fails}"]
    return []


def empty_cycle_caught(wl, ctx) -> list[str]:
    wl.volume = dict.fromkeys(wl.volume, 0)
    _secs, _subs, attempted, fails = run.run_op(wl, ctx, 2)
    print(f"cdc_delta with an empty delta: {len(fails)}/{attempted} failed")
    if len(fails) != 1 or "nothing merged" not in fails[0]:
        return [f"an empty cycle gave failures {fails}"]
    return []


if __name__ == "__main__":
    sys.exit(main())
