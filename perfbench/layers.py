"""Per-layer instrumentation of the engine for the traced run.

`instrument` wraps the public entry points of each layer (from here,
never inside the package); `per_layer` folds the recorded spans and the
Spark event log into the per-layer metrics, each averaged per timed
operation.

Layers, by the engine's module names:
  session   session.get_spark (span opened by run.py)
  catalog   catalog.load_table
  runner    PipelineRunner.run_model, one span per model
  merge     ParquetTable.overwrite / merge_upsert / merge_upsert_dedup
            and high_water_mark_stats
  scd2      the users_snapshot model (split SCD2 materialization)
  quality   QualitySpec.assert_ok
  query     each registry query of the mart mix (spans in workloads.py)
  dedup     each near-dup operator and index step (spans in workloads.py)
"""

from __future__ import annotations

import os
import sys
import threading

from spans import SPARK_COUNTERS, Tracer, read_event_log, spark_counts
from workloads import (DEDUP_MIX, GATED_DEDUP_MIX, INDEX_STEPS, MODELS, QUERY_MIX, dir_files,
                       footer_rows)

WRITERS = ("overwrite", "merge_upsert", "merge_upsert_dedup")
DEDUP_STEPS = DEDUP_MIX + INDEX_STEPS
SPARK_SCOPES = ("op", "catalog", "runner", "merge", "quality", "query", "dedup")


def instrument(tracer: Tracer) -> None:
    from nomba_data_pipeline_spark import catalog
    from nomba_data_pipeline_spark.operators.merge import ParquetTable
    from nomba_data_pipeline_spark.plans.quality import QualitySpec
    from nomba_data_pipeline_spark.plans.runner import PipelineRunner

    # load_table is imported by name into the model and query modules
    original = catalog.load_table
    for mod in list(sys.modules.values()):
        if mod and mod.__name__.startswith("nomba_data_pipeline_spark") \
                and getattr(mod, "load_table", None) is original:
            tracer.wrap(mod, "load_table", "catalog.load_table")

    # writers nest (upserts call overwrite): only the outermost call on
    # a thread diffs the table directory for bytes written / files replaced
    depth = threading.local()

    def before_write(table, *_a, **_k):
        depth.n = getattr(depth, "n", 0) + 1
        return dir_files(table.path) if depth.n == 1 else None

    def after_write(span, before, _out, table, *_a, **_k):
        depth.n -= 1
        if before is None:
            return
        after = dir_files(table.path)
        span.counters["bytes_written"] = sum(
            size for f, (ino, size) in after.items() if before.get(f, (None,))[0] != ino)
        span.counters["files_rewritten"] = sum(
            1 for f, (ino, _size) in before.items() if after.get(f, (None,))[0] != ino)

    for w in WRITERS:
        tracer.wrap(ParquetTable, w, f"merge.{w}", before=before_write, after=after_write)
    tracer.wrap(ParquetTable, "high_water_mark_stats", "merge.hwm_stats")
    tracer.wrap(QualitySpec, "assert_ok", "quality.assert_ok")

    def before_model(runner, name):
        if runner.models[name].materialization == "scd2":
            return footer_rows(os.path.join(runner.warehouse_dir, name + "__closed"))
        return None

    def after_model(span, closed_before, _out, runner, name):
        spec = runner.models[name]
        span.counters["incremental"] = float(spec.materialization == "incremental")
        if closed_before is not None:
            span.counters["versions_closed"] = (
                footer_rows(os.path.join(runner.warehouse_dir, name + "__closed")) - closed_before)

    tracer.wrap(PipelineRunner, "run_model", lambda _runner, name: f"runner.model.{name}",
                before=before_model, after=after_model)


def per_layer(tracer: Tracer, eventlog_dir: str, workload) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    ops = [s.sid for s in spans if s.name == "op"]
    n = max(1, len(ops))
    under = set().union(*(tracer.descendants(o) for o in ops)) if ops else set()
    timed = [s for s in spans if s.sid in under]
    children: dict[int, list] = {}
    for s in timed:
        children.setdefault(s.parent, []).append(s)

    def named(name):
        return [s for s in timed if s.name == name]

    def wall(name):
        return sum(s.wall for s in named(name)) / n

    def nested_in_writer(s):
        p = s.parent
        while p is not None:
            if spans[p].name.startswith("merge.") and spans[p].name != "merge.hwm_stats":
                return True
            p = spans[p].parent
        return False

    writers = [s for s in timed if s.name in {f"merge.{w}" for w in WRITERS}
               and not nested_in_writer(s)]
    models = [s for s in timed if s.name.startswith("runner.model.")]
    out: dict[str, tuple[float, str]] = {}
    session = [s for s in spans if s.name == "session.get_spark"]
    out["session.get_spark_s"] = (session[0].wall if session else 0.0, "s")

    loads, gates = named("catalog.load_table"), named("quality.assert_ok")
    scopes = {
        "op": ops,
        "catalog": [s.sid for s in loads],
        "runner": [s.sid for s in models],
        "merge": [s.sid for s in writers + named("merge.hwm_stats")],
        "quality": [s.sid for s in gates],
        "query": [s.sid for s in timed if s.name.startswith("query.")],
        "dedup": [s.sid for s in timed if s.name.startswith("dedup.")],
    }
    jobs = read_event_log(eventlog_dir)
    counts = {scope: spark_counts(tracer, jobs, sids) for scope, sids in scopes.items()}

    out["catalog.load_table.calls"] = (len(loads) / n, "count")
    out["catalog.load_table.s"] = (wall("catalog.load_table"), "s")
    out["catalog.load_table.jobs"] = (counts["catalog"]["jobs"] / n, "count")

    for m in MODELS:
        out[f"runner.model.{m}.s"] = (wall(f"runner.model.{m}"), "s")
    self_s = sum(
        s.wall - sum(c.wall for c in children.get(s.sid, ())
                     if c.name.startswith(("merge.", "quality.")))
        for s in models)
    out["runner.self_s"] = (self_s / n, "s")

    def has_writer(s):
        return any(c.name.startswith("merge.") and c.name != "merge.hwm_stats"
                   for c in children.get(s.sid, ()))

    out["runner.empty_delta_skips"] = (
        sum(1 for s in models if s.counters.get("incremental") and not has_writer(s)) / n, "count")

    for w in WRITERS:
        out[f"merge.{w}.s"] = (wall(f"merge.{w}"), "s")
    out["merge.bytes_written"] = (sum(s.counters.get("bytes_written", 0) for s in writers) / n, "B")
    out["merge.files_rewritten"] = (
        sum(s.counters.get("files_rewritten", 0) for s in writers) / n, "count")
    out["merge.hwm_stats.calls"] = (len(named("merge.hwm_stats")) / n, "count")
    out["merge.hwm_stats.s"] = (wall("merge.hwm_stats"), "s")

    out["scd2.s"] = (wall("runner.model.users_snapshot"), "s")
    out["scd2.versions_closed"] = (
        sum(s.counters.get("versions_closed", 0) for s in models) / n, "count")

    out["quality.assert_ok.s"] = (wall("quality.assert_ok"), "s")
    out["quality.assert_ok.jobs"] = (counts["quality"]["jobs"] / n, "count")

    for q in QUERY_MIX:
        out[f"query.{q}.s"] = (wall(f"query.{q}"), "s")
    for d in DEDUP_STEPS:
        out[f"dedup.{d}.s"] = (wall(f"dedup.{d}"), "s")
    vpc = workload.extra.get("verified_per_candidate", ([], ""))[0]
    out["dedup.verified_per_candidate"] = (sum(vpc) / len(vpc) if vpc else 0.0, "ratio")

    for scope in SPARK_SCOPES:
        for c in SPARK_COUNTERS:
            value = counts[scope][c] if c == "max_task_ms" else counts[scope][c] / n
            out[f"spark.{scope}.{c}"] = (value, SPARK_UNITS[c])
    return out


SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "executor_run_ms": "ms",
    "max_task_ms": "ms", "shuffle_write_bytes": "B", "spill_bytes": "B",
    "gc_ms": "ms", "driver_only_s": "s",
}
# counts of useful outcomes, where more is better
HIGHER_IS_BETTER = {"scd2.versions_closed", "dedup.verified_per_candidate"}


def metric_table() -> dict[str, tuple[str, str]]:
    """The declared per-layer metrics, in order: name -> (unit, better).
    BENCHMARK.json's per_layer list mirrors it. A traced run reports
    these in its result and prints the rest of `per_layer`'s nonzero
    metrics (dedup steps that only dedup_corpus runs, empty-delta skips)
    as text."""
    names = ["session.get_spark_s", "catalog.load_table.calls", "catalog.load_table.s",
             "catalog.load_table.jobs"]
    names += [f"runner.model.{m}.s" for m in MODELS]
    # runner.empty_delta_skips is left out: every cdc_delta cycle changes
    # all three sources, so no declared run has an empty delta to skip
    names += ["runner.self_s"]
    names += [f"merge.{w}.s" for w in WRITERS]
    names += ["merge.bytes_written", "merge.files_rewritten", "merge.hwm_stats.calls",
              "merge.hwm_stats.s", "scd2.s", "scd2.versions_closed",
              "quality.assert_ok.s", "quality.assert_ok.jobs"]
    names += [f"query.{q}.s" for q in QUERY_MIX]
    # only the dedup steps a declared workload (mart_dedup) runs
    names += [f"dedup.{d}.s" for d in GATED_DEDUP_MIX + INDEX_STEPS]
    names.append("dedup.verified_per_candidate")
    names += [f"spark.{scope}.{c}" for scope in SPARK_SCOPES for c in SPARK_COUNTERS]
    names += ["trace.op_s", "trace.setup_s", "trace.peak_rss_mb"]

    def unit(name):
        last = name.rsplit(".", 1)[1]
        if name.startswith("spark."):
            return SPARK_UNITS[last]
        if name == "trace.peak_rss_mb":
            return "MB"
        if name == "merge.bytes_written":
            return "B"
        if name == "dedup.verified_per_candidate":
            return "ratio"
        return "s" if last in ("s", "self_s", "get_spark_s", "op_s", "setup_s") else "count"

    return {n: (unit(n), "higher" if n in HIGHER_IS_BETTER else "lower") for n in names}
