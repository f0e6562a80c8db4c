"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its fixture from the
seed under `.perfbench_work/` (removed at exit), starts one local Spark
driver on every available core, runs the workload's set-up and, for a
workload that has one, its untimed warm-up op, then repeats the
workload's operation until `--seconds` have passed, checking every
result against its expectation outside the timed region.

Human-readable lines (every metric with its unit and sample count, the
calibration probes and run context) come first; the last line of
standard output is one JSON object:
  --trace 0: the end-to-end metrics, measured with tracing off;
  --trace 1: the per-layer metrics, from spans around calls into each
             layer and the Spark event log.
Exit code 2, with no result, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def support_note(n: int) -> str:
    """The highest percentile with at least ten samples beyond it."""
    for p in (99.9, 99, 90):
        if n * (1 - p / 100) >= 10:
            return f"n={n}, p{p:g} supported"
    return f"n={n}, median only"


def tree_pids(root: int) -> list[int]:
    """`root` and its live descendants."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def source_id() -> str:
    """The git commit when the tree is a checkout, else a digest of the
    engine's sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "nomba_data_pipeline_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def calibrate(spark, sf_dir: str) -> dict[str, float]:
    """Box-contention probes, median of 3 each: a 2048^2 f32 GEMM and a
    lineitem scan-aggregate."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    a = rng.standard_normal((2048, 2048), dtype=np.float32)
    b = rng.standard_normal((2048, 2048), dtype=np.float32)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    def med3(fn):
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            reps.append(time.perf_counter() - t0)
        return round(sorted(reps)[1], 4)

    return {
        "gemm_2048_f32_s": med3(lambda: (a @ b).sum()),
        "scan_lineitem_agg_s": med3(lambda: li.agg(F.count(F.lit(1)), F.sum("l_extendedprice")).collect()),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and its Python workers, and
    wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = tree_pids(proc.pid)[1:] if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


@contextlib.contextmanager
def workdir():
    """A fresh work directory inside the checkout, with every temporary
    and Spark scratch location pointed into it; removed on exit."""
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_spark(work: str, app: str, trace: bool):
    from nomba_data_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # Spark 4 compresses event logs with zstd by default
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{app}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_op(wl, ctx, i: int, span: str = "op"):
    """One timed op and its check: (seconds, sub-timings, attempted,
    failure messages). An op that raises is one failed operation, and
    its seconds are None."""
    wl.before_op(ctx, i)
    try:
        with ctx.tracer.span(span) as sp:
            ctx.tracer.root = sp.sid if sp else None
            secs, subs, result = wl.op(ctx, i)
        ctx.tracer.root = None
        attempted, fails = wl.check(ctx, i, result)
        return secs, subs, attempted, fails
    except Exception as e:  # noqa: BLE001 - a failed op is counted, never dropped
        return None, {}, 1, [f"op {i} raised {type(e).__name__}: {e}"[:500]]


def engine_importable() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import nomba_data_pipeline_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return False
    # an engine installed elsewhere must not stand in for the checkout's
    if not os.path.abspath(nomba_data_pipeline_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine is not in {ROOT}", file=sys.stderr)
        return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not engine_importable():
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with workdir() as work:
        return run(args, work, WORKLOADS[args.workload]())


def run(args, work: str, wl) -> int:
    import datagen
    import layers
    from spans import Tracer
    from workloads import Ctx

    sf_dir = os.path.join(work, "sf")
    datagen.write_tables(datagen.generate(args.seed), sf_dir)
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(work, sf_dir, args.seed, tracer)
    wl.prepare(ctx)
    if args.trace:
        layers.instrument(tracer)

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_spark(work, wl.name, bool(args.trace))
    ctx.spark = spark
    tracer.bind(spark)
    try:
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        secs, attempted, failures = 0.0, 0, []
        if wl.warmup:
            # op 0 is the warm-up: checked, counted, timed as part of set-up
            secs, _subs, attempted, failures = run_op(wl, ctx, 0, span="warmup")
            setup_s += secs or 0.0
            wl.extra.clear()
        calibration = calibrate(spark, sf_dir)

        op_times, sub_times = [], {}
        start = time.perf_counter()
        while secs is not None and (not op_times or time.perf_counter() - start < args.seconds):
            secs, subs, n, fails = run_op(wl, ctx, len(op_times) + 1)
            attempted += n
            failures += fails
            if secs is not None:
                op_times.append(secs)
                for k, v in subs.items():
                    sub_times.setdefault(k, []).append(v)
        rss = peak_rss_mb(tree_pids(os.getpid()))
    finally:
        tracer.unwrap_all()
        stop_spark(spark)

    # the gated end-to-end metrics; peak RSS is reported beside them but
    # not gated, because JVM heap sizing makes it spread 9-29% run to run
    e2e = {
        "op_s": (median(op_times), "s", len(op_times)),
        "setup_s": (setup_s, "s", 1),
    }
    print(f"workload {wl.name} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    print("context " + json.dumps({
        "nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"], "source": source_id(), "seed": args.seed,
        "calibration": calibration,
    }))
    for name, (value, unit, n) in e2e.items():
        print(f"metric {name} = {value:.4f} {unit} ({support_note(n)})")
    print(f"metric peak_rss_mb = {rss:.1f} MB ({support_note(1)})")
    print(f"samples op_s ({wl.op_label}) = " + json.dumps([round(t, 4) for t in op_times]))
    for name, (vals, unit) in wl.extra.items():
        print(f"metric {name} = {median(vals):.6g} {unit} ({support_note(len(vals))})")
    for name, vals in sorted(sub_times.items()):
        print(f"metric {name}.s = {median(vals):.4f} s ({support_note(len(vals))})")
    print(f"metric ops_failed = {len(failures)}/{attempted}")
    for f in failures:
        print(f"FAILED {f}")

    if args.trace:
        per_layer = layers.per_layer(tracer, os.path.join(work, "eventlog"), wl)
        per_layer.update({
            "trace.op_s": (median(op_times), "s"),
            "trace.setup_s": (setup_s, "s"),
            "trace.peak_rss_mb": (rss, "MB"),
        })
        table = layers.metric_table()
        if any(per_layer.get(k, (0, None))[1] != u for k, (u, _b) in table.items()):
            raise RuntimeError("per-layer metrics differ from layers.metric_table()")
        for k, (v, u) in per_layer.items():
            if k not in table and v:
                print(f"metric {k} = {v:.6g} {u} (not declared)")
        metrics = {k: {"value": per_layer[k][0], "unit": u} for k, (u, _b) in table.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in e2e.items()}
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": len(failures), "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
