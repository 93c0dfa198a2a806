"""Benchmark of the tenzir_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_live_tail --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones, measured with no
tracing; with ``--trace 1`` they are the per-layer ones of a traced run
(call-through spans plus Spark's event log), whose spans, event log and
end-to-end figures are kept under ``.perfbench/out/`` for
``perfbench/eventlog.py`` and ``perfbench/overhead.py``.

Scratch data lives under ``.perfbench/`` in the checkout and is removed
at the end of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("cdc_live_tail", "query_mix")
CORES = 4
# session set-ups per run; setup_s is their median
SETUPS = 3
# a fixed-size heap (initial = maximum) keeps the JVM's resident size from
# depending on when G1 decides to grow the heap
DRIVER_MEM = "1g"


def _env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and size the
    Spark driver's heap for a small host (get_spark defaults to 32g)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TENZIR_SPARK_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = None


def _session(conf: dict):
    from tenzir_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=CORES, extra_conf=conf)


def _warm(spark) -> None:
    """Runtime warm-up: Python workers, an Arrow UDF, a shuffle."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def ident(x):
        return x

    (spark.range(4096, numPartitions=CORES).select(ident("id").alias("v"))
     .groupBy((F.col("v") % CORES).alias("k")).count()
     .write.format("noop").mode("overwrite").save())


def _peak_rss_mb(jvm_pid: int | None) -> float:
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _shutdown(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _e2e(res, setups: list[float], rss: float) -> dict:
    from stats import hi_percentile, median

    pct, hi = hi_percentile(res.latencies) if res.tail is None else res.tail
    out = {
        "setup_s": median(setups),
        "peak_rss_mb": rss,
        "latency_p50_s": median(res.latencies) if res.typical is None else res.typical,
        "latency_hi_s": hi,
    }
    return out, pct


def _per_layer(ctx, res, stages, jobs, owner) -> dict:
    from layers import (LAYER_METRICS, apply_counts, layer_metrics,
                        read_shuffle_bytes, spark_counts, task_skew,
                        NEAR_DUP_LEAVES)
    t0, t1 = res.window
    out = {name: 0.0 for name, _, _ in LAYER_METRICS}
    counts = apply_counts(ctx.tracer, stages, owner, t0, t1)
    out.update(layer_metrics(counts, res.units))
    if "_timed_epochs" in res.layers:
        # foreachBatch calls CdcEngine.run once per data-carrying
        # micro-batch; progress events of the last one may not be posted
        # yet when the query stops
        out["streaming.batches"] = counts["runs"]
        out["streaming.epochs_per_batch"] = (
            res.layers["_timed_epochs"] / counts["runs"] if counts["runs"] else 0.0)
    out.update({k: v / max(res.units, 1)
                for k, v in spark_counts(stages, jobs, t0, t1, CORES).items()})
    n_reads, shuffle = read_shuffle_bytes(ctx.tracer, stages, owner)
    out["lake.read.shuffle_bytes"] = shuffle / n_reads if n_reads else 0.0
    for leaf in NEAR_DUP_LEAVES:
        out[f"query.{leaf}.task_skew"] = task_skew(ctx.tracer, stages, owner,
                                                   f"query.{leaf}.run")
    canary = res.layers.get("_canary")
    if canary is not None:
        out.update(_canary(ctx, canary, stages, owner))
    out.update({k: v for k, v in res.layers.items() if not k.startswith("_")})
    unknown = set(out) - {name for name, _, _ in LAYER_METRICS}
    if unknown:
        raise KeyError(f"metrics missing from LAYER_METRICS: {sorted(unknown)}")
    return out


def _canary(ctx, canary: dict, stages, owner) -> dict:
    """The canary's counts (the event-log ones only when traced) and
    whether they drifted from the previous run in this checkout."""
    from workloads import canary_counts, check_canary

    counts = canary_counts(ctx, canary, stages, owner)
    counts["canary.drift"] = check_canary(
        counts, os.path.join(ctx.state_dir, "canary.json"))
    return counts


def _units() -> dict:
    from layers import LAYER_METRICS
    return {name: unit for name, unit, _ in LAYER_METRICS}


E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "latency_p50_s": "s",
             "latency_hi_s": "s"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    for need in ("tenzir_spark", "__spark_entry__.py", "tools/gen_sf.py",
                 "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the root of a "
                  f"tenzir_spark checkout", file=sys.stderr)
            return 2

    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(state_dir, "out", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        return _run(args, work, state_dir, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, state_dir: str, out_dir: str) -> int:
    from spans import Tracer
    from workloads import WORKLOADS, Ctx, note

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(os.path.join(out_dir, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(out_dir, "eventlog")})

    spark = None
    setups = []
    for _ in range(SETUPS):
        t = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = _session(conf)
        _warm(spark)
        setups.append(time.perf_counter() - t)
    note(f"{SETUPS} set-ups: " + " ".join(f"{x:.2f}" for x in setups))

    from pyspark import SparkContext
    jvm = getattr(SparkContext._gateway, "proc", None)
    tracer = None
    if args.trace:
        from layers import instrument
        tracer = Tracer()
        instrument(tracer)
    ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, work=work,
              tracer=tracer, state_dir=state_dir)
    try:
        res = WORKLOADS[args.workload](ctx)
        rss = _peak_rss_mb(jvm.pid if jvm is not None else None)
        app_id = spark.sparkContext.applicationId
    except Exception:
        traceback.print_exc()
        _shutdown(spark)
        return 1
    _shutdown(spark)
    note("spark stopped")
    if tracer is not None:
        tracer.uninstall()
    for msg in res.failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    e2e, pct = _e2e(res, setups, rss)
    if args.trace:
        from eventlog import read_log
        from spans import attribute_stages

        stages, jobs = read_log(os.path.join(out_dir, "eventlog"), app_id)
        owner = attribute_stages(stages, tracer.spans)
        values = _per_layer(ctx, res, stages, jobs, owner)
        values["workload.ops"] = len(res.latencies)
        values["workload.hi_pct"] = pct
        units = _units()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
        with open(os.path.join(out_dir, "spans.json"), "w", encoding="utf-8") as fh:
            json.dump({"app_id": app_id, "spans": [
                {"sid": s.sid, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "depth": s.depth,
                 "attrs": {k: v for k, v in s.attrs.items() if k != "epochs"}}
                for s in tracer.spans]}, fh)
        with open(os.path.join(out_dir, "e2e.json"), "w", encoding="utf-8") as fh:
            json.dump(e2e, fh, indent=1)
    else:
        if "_canary" in res.layers:
            _canary(ctx, res.layers["_canary"], None, None)
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(f"perfbench: {args.workload} seed={args.seed} ops={len(res.latencies)} "
          f"hi=p{pct:.0f} units={res.units}", file=sys.stderr)
    print(json.dumps({"correct": res.failed == 0 and not res.failures,
                      "attempted": max(res.attempted, 1), "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
