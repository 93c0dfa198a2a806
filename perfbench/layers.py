"""Per-layer metrics of a traced run, and the end-to-end metric and
workload each one should move (written down before measuring, so a
claimed gain can be checked against the layer it names).

Every metric is reported on every workload; a layer a workload does not
run reports 0. Values are per unit of work: per measured window on
``cdc_live_tail`` and per pass on ``query_mix``. The ``canary.*``
figures come from the fixed-seed, backlog-shaped apply that warms up
``cdc_live_tail``: four epochs coalesced into one batch, the per-row
regime of a catch-up.
"""

from __future__ import annotations

import statistics

from eventlog import stage_kind
from spans import ancestors
from stats import union_length

# leaves of bench.HEADLINE that run from any checkout: decapsulate and
# netflow read fixtures through absolute paths of one machine
QUERY_LEAVES = ("where_select", "summarize", "summarize_resolution", "sort",
                "top", "tpch_q6", "ngram_jaccard", "tql_pipeline")
NEAR_DUP_LEAVES = ("ngram_jaccard",)

FRESH = "latency_p50_s/latency_hi_s on cdc_live_tail"
ROWS = FRESH + ", and canary.apply_s"
WRITE_FIRST = FRESH + " first, then canary.apply_s"
READS = "workload.read_s on cdc_live_tail (resolved read over many deltas)"
COMPACTS = "workload.compact_s on cdc_live_tail"
QUERY = "latency_p50_s/latency_hi_s on query_mix, and workload.pass_s"
EVERY = "every end-to-end metric of the workload"
CANARY = "none: must repeat exactly for the fixed canary seed"

# (name, unit, what it should move)
LAYER_METRICS: list[tuple[str, str, str]] = [
    ("cdc.engine.discover_s", "s", FRESH),
    ("cdc.engine.alter_s", "s", FRESH),
    ("cdc.engine.batches", "count", ROWS),
    ("cdc.engine.epochs_per_batch", "ratio", ROWS),
    ("lake.prepare.self_s", "s", ROWS),
    ("lake.prepare.rows_in", "count", ROWS),
    ("lake.prepare.pass1_keys", "count", ROWS),
    ("lake.prepare.pass2_rows_decoded", "count", ROWS),
    ("lake.prepare.prefilter_keep_ratio", "ratio", ROWS),
    ("lake.prepare.survivors", "count", ROWS),
    ("lake.prepare.dedup_ratio", "ratio", ROWS),
    ("lake.write.self_s", "s", WRITE_FIRST),
    ("lake.write.tasks", "count", WRITE_FIRST),
    ("lake.write.files", "count", WRITE_FIRST),
    ("lake.write.bytes", "bytes", WRITE_FIRST),
    ("lake.write.bytes_per_row", "bytes", WRITE_FIRST),
    ("lake.write.footer_stats_s", "s", WRITE_FIRST),
    ("lake.write.stage_run_s", "s", WRITE_FIRST),
    ("lake.write.stage_cpu_s", "s", WRITE_FIRST),
    ("cdc.extract.python_worker_s", "s", ROWS),
    ("cdc.extract.rows", "count", ROWS),
    ("lake.commit.self_s", "s", FRESH + "; grows with files"),
    ("lake.commit.retries", "count", FRESH),
    ("lake.commit.snapshot_bytes", "bytes", FRESH + "; grows with files"),
    ("lake.commit.files_live", "count", FRESH + "; grows with files"),
    ("lake.read.files", "count", READS),
    ("lake.read.rows_in", "count", READS),
    ("lake.read.rows_out", "count", READS),
    ("lake.read.shuffle_bytes", "bytes", READS),
    ("lake.compact.retag_buckets", "count", COMPACTS),
    ("lake.compact.rewrite_buckets", "count", COMPACTS),
    ("lake.compact.files_in", "count", COMPACTS),
    ("lake.compact.files_out", "count", COMPACTS),
    ("lake.compact.bytes_rewritten", "bytes", COMPACTS),
    ("streaming.trigger_s", "s", FRESH),
    ("streaming.add_batch_s", "s", FRESH),
    ("streaming.list_s", "s", FRESH),
    ("streaming.batches", "count", FRESH),
    ("streaming.epochs_per_batch", "ratio", FRESH),
    ("streaming.gen_late_s", "s", "run validity on cdc_live_tail (publisher lateness)"),
    ("streaming.backlog_epochs", "count", FRESH + " (0 = sustainable)"),
    *[(f"query.{leaf}.{m}", "s", QUERY)
      for leaf in QUERY_LEAVES for m in ("build_s", "run_s")],
    *[(f"query.{leaf}.task_skew", "ratio", QUERY) for leaf in NEAR_DUP_LEAVES],
    ("spark.jobs", "count", EVERY),
    ("spark.stages", "count", EVERY),
    ("spark.tasks", "count", EVERY),
    ("spark.executor_run_s", "s", EVERY),
    ("spark.executor_cpu_s", "s", EVERY),
    ("spark.gc_s", "s", EVERY),
    ("spark.shuffle_write_bytes", "bytes", EVERY),
    ("spark.idle_core_s", "s", EVERY + " (driver-serial share)"),
    ("workload.ops", "count", "sample count behind latency_p50_s/latency_hi_s"),
    ("workload.hi_pct", "%", "percentile reported as latency_hi_s"),
    ("workload.events_per_s", "1/s", FRESH + " (committed change events per second of window)"),
    ("workload.read_s", "s", READS),
    ("workload.compact_s", "s", COMPACTS),
    ("workload.pass_s", "s", QUERY + " (median pass, construction + run of every leaf)"),
    ("workload.geomean_s", "s", QUERY + " (geometric mean of per-leaf medians, steal included)"),
    ("workload.warmup_s", "s", "none: cache fill before the measured window"),
    ("workload.steal_frac", "ratio", "run validity: share of the VM's wanted CPU the host took in the window"),
    ("workload.span_coverage", "ratio", "trace validity: share of each apply wall in named spans"),
    ("canary.apply_s", "s", "none: wall of the backlog-shaped canary apply (one sample)"),
    ("canary.pass1_keys", "count", CANARY),
    ("canary.survivors", "count", CANARY),
    ("canary.pass2_rows_decoded", "count", CANARY),
    ("canary.write_files", "count", CANARY),
    ("canary.batches", "count", CANARY),
    ("canary.compact_files_out", "count", CANARY),
    ("canary.drift", "count", "none: 1 when a canary count differs from the last run in this checkout"),
]

RUN = "CdcEngine.run"
PREP = "LakeTable._prepare_mor"
WRITE = "LakeTable._write_bucketed"
COMMIT = "LakeTable.merge_commit_batch"
ALTER = "LakeTable.alter"
FSTAT = "lake.table._footer_stats"
PUT = "lake.table.write_snapshot_atomic"
READ = "LakeTable.read"
BENCH_READ = "bench.read"


def _note_write(sp, args, kwargs, out) -> None:
    sp.attrs["files"] = len(out)
    sp.attrs["rows"] = sum(f.rows for f in out)


def _note_commit(sp, args, kwargs, out) -> None:
    sp.attrs["epochs"] = list(args[1])


def instrument(tracer) -> None:
    """Call-through spans around the engine's entry points."""
    from tenzir_spark.cdc import engine
    from tenzir_spark.lake import table as lt

    tracer.wrap(engine.CdcEngine, "run", RUN)
    tracer.wrap(engine, "_epoch_rows_from_footers",
                "cdc.engine._epoch_rows_from_footers")
    tracer.wrap(lt.LakeTable, "alter", ALTER)
    # _prepare_mor runs on CdcEngine.run's prepare pool and
    # _footer_stats on _write_bucketed's footer pool
    tracer.wrap(lt.LakeTable, "_prepare_mor", PREP, callers=(RUN,))
    tracer.wrap(lt.LakeTable, "_write_bucketed", WRITE, note=_note_write)
    tracer.wrap(lt.LakeTable, "merge_commit_batch", COMMIT, note=_note_commit)
    tracer.wrap(lt.LakeTable, "_write_checkpoints", "LakeTable._write_checkpoints")
    tracer.wrap(lt.LakeTable, "read", READ)
    tracer.wrap(lt.LakeTable, "compact", "LakeTable.compact")
    tracer.wrap(lt, "_footer_stats", FSTAT, callers=(WRITE,))
    tracer.wrap(lt, "write_snapshot_atomic", PUT)


def _safe(a: float, b: float) -> float:
    return a / b if b else 0.0


def _largest_scans(stages, owner) -> float:
    best: dict[int, float] = {}
    for st in stages:
        if stage_kind(st) == "scan":
            sid = owner[st["id"]].sid
            best[sid] = max(best.get(sid, 0.0), st["input_records"])
    return sum(best.values())


def _first_phase(tracer, run) -> float:
    return min((k.start for k in tracer.children(run) if k.name in (ALTER, PREP)),
               default=run.end)


def apply_counts(tracer, stages, owner, t0: float, t1: float) -> dict:
    """Layer figures of the CDC apply path for spans started in [t0, t1],
    as totals (not yet divided per unit)."""
    by_id = {s.sid: s for s in tracer.spans}
    spans = [s for s in tracer.closed() if t0 <= s.start <= t1]

    def under(sp, name):
        return any(a.name == name for a in ancestors(by_id.get(sp.parent), by_id))

    runs = [s for s in spans if s.name == RUN]
    preps = [s for s in spans if s.name == PREP]
    writes = [s for s in spans if s.name == WRITE and under(s, PREP)]
    prep_ids = {s.sid for s in preps}
    write_ids = {s.sid for s in writes}
    st_prep = [st for st in stages if owner.get(st["id"]) is not None
               and owner[st["id"]].sid in prep_ids]
    st_write = [st for st in stages if owner.get(st["id"]) is not None
                and owner[st["id"]].sid in write_ids]
    w_stages = [st for st in st_write if stage_kind(st) == "write"]
    t: dict[str, float] = {}
    # discovery is what run() does before its first alter or prepare
    t["discover_s"] = sum(_first_phase(tracer, r) - r.start for r in runs)
    t["alter_s"] = sum(s.duration for s in spans if s.name == ALTER)
    t["batches"] = len(preps)
    t["runs"] = len(runs)
    t["epochs"] = sum(len(s.attrs.get("epochs", ())) for s in spans if s.name == COMMIT)
    t["prep_self_s"] = sum(tracer.self_time(s) for s in preps)
    # the largest scan under a span is its pass over the change log; the
    # smaller ones re-read the checkpointed pass-1 keys
    t["rows_in"] = _largest_scans(st_prep, owner)
    t["pass1_keys"] = sum(st["out_rows"] for st in st_prep
                          if st["name"].startswith("localCheckpoint"))
    t["decoded"] = _largest_scans(st_write, owner)
    t["survivors"] = sum(s.attrs.get("rows", 0) for s in writes)
    t["write_self_s"] = sum(tracer.self_time(s) for s in writes)
    t["write_tasks"] = sum(st["tasks"] for st in w_stages)
    t["write_files"] = sum(s.attrs.get("files", 0) for s in writes)
    t["write_bytes"] = sum(st["output_bytes"] for st in w_stages)
    t["write_rows"] = sum(st["output_records"] for st in w_stages)
    t["footer_s"] = sum(union_length([(c.start, c.end) for c in tracer.children(w)
                                      if c.name == FSTAT], w.start, w.end)
                        for w in writes)
    t["write_run_s"] = sum(st["run_s"] for st in w_stages)
    t["write_cpu_s"] = sum(st["cpu_s"] for st in w_stages)
    t["py_run_s"] = sum(st["py_run_s"] for st in w_stages)
    t["commit_s"] = sum(s.duration for s in spans if s.name == COMMIT)
    t["retries"] = sum(1 for s in spans if s.name == PUT and s.attrs.get("error"))
    cov = []
    for r in runs:
        if r.duration <= 0:
            continue
        first = _first_phase(tracer, r)
        covered = (first - r.start) + union_length(
            [(k.start, k.end) for k in tracer.children(r)], first, r.end)
        cov.append(covered / r.duration)
    t["coverage"] = min(cov) if cov else 0.0
    return t


def spark_counts(stages, jobs, t0: float, t1: float, cores: int) -> dict:
    sts = [st for st in stages if t0 <= st["submit"] <= t1]
    run = sum(st["run_s"] for st in sts)
    return {
        "spark.jobs": sum(1 for j in jobs if t0 <= j <= t1),
        "spark.stages": len(sts),
        "spark.tasks": sum(st["tasks"] for st in sts),
        "spark.executor_run_s": run,
        "spark.executor_cpu_s": sum(st["cpu_s"] for st in sts),
        "spark.gc_s": sum(st["gc_s"] for st in sts),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in sts),
        "spark.idle_core_s": cores * (t1 - t0) - run,
    }


def read_shuffle_bytes(tracer, stages, owner) -> tuple[int, float]:
    """(number of benchmark reads, shuffle bytes they wrote in total)."""
    reads = {s.sid for s in tracer.closed(BENCH_READ)}
    by_id = {s.sid: s for s in tracer.spans}
    total = 0.0
    for st in stages:
        sp = owner.get(st["id"])
        if sp is not None and any(a.sid in reads for a in ancestors(sp, by_id)):
            total += st["shuffle_write_bytes"]
    return len(reads), total


def task_skew(tracer, stages, owner, span_name: str) -> float:
    """Median over the named spans of (max / median task run time) of the
    stages each one owns."""
    ratios = []
    for sp in tracer.closed(span_name):
        runs = [r for st in stages if owner.get(st["id"]) is sp
                for r in st["task_run_s"]]
        med = statistics.median(runs) if runs else 0.0
        if med > 0:
            ratios.append(max(runs) / med)
    return statistics.median(ratios) if ratios else 0.0


def layer_metrics(t: dict, units: float) -> dict:
    """The cdc.* / lake.prepare / lake.write / lake.commit metrics from
    apply_counts totals, per unit of work."""
    u = max(units, 1)
    return {
        "cdc.engine.discover_s": t["discover_s"] / u,
        "cdc.engine.alter_s": t["alter_s"] / u,
        "cdc.engine.batches": t["batches"] / u,
        "cdc.engine.epochs_per_batch": _safe(t["epochs"], t["batches"]),
        "lake.prepare.self_s": t["prep_self_s"] / u,
        "lake.prepare.rows_in": t["rows_in"] / u,
        "lake.prepare.pass1_keys": t["pass1_keys"] / u,
        "lake.prepare.pass2_rows_decoded": t["decoded"] / u,
        "lake.prepare.prefilter_keep_ratio": _safe(t["decoded"], t["rows_in"]),
        "lake.prepare.survivors": t["survivors"] / u,
        "lake.prepare.dedup_ratio": _safe(t["survivors"], t["rows_in"]),
        "lake.write.self_s": t["write_self_s"] / u,
        "lake.write.tasks": t["write_tasks"] / u,
        "lake.write.files": t["write_files"] / u,
        "lake.write.bytes": t["write_bytes"] / u,
        "lake.write.bytes_per_row": _safe(t["write_bytes"], t["write_rows"]),
        "lake.write.footer_stats_s": t["footer_s"] / u,
        "lake.write.stage_run_s": t["write_run_s"] / u,
        "lake.write.stage_cpu_s": t["write_cpu_s"] / u,
        "cdc.extract.python_worker_s": t["py_run_s"] / u,
        "cdc.extract.rows": t["write_rows"] / u,
        "lake.commit.self_s": t["commit_s"] / u,
        "lake.commit.retries": t["retries"] / u,
        "workload.span_coverage": t["coverage"],
    }
