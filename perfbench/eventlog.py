"""Spark event log -> stage table -> per-span table.

Spark writes the log when ``spark.eventLog.enabled`` is set, also with
the UI off; with ``spark.eventLog.compress=false`` it is one JSON event
per line in ``eventlog_v2_<app>/events_*``.

    python3 perfbench/eventlog.py .perfbench/out/<workload>-seed<n>

prints the per-span table of a traced run (its ``spans.json`` and event
log directory).
"""

from __future__ import annotations

import glob
import json
import os
import sys

# SQL metric the Arrow/pandas UDF operators report per stage
PY_RUN = "time to run Python workers"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_log(log_dir: str, app_id: str | None = None) -> tuple[list[dict], list[float]]:
    """(stages, job submission times) of one application's event log.
    Stage times are in seconds since the epoch, like the spans."""
    pattern = f"eventlog_v2_{app_id}" if app_id else "eventlog_v2_*"
    dirs = sorted(glob.glob(os.path.join(log_dir, pattern)))
    if not dirs:
        raise FileNotFoundError(f"no event log under {log_dir}")
    stages: list[dict] = []
    jobs: list[float] = []
    task_runs: dict[int, list[float]] = {}
    for path in sorted(glob.glob(os.path.join(dirs[-1], "events_*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    task_runs.setdefault(ev["Stage ID"], []).append(
                        m.get("Executor Run Time", 0) / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    stages.append(_stage(ev["Stage Info"]))
    for st in stages:
        st["task_run_s"] = task_runs.get(st["id"], [])
    return stages, jobs


def _stage(si: dict) -> dict:
    acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}

    def im(name: str) -> float:
        return _num(acc.get("internal.metrics." + name))

    return {
        "id": si["Stage ID"],
        "name": si.get("Stage Name", ""),
        "submit": si.get("Submission Time", 0) / 1000.0,
        "complete": si.get("Completion Time", 0) / 1000.0,
        "tasks": si.get("Number of Tasks", 0),
        "run_s": im("executorRunTime") / 1000.0,
        "cpu_s": im("executorCpuTime") / 1e9,
        "gc_s": im("jvmGCTime") / 1000.0,
        "py_run_s": _num(acc.get(PY_RUN)) / 1000.0,
        "input_records": im("input.recordsRead"),
        "input_bytes": im("input.bytesRead"),
        "shuffle_write_bytes": im("shuffle.write.bytesWritten"),
        "shuffle_write_records": im("shuffle.write.recordsWritten"),
        "shuffle_read_records": im("shuffle.read.recordsRead"),
        "output_bytes": im("output.bytesWritten"),
        "output_records": im("output.recordsWritten"),
        "out_rows": _num(acc.get("number of output rows")),
    }


def stage_kind(st: dict) -> str:
    """write: produces files; scan: decodes input files; else shuffle."""
    if st["output_bytes"] > 0:
        return "write"
    if st["input_records"] > 0:
        return "scan"
    return "shuffle"


COLUMNS = ("stages", "wall_s", "run_s", "cpu_s", "py_run_s",
           "shuffle_write_bytes", "input_records", "output_records")


def span_table(stages: list[dict], owner: dict[int, object]) -> dict[str, dict]:
    """Per span name: stage count, stage wall (submission to completion),
    executor run, CPU, Python-worker time, shuffle bytes, records read and
    written. ``owner`` maps stage id -> span (or None: outside any span)."""
    out: dict[str, dict] = {}
    for st in stages:
        sp = owner.get(st["id"])
        row = out.setdefault(sp.name if sp is not None else "(none)",
                             dict.fromkeys(COLUMNS, 0.0))
        row["stages"] += 1
        row["wall_s"] += st["complete"] - st["submit"]
        for c in COLUMNS[2:]:
            row[c] += st[c]
    return out


def format_table(table: dict[str, dict]) -> str:
    head = f"{'span':<28}" + "".join(f"{c:>21}" for c in COLUMNS)
    lines = [head]
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["run_s"]):
        lines.append(f"{name:<28}" + "".join(f"{row[c]:>21.3f}" for c in COLUMNS))
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    from spans import Span, attribute_stages

    out_dir = argv[0]
    with open(os.path.join(out_dir, "spans.json"), encoding="utf-8") as fh:
        dump = json.load(fh)
    spans = [Span(**{k: s[k] for k in ("sid", "name", "start", "parent",
                                       "depth", "end")}) for s in dump["spans"]]
    stages, _ = read_log(os.path.join(out_dir, "eventlog"), dump.get("app_id"))
    print(format_table(span_table(stages, attribute_stages(stages, spans))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
