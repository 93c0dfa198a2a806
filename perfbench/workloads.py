"""The workloads. Each takes a Ctx, generates its inputs from the seed
off the clock, warms up, measures for ``ctx.seconds`` and checks its
outputs off the clock. It returns a Result; run.py turns that into
metrics.

Sizes are set so that one run, Spark start-up included, stays under a
minute on 4 cores: the benchmark repeats each workload dozens of times,
so a run is a sample, not a soak.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import os
import random
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

from layers import QUERY_LEAVES, apply_counts
from stats import geomean, median, unstolen

# change-log key space of bench.py: Zipf domains x pages, 10% deletes,
# a WAL-ordered lsn
GEN = dict(n_domains=200, pages_per_domain=500, first_op_insert=False)
# the canary is a backlog-shaped apply (4 epochs coalesced into one
# batch, an add-column every 3rd epoch as in bench.py) with one fixed
# seed: its counts must repeat exactly from run to run; it also warms
# the apply path up
CANARY_SCHEMA_EVERY = 3
CANARY_SEED = 42
CANARY_EVENTS = 10_000
CANARY_EPOCHS = 4
# live tail: the trigger fires on a fixed grid (Spark aligns processing-
# time triggers to multiples of the interval) and the publisher puts
# exactly one coalesced batch's worth of epochs (max_coalesce, 8) into
# each cycle, so every micro-batch carries the same work and freshness is
# the wait for the trigger plus the micro-batch's duration. A
# micro-batch of 8 epochs takes about 2.5 s on 4 cores, so the offered
# 2.5k events/s is about 60% of what the tail can apply.
TAIL_BUCKETS = 4
TAIL_EPOCH_EVENTS = 1_250
TAIL_TRIGGER_S = 4.0
TAIL_PER_TRIGGER = 8
TAIL_INTERVAL_S = TAIL_TRIGGER_S / TAIL_PER_TRIGGER
TAIL_WARM_EPOCHS = 1
TAIL_DRAIN_S = 60.0
# one add-column every 20 epochs (not bench.py's every 3rd): each alter
# gives the following batches a new schema view, hence new plans to
# compile, and at 2 epochs a second that storm would be the whole test
TAIL_SCHEMA_EVERY = 20
QUERY_SF = 0.03
QUERY_SEED = 42
QUERY_WARM_PASSES = 5


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object | None
    state_dir: str


@dataclass
class Result:
    latencies: list[float]
    work: list[float]  # query_mix: pass times
    units: float  # query_mix: passes, the last one cut short in part
    window: tuple[float, float]
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    warm: tuple[float, float] | None = None
    # set when the median and the tail percentile of ``latencies`` are
    # not the workload's typical and tail latency; the tail as
    # (percentile, value)
    typical: float | None = None
    tail: tuple[float, float] | None = None


T_START = time.perf_counter()


def note(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench: +{time.perf_counter() - T_START:.1f}s {msg}", file=sys.stderr)


def cpu_jiffies() -> tuple[int, int]:
    """The VM's CPU time so far, in jiffies summed over its CPUs:
    (in use: user, nice, system, irq, softirq; stolen by the host)."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def _span(ctx: Ctx, name: str):
    return ctx.tracer.span(name) if ctx.tracer else contextlib.nullcontext()


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _gen_log(spark, n: int, per_epoch: int, seed: int, path: str,
             schema_every: int) -> None:
    from tenzir_spark.cdc import gen_change_log

    (gen_change_log(spark, n, events_per_epoch=per_epoch, seed=seed,
                    schema_change_every=schema_every, **GEN)
     .write.mode("overwrite").partitionBy("epoch").parquet(path))


def _new_table(spark, root: str, buckets: int):
    from tenzir_spark.cdc import pages_schema
    from tenzir_spark.lake import LakeTable

    return LakeTable.create(spark, root, pages_schema(), "url",
                            num_buckets=buckets, write_mode="mor")


def _table_facts(table) -> dict:
    from tenzir_spark.lake.format import META_DIR

    snap = table.refresh().snapshot
    meta = os.path.join(table.root, META_DIR, f"v{snap.version:08d}.json")
    return {"lake.commit.files_live": len(snap.files),
            "lake.commit.snapshot_bytes": os.path.getsize(meta),
            "lake.read.files": len(snap.files),
            "lake.read.rows_in": sum(f.rows for f in snap.files)}


def _compact(ctx: Ctx, table) -> tuple[float, dict]:
    """Time LakeTable.compact() and describe what it did from the
    snapshots before and after."""
    before = {f.path: f for f in table.refresh().snapshot.files}
    with _span(ctx, "bench.compact"):
        t0 = time.perf_counter()
        table.compact()
        dt = time.perf_counter() - t0
    after = table.refresh().snapshot.files
    new = [f for f in after if f.path not in before]
    retag = {f.bucket for f in after if f.path in before and before[f.path].kind != f.kind}
    return dt, {
        "lake.compact.retag_buckets": len(retag),
        "lake.compact.rewrite_buckets": len({f.bucket for f in new}),
        "lake.compact.files_in": len(before),
        "lake.compact.files_out": len(after),
        "lake.compact.bytes_rewritten": sum(
            os.path.getsize(os.path.join(table.root, f.path)) for f in new),
    }


def _check(res: Result, name: str, fn) -> None:
    """Run one correctness check; a mismatch or an exception fails it."""
    res.attempted += 1
    try:
        msgs = fn()
    except Exception as exc:  # a crashing check is a failed check
        msgs = [f"{name}: {type(exc).__name__}: {exc}"]
    if msgs:
        res.failed += 1
        res.failures.extend(msgs)
    note(f"check {name} done")


# ----------------------------------------------------------------- canary


def _canary(ctx: Ctx) -> dict:
    """A fixed-seed apply plus compaction; its counts must not drift."""
    from tenzir_spark.cdc import CdcEngine

    spark = ctx.spark
    log_dir = os.path.join(ctx.work, "canary_log")
    _gen_log(spark, CANARY_EVENTS, CANARY_EVENTS // CANARY_EPOCHS, CANARY_SEED, log_dir,
             CANARY_SCHEMA_EVERY)
    table = _new_table(spark, os.path.join(ctx.work, "canary"), TAIL_BUCKETS)
    t0 = time.time()
    CdcEngine(spark, table).run(spark.read.parquet(log_dir))
    t1 = time.time()
    snap = table.refresh().snapshot
    counts = {
        "canary.apply_s": t1 - t0,
        "canary.survivors": sum(f.rows for f in snap.files),
        "canary.write_files": len(snap.files),
        "canary.batches": sum(1 for e in snap.ledger.values() if "coalesced_into" not in e),
    }
    table.compact()
    counts["canary.compact_files_out"] = len(table.refresh().snapshot.files)
    counts["_window"] = (t0, t1)
    return counts


COUNTS = ("canary.pass1_keys", "canary.survivors", "canary.pass2_rows_decoded",
          "canary.write_files", "canary.batches", "canary.compact_files_out")


def check_canary(counts: dict, path: str) -> int:
    """1 when a count differs from the one the previous run in this
    checkout recorded, else 0; records this run's counts."""
    prev = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            prev = json.load(fh)
    changed = {k: (prev[k], v) for k, v in counts.items()
               if k in prev and k in COUNTS and prev[k] != v}
    if changed:
        print(f"perfbench: canary drift {changed}", file=sys.stderr)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({**prev, **counts}, fh, indent=1, sort_keys=True)
    return int(bool(changed))


# ---------------------------------------------------------- cdc_live_tail


class LedgerWatch(threading.Thread):
    """Polls the table's snapshot directory from outside the engine and
    notes when each epoch first appears in the ledger of the latest
    snapshot, i.e. when a reader can see it. Samples the VM's CPU
    accounting at every poll."""

    def __init__(self, root: str, period: float = 0.01):
        super().__init__(daemon=True)
        self.root = root
        self.period = period
        self.seen: dict[int, float] = {}
        self.cpu: list[tuple[float, int, int]] = []
        self._halt = threading.Event()

    def run(self) -> None:
        from tenzir_spark.lake.format import META_DIR, snapshot_at

        meta = os.path.join(self.root, META_DIR)
        last = 0
        while not self._halt.is_set():
            self.cpu.append((time.perf_counter(), *cpu_jiffies()))
            versions = [int(n[1:9]) for n in os.listdir(meta)
                        if n.startswith("v") and n.endswith(".json")]
            top = max(versions, default=0)
            if top > last:
                try:
                    ledger = snapshot_at(self.root, top).ledger
                except ValueError:  # caught mid-publish; next poll reads it
                    ledger = None
                if ledger is not None:
                    now = time.perf_counter()
                    for k in ledger:
                        self.seen.setdefault(int(k), now)
                    last = top
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)

    def jiffies(self, a: float, b: float) -> tuple[int, int]:
        """CPU jiffies (in use, stolen) from the last sample at or before
        ``a`` to the first at or after ``b``."""
        times = [t for t, _, _ in self.cpu]
        i = max(bisect.bisect_right(times, a) - 1, 0)
        j = min(bisect.bisect_left(times, b), len(times) - 1)
        return self.cpu[j][1] - self.cpu[i][1], self.cpu[j][2] - self.cpu[i][2]

    def wait_for(self, epochs, timeout: float) -> bool:
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            if all(e in self.seen for e in epochs):
                return True
            time.sleep(self.period)
        return all(e in self.seen for e in epochs)


def _progress(q, since_wall: float) -> list[dict]:
    """Data-carrying micro-batches that started after ``since_wall``,
    each with its start and end (``_start``, ``_end``) in wall time."""
    from datetime import datetime

    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        ts = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
        if ts >= since_wall and d.get("numInputRows", 0) > 0:
            d["_start"] = ts
            d["_end"] = ts + d.get("durationMs", {}).get("triggerExecution", 0) / 1000
            out.append(d)
    return out


def _freshness(timed, due: dict, watch: LedgerWatch, progress: list[dict],
               clock: float) -> tuple[list[float], list[float]]:
    """Each committed epoch's freshness as measured, and less the CPU
    the host stole during the micro-batch that committed it: the wait
    for the trigger is not computation and stays as measured; the
    micro-batch, from its start (or the epoch's due time, if later) to
    the commit, is taken less the stolen share of the VM's CPU
    (stats.unstolen). ``clock`` is wall time minus perf_counter time."""
    spans = [(p["_start"] - clock, p["_end"] - clock) for p in progress]
    raw, fresh = [], []
    for e in timed:
        if e not in watch.seen:
            continue
        seen = watch.seen[e]
        raw.append(seen - due[e])
        starts = [a for a, b in spans if a <= seen <= b + 0.05]
        a = max(max(starts, default=due[e]), due[e])
        busy, stolen = watch.jiffies(a, seen)
        fresh.append(a - due[e] + unstolen(seen - a, busy, stolen))
    return raw, fresh


def cdc_live_tail(ctx: Ctx) -> Result:
    from tenzir_spark.cdc import CdcEngine
    from tenzir_spark.lake import LakeTable

    import checks

    spark = ctx.spark
    n_timed = max(int(ctx.seconds / TAIL_INTERVAL_S), 1)
    n_epochs = TAIL_WARM_EPOCHS + n_timed
    staging = os.path.join(ctx.work, "staging")
    log_dir = os.path.join(ctx.work, "log")
    os.makedirs(log_dir)
    _gen_log(spark, n_epochs * TAIL_EPOCH_EVENTS, TAIL_EPOCH_EVENTS, ctx.seed, staging,
             schema_every=TAIL_SCHEMA_EVERY)
    note("inputs generated")

    def publish(e: int) -> None:
        os.rename(os.path.join(staging, f"epoch={e}"), os.path.join(log_dir, f"epoch={e}"))

    w0 = time.time()
    canary = _canary(ctx)
    note("canary done")
    table = _new_table(spark, os.path.join(ctx.work, "table"), TAIL_BUCKETS)
    watch = LedgerWatch(table.root)
    watch.start()
    publish(0)
    q = CdcEngine(spark, table).run_stream(
        log_dir, os.path.join(ctx.work, "stream_ckpt"),
        trigger={"processingTime": f"{int(TAIL_TRIGGER_S * 1000)} milliseconds"})
    try:
        for e in range(TAIL_WARM_EPOCHS):
            if e:
                publish(e)
            if not watch.wait_for([e], 120.0):
                raise RuntimeError(f"warm-up epoch {e} never committed")
        warm = (w0, time.time())
        note("warm-up epochs committed")

        # open loop: epoch k is due half an interval into its slot of the
        # trigger grid, whatever the engine does; freshness counts from
        # the due time
        timed = list(range(TAIL_WARM_EPOCHS, n_epochs))
        t0 = time.time()
        c0 = cpu_jiffies()
        clock = t0 - time.perf_counter()
        grid = (int(t0 / TAIL_TRIGGER_S) + 1) * TAIL_TRIGGER_S
        if grid - t0 < 0.5:
            grid += TAIL_TRIGGER_S
        start = time.perf_counter() + (grid - t0) + TAIL_INTERVAL_S / 2
        due = {e: start + i * TAIL_INTERVAL_S for i, e in enumerate(timed)}
        late = []
        for e in timed:
            pause = due[e] - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            publish(e)
            late.append(time.perf_counter() - due[e])
        backlog = sum(1 for e in timed if e not in watch.seen)
        watch.wait_for(timed, TAIL_DRAIN_S)
        t1 = time.time()
        c1 = cpu_jiffies()
        # the micro-batch that committed the last epoch reports its
        # progress as it returns, just after the commit
        last = max((watch.seen[e] for e in timed if e in watch.seen), default=0.0) + clock
        end = time.perf_counter() + 10.0
        while (time.perf_counter() < end
               and not any(p["_end"] >= last - 0.05 for p in _progress(q, t0))):
            time.sleep(0.05)
    finally:
        q.stop()
        watch.stop()
    progress = _progress(q, t0)

    raw, fresh = _freshness(timed, due, watch, progress, clock)
    note(f"window done: {len(timed)} epochs, {len(progress)} batches, "
         f"freshness median {median(raw) if raw else 0:.3f} s as measured, "
         f"{median(fresh) if fresh else 0:.3f} s less stolen CPU")
    missing = [e for e in timed if e not in watch.seen]
    if not fresh:
        raise RuntimeError("no published epoch committed")
    res = Result(latencies=fresh, work=[], units=1,
                 window=(t0, t1), attempted=len(timed), failed=len(missing),
                 warm=warm)
    if missing:
        res.failures.append(f"{len(missing)} published epochs not committed at run end")

    facts = _table_facts(table)
    # one resolved read over the deltas and one compaction, each the
    # first of its plan shapes in the session; the compaction runs on a
    # copy, so the state check below still reads through the deltas
    with _span(ctx, "bench.read"):
        r0 = time.perf_counter()
        _force(table.read())
        read_s = time.perf_counter() - r0
    copy = os.path.join(ctx.work, "compacted")
    shutil.copytree(table.root, copy)
    compacted_table = LakeTable.load(spark, copy)
    compact_s, compacted = _compact(ctx, compacted_table)
    note(f"read {read_s:.2f} s, compaction {compact_s:.2f} s")
    res.layers.update(facts)
    res.layers.update(compacted)
    res.layers["_canary"] = canary
    dur = [p.get("durationMs", {}) for p in progress]
    res.layers.update({
        "workload.read_s": read_s,
        "workload.compact_s": compact_s,
        "workload.warmup_s": warm[1] - warm[0],
        "workload.events_per_s": len(timed) * TAIL_EPOCH_EVENTS / (t1 - t0),
        "streaming.trigger_s": median([d.get("triggerExecution", 0) / 1000 for d in dur]) if dur else 0.0,
        "streaming.add_batch_s": median([d.get("addBatch", 0) / 1000 for d in dur]) if dur else 0.0,
        "streaming.list_s": median([(d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000
                                    for d in dur]) if dur else 0.0,
        "_timed_epochs": len(timed),
        "streaming.gen_late_s": max(late),
        "streaming.backlog_epochs": backlog,
        "workload.steal_frac": (c1[1] - c0[1]) / max(c1[0] - c0[0] + c1[1] - c0[1], 1),
    })

    log = spark.read.parquet(log_dir)
    rows = {}

    def state():
        msgs, rows["n"] = checks.cdc_state(table, log)
        return msgs

    _check(res, "state", state)
    _check(res, "replay", lambda: checks.cdc_bucket_replay(
        compacted_table, log, ctx.seed % TAIL_BUCKETS))
    _check(res, "ledger", lambda: checks.cdc_ledger(table, range(n_epochs)))
    res.layers["lake.read.rows_out"] = rows.get("n", 0)
    note("checks done")
    return res


# -------------------------------------------------------------- query_mix


def query_mix(ctx: Ctx) -> Result:
    import __spark_entry__ as entry
    import gen_sf

    import checks

    spark = ctx.spark
    sf_dir = os.path.join(ctx.work, "sf")
    # one fixed data set and one fixed sequence of pass orders in every
    # run: the leaves tax each other (a leaf runs slower after some
    # leaves than after others), so a seed-set order made the figures
    # depend on the seed more than on the engine
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.gen(sf_dir, QUERY_SF, seed=QUERY_SEED)
    queries = entry.queries()
    note("inputs generated")
    rng = random.Random(QUERY_SEED)
    res = Result(latencies=[], work=[], units=0, window=(0.0, 0.0))
    # per leaf: (build s, run s, CPU jiffies in use, stolen)
    per_leaf: dict[str, list[tuple]] = {leaf: [] for leaf in QUERY_LEAVES}

    def one_pass(timed: bool, until: float = float("inf")) -> float | None:
        """The leaves in the next order; the pass time, or None when the
        pass reached ``until`` before its last leaf."""
        order = list(QUERY_LEAVES)
        rng.shuffle(order)
        p0 = time.perf_counter()
        for leaf in order:
            if time.perf_counter() >= until:
                return None
            res.attempted += timed
            res.units += timed / len(QUERY_LEAVES)
            try:
                with _span(ctx, f"query.{leaf}.build"):
                    c0 = cpu_jiffies()
                    b0 = time.perf_counter()
                    df = queries[leaf](spark, sf_dir)
                    b1 = time.perf_counter()
                with _span(ctx, f"query.{leaf}.run"):
                    _force(df)
                    b2 = time.perf_counter()
                    c1 = cpu_jiffies()
            except Exception as exc:  # one failing leaf must not end the run
                res.failed += 1
                res.failures.append(f"{leaf}: {type(exc).__name__}: {exc}")
                continue
            if timed:
                per_leaf[leaf].append((b1 - b0, b2 - b1, c1[0] - c0[0], c1[1] - c0[1]))
                res.latencies.append(b2 - b0)
        return time.perf_counter() - p0

    # untimed passes first, then the oracle check, which runs every leaf
    # once more: the first executions of each plan are JIT-cold (a pass
    # takes about twice as long as a warm one, the next three or four
    # still up to a fifth longer), and later passes are what a
    # long-lived session runs. With fewer warm passes the window sits on
    # the slope, and a host that takes CPU from the JIT compiler threads
    # reads slower still
    w0 = time.time()
    warm = [one_pass(timed=False) for _ in range(QUERY_WARM_PASSES)]
    note("warm passes " + " ".join(f"{x:.2f}" for x in warm))
    _check(res, "oracles", lambda: checks.query_oracles(
        spark, queries, entry.oracle_sql(), sf_dir, QUERY_LEAVES))
    res.warm = (w0, time.time())

    t0 = time.time()
    start = time.perf_counter()
    # the window closes at the first leaf boundary after ctx.seconds
    end = start + ctx.seconds
    while time.perf_counter() < end:
        dt = one_pass(timed=True, until=end)
        if dt is not None:
            res.work.append(dt)
    res.window = (t0, time.time())
    note(f"window done: passes " + " ".join(f"{x:.2f}" for x in res.work))

    # the leaves differ in cost by an order of magnitude, so an order
    # statistic of the pooled latencies jumps from leaf to leaf; the
    # typical and the tail latency are geometric means over the leaves
    # of each leaf's median and maximum. The leaves are CPU-bound, and
    # on a shared host the hypervisor takes from nothing to two fifths
    # of the VM's CPU for tens of seconds at a time, so each latency is
    # taken less the share of CPU stolen while it ran (stats.unstolen)
    lat = {leaf: [unstolen(b + r, busy, st) for b, r, busy, st in v]
           for leaf, v in per_leaf.items() if v}
    res.typical = geomean([median(v) for v in lat.values()])
    res.tail = (100.0, geomean([max(v) for v in lat.values()]))
    res.layers["workload.warmup_s"] = res.warm[1] - res.warm[0]
    res.layers["workload.geomean_s"] = geomean(
        [median([b + r for b, r, _, _ in v]) for v in per_leaf.values() if v])
    res.layers["workload.pass_s"] = median(res.work) if res.work else 0.0
    busy = sum(x[2] for v in per_leaf.values() for x in v)
    stolen = sum(x[3] for v in per_leaf.values() for x in v)
    res.layers["workload.steal_frac"] = stolen / max(busy + stolen, 1)
    note(f"stolen CPU share {res.layers['workload.steal_frac']:.3f}")
    for leaf, v in per_leaf.items():
        res.layers[f"query.{leaf}.build_s"] = median([x[0] for x in v]) if v else 0.0
        res.layers[f"query.{leaf}.run_s"] = median([x[1] for x in v]) if v else 0.0
    return res


WORKLOADS = {"cdc_live_tail": cdc_live_tail, "query_mix": query_mix}


def canary_counts(ctx: Ctx, canary: dict, stages, owner) -> dict:
    """The canary's counts, with the event-log ones when traced."""
    out = {k: v for k, v in canary.items() if not k.startswith("_")}
    if ctx.tracer is not None and stages is not None:
        c0, c1 = canary["_window"]
        t = apply_counts(ctx.tracer, stages, owner, c0, c1)
        out["canary.pass1_keys"] = t["pass1_keys"]
        out["canary.pass2_rows_decoded"] = t["decoded"]
    return out
