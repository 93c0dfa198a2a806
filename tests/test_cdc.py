"""North-rule end-to-end: change log -> CdcEngine -> lake state ==
pure-Python reference replay; exactly-once under replays; byte-identical
extracted text; schema evolution mid-stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tenzir_spark.cdc import (
    CdcEngine,
    extract_text,
    gen_change_log,
    pages_schema,
    replay,
)
from tenzir_spark.lake import LakeTable

N_EVENTS = 6_000
EPOCH_SIZE = 1_000


@pytest.fixture(scope="module")
def change_log(spark):
    df = gen_change_log(
        spark, N_EVENTS, n_domains=20, pages_per_domain=30,
        events_per_epoch=EPOCH_SIZE, schema_change_every=3, seed=42,
    ).cache()
    df.count()
    yield df
    df.unpersist()  # keep the suite-level no-leaked-persists assert honest


@pytest.fixture(scope="module")
def applied(spark, change_log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake") / "pages")
    table = LakeTable.create(spark, root, pages_schema(), "url", num_buckets=8)
    engine = CdcEngine(spark, table)
    results = engine.run(change_log)
    return table, engine, results


def _final_state_from_spark(table):
    rows = table.read().collect()
    return {r["url"]: r.asDict() for r in rows}


def test_final_state_equals_reference_replay(spark, change_log, applied):
    table, _, _ = applied
    log_rows = [r.asDict() for r in change_log.collect()]
    expected, columns = replay(log_rows)

    got = _final_state_from_spark(table)
    assert set(got) == set(expected), (
        f"url sets differ: +{list(set(got) - set(expected))[:3]} "
        f"-{list(set(expected) - set(got))[:3]}")
    # compare every column of every row byte-for-byte
    mism = 0
    for url, exp_row in expected.items():
        got_row = got[url]
        for c in columns:
            g, e = got_row.get(c), exp_row.get(c)
            if isinstance(g, bytearray):
                g = bytes(g)
            if c == "warc_ts" and g is not None:
                g = g.replace(tzinfo=None)
            if g != e:
                mism += 1
                assert mism < 5, f"{url}.{c}: {g!r} != {e!r}"
    assert mism == 0


def test_text_invariant_byte_identical(applied):
    """north rule input_hint: byte-identical extracted text per url."""
    table, _, _ = applied
    rows = table.read().select("url", "html", "text").collect()
    assert rows
    for r in rows:
        html = bytes(r.html) if r.html is not None else None
        assert r.text == extract_text(html), r.url


def test_schema_evolution_applied(applied):
    table, _, _ = applied
    names = [f.name for f in table.snapshot.schema.fields]
    assert "crawl_tag_3" in names  # epoch 3 descriptor (every 3rd epoch)
    # rows upserted after the add carry null; column readable everywhere
    table.read().select("crawl_tag_3").collect()


def test_exactly_once_replay_converges(spark, change_log, applied):
    """Re-running every epoch (crash/retry storm) must not change state."""
    table, engine, _ = applied
    before = {r["url"]: r.asDict() for r in table.read().collect()}
    v_before = table.snapshot.version
    results = engine.run(change_log)  # full replay
    assert all(r.get("skipped") for r in results)
    assert table.snapshot.version == v_before
    after = {r["url"]: r.asDict() for r in table.read().collect()}
    assert before.keys() == after.keys()


def test_resume_from_partial(spark, change_log, tmp_path_factory):
    """Apply a prefix, 'crash', resume the whole log: same final state."""
    root = str(tmp_path_factory.mktemp("lake2") / "pages")
    table = LakeTable.create(spark, root, pages_schema(), "url", num_buckets=8)
    engine = CdcEngine(spark, table)
    engine.run(change_log, epochs=[0])
    engine.run(change_log, epochs=[1])
    # resume: new engine instance (fresh process semantics), full run
    table2 = LakeTable.load(spark, root)
    engine2 = CdcEngine(spark, table2)
    engine2.run(change_log)
    expected, _ = replay([r.asDict() for r in change_log.collect()])
    got = {r["url"] for r in table2.read().collect()}
    assert got == set(expected)


def test_ledger_watermarks_monotone(applied):
    table, _, results = applied
    marks = [e["lsn_watermark"] for e in results if e.get("lsn_watermark") is not None]
    assert marks == sorted(marks)
    # one checkpoint epoch per committed batch: the ledger entries that
    # are not coalesced into a later epoch
    cp = table.checkpoints()
    got = {r[0] for r in cp.select("checkpoint_epoch").distinct().collect()}
    own = {int(e) for e, entry in table.snapshot.ledger.items()
           if "coalesced_into" not in entry}
    assert got == own


def test_cow_run_commits_one_snapshot_per_batch(applied):
    """A copy-on-write run coalesces like a merge-on-read one: the
    6-epoch log is one batch, so the apply publishes a snapshot for the
    epoch-3 ADD and one for the whole batch, not one per epoch."""
    table, _, _ = applied
    assert table.mode == "cow"
    ledger = table.snapshot.ledger
    assert len(ledger) == N_EVENTS // EPOCH_SIZE
    assert ledger[str(N_EVENTS // EPOCH_SIZE - 1)]["coalesced"] == len(ledger)
    assert table.snapshot.version == 3  # create, alter, one batch commit


def test_batches_split_on_rename_gap_and_cap():
    """Coalescing rules: add/widen schema epochs coalesce into a batch
    (adds are epoch-gated in _shape), a RENAME starts a new batch, gaps
    split, and the size cap bounds a run."""
    import json as _json

    eng = CdcEngine.__new__(CdcEngine)  # _batches is pure
    add = _json.dumps({"type": "add", "name": "c", "spark_type": "string"})
    ren = _json.dumps({"type": "rename", "from": "a", "to": "b"})
    wid = _json.dumps({"type": "widen", "name": "n", "spark_type": "bigint"})
    # adds and widens do NOT split
    assert eng._batches([0, 1, 2, 3, 4, 5], {0: [add], 3: [wid]}, 8) == \
        [[0, 1, 2, 3, 4, 5]]
    # renames DO split
    assert eng._batches([0, 1, 2, 3, 4, 5], {3: [ren]}, 8) == \
        [[0, 1, 2], [3, 4, 5]]
    # cap
    assert eng._batches([0, 1, 2, 3, 4, 5], {}, 2) == \
        [[0, 1], [2, 3], [4, 5]]
    # gap (epoch 2 already applied elsewhere) splits the run
    assert eng._batches([0, 1, 3, 4], {}, 8) == [[0, 1], [3, 4]]
    assert eng._batches([], {}, 8) == []


def test_mor_coalesced_ledger_and_resume(spark, change_log, tmp_path_factory):
    """A coalesced batch ledgers EVERY constituent epoch atomically
    (non-final ones marked coalesced_into), replays short-circuit, and a
    mid-log resume after per-epoch applies still converges to replay."""
    root = str(tmp_path_factory.mktemp("lake4") / "pages")
    table = LakeTable.create(spark, root, pages_schema(), "url",
                             num_buckets=8, write_mode="mor")
    engine = CdcEngine(spark, table)
    # epochs 0,1 applied individually (simulates an earlier serial tail)
    engine.run(change_log, epochs=[0])
    engine.run(change_log, epochs=[1])
    results = engine.run(change_log)  # resumes: skips 0,1; coalesces rest
    assert results[0].get("skipped") and results[1].get("skipped")
    ledger = table.snapshot.ledger
    assert all(str(e) in ledger for e in range(6))
    # the pending run [2..5] coalesces into ONE batch (its schema change
    # at epoch 3 is an add, which no longer splits) under epoch 5
    for e in ("2", "3", "4"):
        assert ledger[e]["coalesced_into"] == "5", e
    assert ledger["5"]["coalesced"] == 4
    assert ledger["5"]["rows_applied"] > 0
    # rerun: everything short-circuits, snapshot untouched
    v = table.snapshot.version
    again = engine.run(change_log)
    assert all(r.get("skipped") for r in again)
    assert table.snapshot.version == v
    # final state equals the pure-python replay
    expected, _ = replay([r.asDict() for r in change_log.collect()])
    got = {r["url"] for r in table.read().collect()}
    assert got == set(expected)


def test_coalesced_add_gate_matches_sequential(spark, tmp_path_factory):
    """An event that carries a value for a column BEFORE that column's
    add-epoch is dropped by sequential application (the column isn't in
    the table schema yet). The coalesced batch must drop it identically
    (_shape's added_gate), not resurrect it."""
    import json as _json

    rows = [
        # epoch 0: u1 carries tag='early' — before the add, must vanish
        ("u1", "upsert", 1, 0, "early", None),
        # epoch 1 opens with the add directive, then writes u2
        (None, "schema", 2, 1, None,
         _json.dumps({"type": "add", "name": "tag", "spark_type": "string"})),
        ("u2", "upsert", 3, 1, "late", None),
    ]
    log = spark.createDataFrame(
        rows, "url string, op string, lsn long, epoch int, tag string, "
              "schema_descriptor string")
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
    ])

    def apply(mode_coalesce):
        root = str(tmp_path_factory.mktemp("lakeg") / "t")
        t = LakeTable.create(spark, root, schema, "url", num_buckets=2,
                             write_mode="mor")
        CdcEngine(spark, t).run(log, max_coalesce=mode_coalesce)
        return {r["url"]: r.asDict() for r in t.read().collect()}

    seq, coal = apply(1), apply(8)
    assert seq == coal
    assert coal["u1"]["tag"] is None      # pre-add value dropped
    assert coal["u2"]["tag"] == "late"    # post-add value kept


def test_mor_final_state_matches_replay(spark, change_log, tmp_path_factory):
    """The merge-on-read path must produce the identical final state."""
    root = str(tmp_path_factory.mktemp("lake3") / "pages")
    table = LakeTable.create(spark, root, pages_schema(), "url",
                             num_buckets=8, write_mode="mor")
    engine = CdcEngine(spark, table)
    engine.run(change_log)
    expected, columns = replay([r.asDict() for r in change_log.collect()])
    got = {r["url"]: r.asDict() for r in table.read().collect()}
    assert set(got) == set(expected)
    for url, exp in expected.items():
        for c in columns:
            g = got[url].get(c)
            if isinstance(g, bytearray):
                g = bytes(g)
            if c == "warc_ts" and g is not None:
                g = g.replace(tzinfo=None)
            assert g == exp.get(c), f"{url}.{c}"
    # and stays identical after compaction
    table.compact()
    assert {r["url"] for r in table.read().collect()} == set(expected)


def _state(table) -> dict:
    """The table's rows by url, binary values as bytes."""
    rows = {}
    for r in table.read().collect():
        d = r.asDict()
        rows[d["url"]] = {k: (bytes(v) if isinstance(v, bytearray) else v)
                          for k, v in d.items()}
    return rows


def _no_scan(df):
    raise AssertionError("the scan discovery ran")


@pytest.fixture(scope="module")
def evolving_log_dir(spark, change_log, tmp_path_factory):
    """change_log as an epoch-partitioned parquet log whose schema rows
    split the coalescing: an int column ``n`` (epoch 1 add), its widen
    to bigint (epoch 2), the generator's crawl_tag_3 add (epoch 3) and a
    rename of it (epoch 4). Epochs 3 and 4 are written without column
    statistics, so their footers cannot prove any file descriptor-free."""
    import json as _json

    descs = [(1, {"type": "add", "name": "n", "spark_type": "int"}),
             (2, {"type": "widen", "name": "n", "spark_type": "bigint"}),
             (4, {"type": "rename", "from": "crawl_tag_3", "to": "tag_3"})]
    extra = spark.createDataFrame(
        [(e * EPOCH_SIZE, "schema", None, e, _json.dumps(d)) for e, d in descs],
        "lsn long, op string, url string, epoch int, schema_descriptor string")
    log = (change_log
           .withColumn("n", F.when(F.col("op") != "schema",
                                   (F.col("lsn") % 7).cast("int")))
           .unionByName(extra, allowMissingColumns=True))
    log_dir = str(tmp_path_factory.mktemp("cdclog_ev") / "log")
    stats_less = F.col("epoch").isin(3, 4)
    (log.filter(~stats_less).write.mode("overwrite")
     .partitionBy("epoch").parquet(log_dir))
    (log.filter(stats_less).write.mode("append")
     .option("parquet.column.statistics.enabled", "false")
     .partitionBy("epoch").parquet(log_dir))
    return log_dir


def test_footer_and_scan_discovery_identical(spark, change_log, evolving_log_dir,
                                             tmp_path_factory, monkeypatch):
    """run() discovers a file-backed log from its parquet footers (no
    Spark job): row counts from the footers, schema rows read on the
    driver from only the files whose footers do not prove
    ``schema_descriptor`` all-null. Any other frame takes the one
    discovery scan. On a log with add, widen and rename rows, and with
    files that carry no column statistics, both discoveries must leave
    byte-identical final state; the footer run has the scan disabled."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    import tenzir_spark.cdc.engine as eng_mod

    plog = spark.read.parquet(evolving_log_dir)
    footer_rows, footer_desc = eng_mod._epoch_rows_from_footers(plog)
    scan_rows, scan_desc = eng_mod._epoch_rows_from_scan(plog)
    assert footer_rows == scan_rows and footer_desc == scan_desc
    assert [len(footer_desc[e]) for e in range(6)] == [0, 1, 1, 1, 1, 0]
    # a file is read only when its footer cannot rule out schema rows:
    # every stats-less file (epochs 3, 4), no file of epochs 0 and 5
    opened = []

    class Recording(pq.ParquetFile):
        def __init__(self, path, *args, **kwargs):
            super().__init__(path, *args, **kwargs)
            self.path = path

        def read(self, *args, **kwargs):
            opened.append(self.path)
            return super().read(*args, **kwargs)

    monkeypatch.setattr(eng_mod.pq, "ParquetFile", Recording)
    assert eng_mod._epoch_rows_from_footers(plog)[1] == footer_desc
    monkeypatch.undo()
    files = [urlparse(f).path for f in plog.inputFiles()]
    in_epoch = lambda e: {f for f in files if f"/epoch={e}/" in f}
    assert in_epoch(3) | in_epoch(4) <= set(opened)
    assert not (in_epoch(0) | in_epoch(5)) & set(opened)
    assert set(opened) & in_epoch(1) and set(opened) & in_epoch(2)

    states = []
    for discovery in ("footers", "scan"):
        if discovery == "footers":
            monkeypatch.setattr(eng_mod, "_epoch_rows_from_scan", _no_scan)
        else:
            monkeypatch.setattr(eng_mod, "_epoch_rows_from_footers",
                                lambda df, files=None: None)
        root = str(tmp_path_factory.mktemp(f"lake_{discovery}") / "pages")
        table = LakeTable.create(spark, root, pages_schema(), "url",
                                 num_buckets=8, write_mode="mor")
        CdcEngine(spark, table).run(plog)
        monkeypatch.undo()
        # the rename at epoch 4 splits the log into two batches
        assert sorted(e for e, v in table.snapshot.ledger.items()
                      if "coalesced_into" not in v) == ["3", "5"]
        names = [f.name for f in table.snapshot.schema.fields]
        assert "tag_3" in names and "crawl_tag_3" not in names
        assert table.snapshot.schema["n"].dataType.simpleString() == "bigint"
        states.append(_state(table))
    assert states[0] and states[0] == states[1]


def test_slice_route_plans_one_exchange(spark, change_log, tmp_path_factory,
                                        monkeypatch):
    """The frame _prepare_mor hands to the survivor write: a batch of at
    most one table slice is repartitioned by bucket before its max_by
    aggregate, so its plan holds exactly one exchange (and one sort);
    the two-pass keeps its broadcast semi join behind one bucket
    exchange, and the at-scale fallback keeps its map-side partial
    aggregate ahead of two exchanges."""
    import re

    import tenzir_spark.lake.table as table_mod

    log_dir = str(tmp_path_factory.mktemp("cdclog_plan") / "log")
    change_log.write.mode("overwrite").partitionBy("epoch").parquet(log_dir)
    plog = spark.read.parquet(log_dir)
    frames = []
    write = table_mod.LakeTable._write_bucketed

    def capture(self, df, *args, **kwargs):
        frames.append(df)
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(table_mod.LakeTable, "_write_bucketed", capture)
    plans = {}
    for route, slice_rows, keys in (
            ("slice", table_mod.TABLE_SLICE_ROWS, table_mod.DEDUP_BCAST_KEYS),
            ("two_pass", 0, table_mod.DEDUP_BCAST_KEYS), ("fallback", 0, 0)):
        monkeypatch.setattr(table_mod, "TABLE_SLICE_ROWS", slice_rows)
        monkeypatch.setattr(table_mod, "DEDUP_BCAST_KEYS", keys)
        frames.clear()
        root = str(tmp_path_factory.mktemp(f"lake_plan_{route}") / "pages")
        table = LakeTable.create(spark, root, pages_schema(), "url",
                                 num_buckets=8, write_mode="mor")
        CdcEngine(spark, table).run(plog)
        assert len(frames) == 1  # one batch, one survivor write
        plans[route] = frames[0]._jdf.queryExecution().executedPlan().toString()

    def count(pattern, plan):
        return len(re.findall(pattern, plan))

    shuffle = r"(?<!Broadcast)Exchange "
    p = plans["slice"]
    assert count(shuffle, p) == 1, p
    assert count(r"REPARTITION_BY_NUM", p) == 1, p
    assert count(r"\bSort \[", p) == 1, p
    assert count(r"BroadcastExchange", p) == 0, p
    p = plans["two_pass"]
    assert count(shuffle, p) == 1 and count(r"REPARTITION_BY_NUM", p) == 1, p
    assert count(r"BroadcastExchange", p) == 1, p
    assert count(r"LeftSemi", p) == 1 and count(r"Aggregate", p) == 0, p
    p = plans["fallback"]
    assert count(shuffle, p) == 2 and count(r"REPARTITION_BY_NUM", p) == 1, p
    assert count(r"partial_max_by", p) == 1, p
    # the partial aggregate runs below (before) the first exchange
    assert p.index("partial_max_by") > p.index("ENSURE_REQUIREMENTS"), p


def test_lake_rewrites_plan_one_exchange(spark, tmp_path, monkeypatch):
    """The frame each lake rewrite hands _write_bucketed — a MoR rewrite
    compaction, a CoW compaction and the CoW fold of a merge — holds
    exactly one shuffle exchange: the bucket REPARTITION_BY_NUM of
    _latest_per_bucket (MoR compaction, fold) or _by_bucket (CoW
    compaction)."""
    import re

    from pyspark.sql import types as T

    import tenzir_spark.lake.table as table_mod

    schema = T.StructType([T.StructField("url", T.StringType(), False),
                           T.StructField("v", T.LongType(), True)])
    frames = []
    write = table_mod.LakeTable._write_bucketed

    def capture(self, df, *args, **kwargs):
        frames.append(df)
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(table_mod.LakeTable, "_write_bucketed", capture)

    def merge(table, rows, epoch):
        table.merge(spark.createDataFrame(
            rows, "url string, op string, lsn long, v long"), epoch)

    changes = ([(f"u{i}", "update", 100 + i, -i) for i in range(0, 32, 2)]
               + [("u1", "delete", 200, None)])
    plans = {}
    mor = LakeTable.create(spark, str(tmp_path / "mor"), schema, "url",
                           num_buckets=4, write_mode="mor")
    merge(mor, [(f"u{i}", "insert", i, i) for i in range(32)], 0)
    merge(mor, changes, 1)
    frames.clear()
    mor.compact()
    assert len(frames) == 1  # the buckets with two deltas, in one write
    plans["mor_compact"] = frames[0]
    cow = LakeTable.create(spark, str(tmp_path / "cow"), schema, "url",
                           num_buckets=4, write_mode="cow")
    for part in range(2):  # two files per bucket
        cow.append(spark.createDataFrame(
            [(f"u{i}", i) for i in range(part, 32, 2)], schema))
    frames.clear()
    cow.compact()
    assert len(frames) == 1
    plans["cow_compact"] = frames[0]
    frames.clear()
    merge(cow, changes, 0)
    assert len(frames) == 2  # the survivor write, then the fold
    plans["cow_fold"] = frames[1]
    for name, df in plans.items():
        p = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"(?<!Broadcast)Exchange ", p)) == 1, (name, p)
        assert len(re.findall(r"REPARTITION_BY_NUM", p)) == 1, (name, p)


def test_dedup_bcast_and_fallback_paths_identical(spark, change_log,
                                                  tmp_path_factory,
                                                  monkeypatch):
    """_prepare_mor's three dedup routes must leave byte-identical final
    state on the same log: the batch fits one table slice, so as is it
    takes struct max_by; a slice bound of 0 sends it to the broadcast
    two-pass; a slice bound of 0 plus a key cap of 0 makes pass 1
    overflow into the at-scale struct max_by fallback."""
    import tenzir_spark.lake.table as table_mod
    assert N_EVENTS <= table_mod.TABLE_SLICE_ROWS
    pass1 = []
    frame_cls = type(change_log)
    checkpoint = frame_cls.localCheckpoint

    def counting_checkpoint(self, *args, **kwargs):
        pass1.append(1)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting_checkpoint)
    states = []
    for slice_rows, keys in ((table_mod.TABLE_SLICE_ROWS,
                              table_mod.DEDUP_BCAST_KEYS),
                             (0, table_mod.DEDUP_BCAST_KEYS), (0, 0)):
        monkeypatch.setattr(table_mod, "TABLE_SLICE_ROWS", slice_rows)
        monkeypatch.setattr(table_mod, "DEDUP_BCAST_KEYS", keys)
        pass1.clear()
        root = str(tmp_path_factory.mktemp(f"lake_b{slice_rows}_{keys}")
                   / "pages")
        table = LakeTable.create(spark, root, pages_schema(), "url",
                                 num_buckets=8, write_mode="mor")
        CdcEngine(spark, table).run(change_log)
        # only the two-pass routes run (and checkpoint) a pass 1
        assert bool(pass1) == (slice_rows == 0)
        states.append(_state(table))
    assert states[0] and states[0] == states[1] == states[2]


def test_two_pass_releases_pass1_checkpoint(spark, change_log,
                                            tmp_path_factory, monkeypatch):
    """The broadcast two-pass's eager pass-1 localCheckpoint is released
    as soon as the survivors are written, not whenever a JVM GC lets
    the ContextCleaner find it: right after the apply, with no forced
    GC, the persisted-RDD count is back where it started."""
    import tenzir_spark.lake.table as table_mod
    monkeypatch.setattr(table_mod, "TABLE_SLICE_ROWS", 0)
    root = str(tmp_path_factory.mktemp("lake_ckpt") / "pages")
    table = LakeTable.create(spark, root, pages_schema(), "url",
                             num_buckets=8, write_mode="mor")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    CdcEngine(spark, table).run(change_log)
    assert len(table.snapshot.ledger) == N_EVENTS // EPOCH_SIZE
    assert persistent().size() == before


def test_run_over_empty_log_commits_nothing(spark, change_log,
                                            tmp_path_factory):
    """An empty frame (what a live tail's idle micro-batch hands run())
    discovers no epochs: no ledger entry, no new snapshot."""
    root = str(tmp_path_factory.mktemp("lake_empty") / "pages")
    table = LakeTable.create(spark, root, pages_schema(), "url",
                             num_buckets=8, write_mode="mor")
    version = table.snapshot.version
    assert CdcEngine(spark, table).run(change_log.limit(0)) == []
    assert table.refresh().snapshot.version == version
    assert not table.snapshot.ledger


def test_mor_apply_jobs_carry_callers_job_group(spark, change_log,
                                                tmp_path_factory):
    """A MoR apply launches every Spark job from the caller's thread, so
    each job carries the caller's job group (and a cancel of that group
    reaches the whole apply)."""
    import time
    import uuid

    log_dir = str(tmp_path_factory.mktemp("cdclog_jg") / "log")
    (change_log.filter(F.col("epoch") < 4).write.mode("overwrite")
     .partitionBy("epoch").parquet(log_dir))
    plog = spark.read.parquet(log_dir)
    root = str(tmp_path_factory.mktemp("lake_jg") / "pages")
    table = LakeTable.create(spark, root, pages_schema(), "url",
                             num_buckets=8, write_mode="mor")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def grouped_job(tag: str) -> int:
        # the status store fills from the listener bus, which delivers
        # events in order: once this job shows, every earlier one has
        sc.setJobGroup(tag, tag)
        spark.range(1).collect()
        for _ in range(200):
            ids = tracker.getJobIdsForGroup(tag)
            if ids:
                return ids[0]
            time.sleep(0.05)
        raise AssertionError(f"job of group {tag} never reached the tracker")

    run_id = uuid.uuid4().hex
    try:
        first = grouped_job(f"before-{run_id}")
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(f"apply-{run_id}", "cdc apply")
        CdcEngine(spark, table).run(plog)
        last = grouped_job(f"after-{run_id}")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(table.snapshot.ledger) == 4
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    jobs = sorted(tracker.getJobIdsForGroup(f"apply-{run_id}"))
    assert jobs and jobs == list(range(first + 1, last))


def test_apply_path_reads_no_environment():
    """The CDC apply path has no environment knobs: its plan choices
    come from the data (row counts, key counts) and from explicit
    arguments only."""
    import ast
    import pathlib

    import tenzir_spark.cdc.engine as eng_mod
    import tenzir_spark.lake.table as table_mod

    env_names = {"environ", "environb", "getenv", "getenvb"}
    for mod in (eng_mod, table_mod):
        tree = ast.parse(pathlib.Path(mod.__file__).read_text())
        reads = []
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in env_names:
                reads.append(node.lineno)
            elif (isinstance(node, ast.ImportFrom) and node.module == "os"
                  and any(a.name in env_names for a in node.names)):
                reads.append(node.lineno)
        assert not reads, f"{mod.__name__} reads the environment at {reads}"
