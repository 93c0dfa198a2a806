"""Structured-Streaming layer: follow source, windowed summarize,
streaming CDC apply with exactly-once foreachBatch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark import streaming
from tenzir_spark.cdc import gen_change_log, pages_schema
from tenzir_spark.lake import LakeTable


def test_windowed_summarize_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    ev = spark.range(100).select(
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("ts"),
        (F.col("id") % 4).alias("k"),
        F.col("id").cast("double").alias("value"),
    )
    ev.write.parquet(src)
    stream = streaming.follow_parquet(spark, src, ev.schema)
    agg = streaming.windowed_summarize(
        stream, "ts", "30 minutes", {"n": "count(.)", "total": "sum(value)"}, by=["k"])
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("winout").start())
    try:
        q.processAllAvailable()
        out = spark.sql("select * from winout").collect()
    finally:
        q.stop()
    # 100 minutes of data in 30-min windows x 4 keys
    assert sum(r.n for r in out) == 100
    assert all(len(r.window) == 2 for r in out)


def test_stream_cdc_apply_exactly_once(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    lake_dir = str(tmp_path / "lake")
    cp_dir = str(tmp_path / "cp")
    log = gen_change_log(spark, 2000, events_per_epoch=500, seed=11)
    log.write.parquet(log_dir)

    table = LakeTable.create(spark, lake_dir, pages_schema(), "url",
                             num_buckets=4, write_mode="mor")
    stream = spark.readStream.schema(
        spark.read.parquet(log_dir).schema).parquet(log_dir)
    q = streaming.stream_cdc_apply(stream, table, cp_dir)
    q.awaitTermination(120)

    table.refresh()
    n = table.read().count()
    assert n > 0
    # restart with same checkpoint: no new data -> no state change
    v = table.snapshot.version
    stream2 = spark.readStream.schema(
        spark.read.parquet(log_dir).schema).parquet(log_dir)
    q2 = streaming.stream_cdc_apply(stream2, table, cp_dir)
    q2.awaitTermination(60)
    table.refresh()
    assert table.read().count() == n


def test_stream_sessionize_state_across_batches(spark, tmp_path):
    """applyInPandasWithState carries per-key session state across
    micro-batches: two files processed one-per-trigger must yield the
    same counts as a batch sessionization."""
    import datetime as dt

    src = tmp_path / "sess_src"
    src.mkdir()
    schema = T.StructType([T.StructField("user_id", T.LongType()),
                           T.StructField("ts", T.TimestampType())])
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))

    # user 1: events at 0s, 10s | batch 2: 20s (same session), 1h (new)
    # user 2: one event per batch, 2h apart -> 2 sessions
    spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(seconds=10)), (2, t0)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=20)), (1, t0 + dt.timedelta(hours=1)),
         (2, t0 + dt.timedelta(hours=2))], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    out = streaming.stream_sessionize(stream, "user_id", "ts", gap_seconds=1800)
    q = (out.writeStream.format("memory").queryName("sess_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, max(n_sessions) AS ns, max(n_events) AS ne "
        "FROM sess_out GROUP BY user_id").collect()
    got = {r.user_id: (r.ns, r.ne) for r in rows}
    assert got[1] == (2, 4)  # 0s/10s/20s one session, 1h later a second
    assert got[2] == (2, 2)


def test_stream_deduplicate_within_watermark(spark, tmp_path):
    import datetime as dt

    src = tmp_path / "dd_src"
    schema = T.StructType([T.StructField("k", T.StringType()),
                           T.StructField("ts", T.TimestampType())])
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    spark.createDataFrame(
        [("a", t0), ("a", t0 + dt.timedelta(seconds=5)),   # dup within window
         ("b", t0), ("a", t0 + dt.timedelta(seconds=9))],  # another dup
        schema).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = streaming.stream_deduplicate(stream, ["k"], "ts", delay="1 minute")
    q = (out.writeStream.format("memory").queryName("dd_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT k FROM dd_out").collect()
    assert sorted(r.k for r in rows) == ["a", "b"]


def test_run_stream_epoch_ledger_two_arrivals(spark, tmp_path):
    """CdcEngine.run_stream: the live tail over an epoch-partitioned log
    keys the ledger by the LOG's epochs (not batch ids), so arrivals in
    two waves + a replayed stream converge exactly-once to the same
    state as a batch run over the full log — including the mid-stream
    schema add."""
    from tenzir_spark.cdc import CdcEngine, replay

    log_dir = str(tmp_path / "log")
    cp_dir = str(tmp_path / "cp")
    full = gen_change_log(spark, 3000, events_per_epoch=500,
                          schema_change_every=3, seed=13).cache()
    full.filter("epoch <= 2").write.partitionBy("epoch") \
        .mode("overwrite").parquet(log_dir)

    table = LakeTable.create(spark, str(tmp_path / "lake"), pages_schema(),
                             "url", num_buckets=4, write_mode="mor")
    eng = CdcEngine(spark, table)
    eng.run_stream(log_dir, cp_dir).awaitTermination(120)
    table.refresh()
    assert sorted(int(k) for k in table.snapshot.ledger) == [0, 1, 2]

    # second wave arrives (atomic per-epoch publish), same checkpoint
    full.filter("epoch > 2").write.partitionBy("epoch") \
        .mode("append").parquet(log_dir)
    eng.run_stream(log_dir, cp_dir).awaitTermination(120)
    table.refresh()
    assert sorted(int(k) for k in table.snapshot.ledger) == list(range(6))
    assert "crawl_tag_3" in [f.name for f in table.snapshot.schema.fields]

    expected, _ = replay([r.asDict() for r in full.collect()])
    got = {r["url"] for r in table.read().collect()}
    assert got == set(expected)

    # replayed stream (fresh checkpoint => redelivery): ledger no-ops
    v = table.snapshot.version
    eng.run_stream(log_dir, str(tmp_path / "cp2")).awaitTermination(120)
    table.refresh()
    assert table.snapshot.version == v
    full.unpersist()


# ------------------------------------------------ live-tail discovery

def _tail_state(table) -> dict:
    rows = {}
    for r in table.read().collect():
        d = r.asDict()
        rows[d["url"]] = {k: (bytes(v) if isinstance(v, bytearray) else v)
                          for k, v in d.items()}
    return rows


def _no_scan(df):
    raise AssertionError("the scan discovery ran")


@pytest.fixture(scope="module")
def tail_log(spark):
    """Six epochs of 500 events with an add at epoch 3, published in
    five waves (one micro-batch each under availableNow)."""
    full = gen_change_log(spark, 3000, events_per_epoch=500,
                          schema_change_every=3, seed=13).cache()
    full.count()
    yield full, [[0], [1], [2, 3], [4], [5]]
    full.unpersist()


def _scan_reference(spark, log_dir, root, monkeypatch):
    """The log applied by a plain run() with the scan discovery."""
    import tenzir_spark.cdc.engine as eng_mod
    from tenzir_spark.cdc import CdcEngine

    table = LakeTable.create(spark, root, pages_schema(), "url",
                             num_buckets=4, write_mode="mor")
    monkeypatch.setattr(eng_mod, "_epoch_rows_from_footers",
                        lambda df, files=None: None)
    CdcEngine(spark, table).run(spark.read.parquet(log_dir))
    monkeypatch.undo()
    return _tail_state(table)


def _tail_waves(spark, eng, full, waves, log_dir, cp_dir):
    for wave in waves:
        (full.filter(F.col("epoch").isin(*wave)).write.partitionBy("epoch")
         .mode("append").parquet(log_dir))
        eng.run_stream(log_dir, cp_dir).awaitTermination(120)


def test_run_stream_discovers_from_checkpoint(spark, tmp_path, tail_log,
                                              monkeypatch):
    """Every live-tail micro-batch resolves its files from the query's
    checkpoint and discovers from their footers, with the scan disabled,
    across source-log compactions (compactInterval=2 compacts after
    source batches 1 and 3). The final state is byte-identical to the
    scan discovery's."""
    from urllib.parse import urlparse

    import tenzir_spark.cdc.engine as eng_mod
    from tenzir_spark.cdc import CdcEngine

    full, waves = tail_log
    log_dir, cp_dir = str(tmp_path / "log"), str(tmp_path / "cp")
    resolved = []
    resolve = eng_mod._stream_batch_files

    def recording(checkpoint_dir, batch_id):
        got = resolve(checkpoint_dir, batch_id)
        resolved.append((batch_id, got))
        return got

    monkeypatch.setattr(eng_mod, "_stream_batch_files", recording)
    monkeypatch.setattr(eng_mod, "_epoch_rows_from_scan", _no_scan)
    key = "spark.sql.streaming.fileSource.log.compactInterval"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        table = LakeTable.create(spark, str(tmp_path / "lake"), pages_schema(),
                                 "url", num_buckets=4, write_mode="mor")
        _tail_waves(spark, CdcEngine(spark, table), full, waves, log_dir,
                    cp_dir)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    monkeypatch.undo()
    sources = sorted(os.listdir(os.path.join(cp_dir, "sources", "0")))
    assert "1.compact" in sources and "3.compact" in sources
    assert [b for b, _ in resolved] == list(range(len(waves)))
    for (b, files), wave in zip(resolved, waves):
        assert files and {int(f.split("epoch=")[1].split("/")[0])
                          for f in files} == set(wave), b
    every = [f for _, files in resolved for f in files]
    on_disk = {os.path.join(d, n) for d, _, ns in os.walk(log_dir)
               for n in ns if n.endswith(".parquet")}
    assert len(every) == len(set(every))
    assert {urlparse(f).path for f in every} == on_disk
    assert sorted(int(k) for k in table.refresh().snapshot.ledger) == list(range(6))
    ref = _scan_reference(spark, log_dir, str(tmp_path / "ref"), monkeypatch)
    assert ref and _tail_state(table) == ref


def test_run_stream_falls_back_on_unreadable_checkpoint(spark, tmp_path,
                                                        tail_log, monkeypatch):
    """A micro-batch whose files cannot be resolved takes the scan
    discovery: batch 1 sees a corrupted offsets/1, batch 2 a missing
    sources/0/2 (both put back after the resolution). Exactly those two
    batches scan, and the state is still the scan reference's."""
    import tenzir_spark.cdc.engine as eng_mod
    from tenzir_spark.cdc import CdcEngine

    full, waves = tail_log
    log_dir, cp_dir = str(tmp_path / "log"), str(tmp_path / "cp")
    resolve = eng_mod._stream_batch_files
    scan = eng_mod._epoch_rows_from_scan
    scanned, results = [], {}

    def damaging(checkpoint_dir, batch_id):
        if batch_id == 1:
            path = os.path.join(checkpoint_dir, "offsets", "1")
            with open(path, "rb") as fh:
                kept = fh.read()
            with open(path, "wb") as fh:
                fh.write(b"v1\n{}\nnot json\n")
            try:
                got = resolve(checkpoint_dir, batch_id)
            finally:
                with open(path, "wb") as fh:
                    fh.write(kept)
        elif batch_id == 2:
            path = os.path.join(checkpoint_dir, "sources", "0", "2")
            os.rename(path, path + ".away")
            try:
                got = resolve(checkpoint_dir, batch_id)
            finally:
                os.rename(path + ".away", path)
        else:
            got = resolve(checkpoint_dir, batch_id)
        results[batch_id] = got
        return got

    def counting(df):
        scanned.append(1)
        return scan(df)

    monkeypatch.setattr(eng_mod, "_stream_batch_files", damaging)
    monkeypatch.setattr(eng_mod, "_epoch_rows_from_scan", counting)
    table = LakeTable.create(spark, str(tmp_path / "lake"), pages_schema(),
                             "url", num_buckets=4, write_mode="mor")
    _tail_waves(spark, CdcEngine(spark, table), full, waves, log_dir, cp_dir)
    monkeypatch.undo()
    assert results[1] is None and results[2] is None
    assert all(results[b] for b in (0, 3, 4))
    assert len(scanned) == 2
    ref = _scan_reference(spark, log_dir, str(tmp_path / "ref"), monkeypatch)
    assert ref and _tail_state(table) == ref


def test_run_stream_crash_between_batches_resumes_exactly_once(
        spark, tmp_path, tail_log, monkeypatch):
    """The foreachBatch raises once on micro-batch 2, after Spark logged
    its offsets. A restart from the same checkpoint re-runs batch 2 over
    the same resolved files, and the tail ends in the replay state with
    one ledger entry per epoch, the crashed batch having committed
    nothing."""
    import tenzir_spark.cdc.engine as eng_mod
    from tenzir_spark.cdc import CdcEngine, replay

    full, waves = tail_log
    log_dir, cp_dir = str(tmp_path / "log"), str(tmp_path / "cp")
    monkeypatch.setattr(eng_mod, "_epoch_rows_from_scan", _no_scan)
    table = LakeTable.create(spark, str(tmp_path / "lake"), pages_schema(),
                             "url", num_buckets=4, write_mode="mor")
    eng = CdcEngine(spark, table)
    run = eng.run
    seen = []

    def flaky(df, **kwargs):
        seen.append(kwargs["files"])
        if len(seen) == 3:
            raise RuntimeError("injected crash in micro-batch 2")
        return run(df, **kwargs)

    eng.run = flaky
    _tail_waves(spark, eng, full, waves[:2], log_dir, cp_dir)
    version = table.refresh().snapshot.version
    (full.filter(F.col("epoch").isin(*waves[2])).write.partitionBy("epoch")
     .mode("append").parquet(log_dir))
    q = eng.run_stream(log_dir, cp_dir)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert os.path.exists(os.path.join(cp_dir, "offsets", "2"))
    assert not os.path.exists(os.path.join(cp_dir, "commits", "2"))
    assert table.refresh().snapshot.version == version
    eng.run_stream(log_dir, cp_dir).awaitTermination(120)  # re-runs batch 2
    assert len(seen) == 4 and seen[3] and sorted(seen[3]) == sorted(seen[2])
    _tail_waves(spark, eng, full, waves[3:], log_dir, cp_dir)
    ledger = table.refresh().snapshot.ledger
    assert sorted(int(k) for k in ledger) == list(range(6))
    # every epoch committed once: one lineage row set per committed batch
    batches = [int(e) for e, v in ledger.items() if "coalesced_into" not in v]
    lineage = [r[0] for r in table.checkpoints()
               .select("checkpoint_epoch").distinct().collect()]
    assert sorted(lineage) == sorted(batches) == [0, 1, 3, 4, 5]
    expected, columns = replay([r.asDict() for r in full.collect()])
    got = _tail_state(table)
    assert set(got) == set(expected)
    for url, exp in expected.items():
        for c in columns:
            g = got[url].get(c)
            if c == "warc_ts" and g is not None:
                g = g.replace(tzinfo=None)
            assert g == exp.get(c), f"{url}.{c}"


def test_stream_batch_files_reads_the_checkpoint_layout(tmp_path):
    """_stream_batch_files on hand-made checkpoint layouts: plain and
    compact source-log files, and None on every unrecognised shape."""
    import json

    from tenzir_spark.cdc.engine import _stream_batch_files

    cp = tmp_path / "cp"
    (cp / "offsets").mkdir(parents=True)
    (cp / "sources" / "0").mkdir(parents=True)

    def offsets(b, n):
        (cp / "offsets" / str(b)).write_text(
            "v1\n" + json.dumps({"batchWatermarkMs": 0}) + "\n"
            + json.dumps({"logOffset": n}) + "\n")

    def source(name, batches):
        lines = ["v1"] + [json.dumps({"path": f"file:///log/epoch={b}/p{b}.parquet",
                                      "timestamp": 0, "batchId": b})
                          for b in batches]
        (cp / "sources" / "0" / name).write_text("\n".join(lines) + "\n")

    offsets(0, 0)
    offsets(1, 2)
    source("0", [0])
    source("1.compact", [0, 1])
    source("2", [2])
    assert _stream_batch_files(str(cp), 0) == ["file:///log/epoch=0/p0.parquet"]
    want = ["file:///log/epoch=1/p1.parquet", "file:///log/epoch=2/p2.parquet"]
    assert _stream_batch_files(str(cp), 1) == want
    assert _stream_batch_files("file://" + str(cp), 1) == want
    assert _stream_batch_files("s3a://bucket/cp", 1) is None
    assert _stream_batch_files(str(cp), 2) is None  # no offsets/2 yet
    (cp / "sources" / "0" / "2").rename(cp / "sources" / "0" / "2.kept")
    assert _stream_batch_files(str(cp), 1) is None  # missing source batch
    (cp / "sources" / "0" / "2.kept").rename(cp / "sources" / "0" / "2")
    (cp / "offsets" / "1").write_text('v2\n{}\n{"logOffset":2}\n')
    assert _stream_batch_files(str(cp), 1) is None  # unknown version
    (cp / "offsets" / "1").write_text('v1\n{}\n{"logOffset":2}\n{"logOffset":0}\n')
    assert _stream_batch_files(str(cp), 1) is None  # two sources
    offsets(1, 2)
    source("2", [])
    (cp / "sources" / "0" / "2").write_text(
        "v1\n" + json.dumps({"path": "hdfs://nn/log/epoch=2/p.parquet",
                             "timestamp": 0, "batchId": 2}) + "\n")
    assert _stream_batch_files(str(cp), 1) is None  # a remote file
