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
