"""Structured-Streaming layer.

The reference is a continuous engine with demand-driven pull
(execution_node.cpp:36-76) but no watermarks/windows at this snapshot
(SURVEY §2.6). Here the streaming surface is Spark-native:

- follow-file sources (``file ... --follow`` ≅ readStream on a directory)
- windowed aggregation with watermarks (superset of the reference's
  ``summarize ... resolution``)
- the CDC tail as a stream: foreachBatch(CdcEngine.run) gives the
  exactly-once lake sink (micro-batch id = checkpoint epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def follow_parquet(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Streaming read of a growing directory of parquet files (the
    reference's ``load file --follow``, file.cpp:233)."""
    return spark.readStream.schema(schema).parquet(path)


def follow_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.readStream.schema(schema).json(path)


def windowed_summarize(
    stream: DataFrame,
    time_col: str,
    window: str,
    aggs: dict[str, str],
    by: list[str] | None = None,
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Event-time tumbling/sliding aggregation with late-data handling —
    ``summarize ... resolution <dur>`` (summarize.cpp:41-95) upgraded
    with watermarks the reference lacks.

    aggs: {out_name: "func(col)"} using the summarize registry.
    """
    from tenzir_spark.operators.aggregate import _agg_column

    keys = [F.window(F.col(time_col), window, slide) if slide
            else F.window(F.col(time_col), window)]
    keys += [F.col(c) for c in (by or [])]
    agg_cols = [_agg_column(f"{name}={spec}") for name, spec in aggs.items()]
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(*keys)
        .agg(*agg_cols)
    )


def stream_deduplicate(
    stream: DataFrame,
    keys: list[str],
    watermark_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Continuous key dedup with bounded state: duplicates arriving
    within the watermark window are dropped, state for keys older than
    the watermark is evicted (dropDuplicatesWithinWatermark). This is the
    streaming analog of `unique`/exact dedup — the reference's continuous
    engine keeps unbounded per-operator state (§2.6); the watermark bound
    is what makes the operator survive an infinite stream.
    """
    return (stream.withWatermark(watermark_col, delay)
            .dropDuplicatesWithinWatermark(keys))


def stream_sessionize(
    stream: DataFrame,
    key_col: str,
    time_col: str,
    gap_seconds: int = 1800,
):
    """Custom stateful operator via applyInPandasWithState: continuous
    per-key sessionization (inactivity gap splits sessions) whose state
    (last event time, session/event counters) survives across
    micro-batches — the pattern for operators Spark's built-ins can't
    express (the reference's continuous per-key dataflow, §2.6).

    Emits one update row per key per micro-batch:
    (key, n_sessions, n_events).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_field = stream.schema[key_col]
    out_schema = T.StructType([
        T.StructField(key_col, key_field.dataType),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_epoch", T.DoubleType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ])

    def fn(key, pdf_iter, state):
        last_epoch, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0))
        # applyInPandasWithState yields a group's Arrow chunks in ARRIVAL
        # order, not time order — sorting each chunk independently and
        # threading state across them would mis-count sessions for groups
        # spanning multiple chunks in one micro-batch (round-2 advice
        # #4). Concatenate the micro-batch's chunks, sort ONCE, then
        # compute gaps against the carried state. Per-group per-batch
        # data is bounded by the micro-batch, so the concat is safe.
        chunks = [pdf[[time_col]] for pdf in pdf_iter if not pdf.empty]
        if chunks:
            ts = pd.to_datetime(pd.concat(chunks)[time_col]).sort_values()
            epochs = ts.astype("int64").to_numpy() / 1e9
            gaps = (epochs[1:] - epochs[:-1]) > gap_seconds
            first_new = 1 if (last_epoch is None
                              or epochs[0] - last_epoch > gap_seconds) else 0
            n_sessions += first_new + int(gaps.sum())
            n_events += len(epochs)
            last_epoch = float(epochs[-1])
        state.update((last_epoch, n_sessions, n_events))
        yield pd.DataFrame({key_col: [key[0]],
                            "n_sessions": [n_sessions],
                            "n_events": [n_events]})

    return stream.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)


def stream_cdc_apply(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Continuous CDC tail -> lake: each micro-batch is stamped with its
    micro-batch id as its epoch and applied through CdcEngine.run, the
    one apply path, so the ledger is keyed by the micro-batch id.

    Exactly-once: Spark guarantees monotone batch ids per checkpoint dir
    and replays the last uncommitted batch on restart; the lake ledger
    makes the replayed apply a no-op — idempotence composes end-to-end.
    """
    from tenzir_spark.cdc.engine import CdcEngine

    engine = CdcEngine(stream.sparkSession, table)

    def apply_batch(batch_df: DataFrame, batch_id: int):
        engine.run(batch_df.withColumn("epoch",
                                       F.lit(int(batch_id)).cast("int")))

    writer = (stream.writeStream.foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
