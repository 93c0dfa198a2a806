"""CDC apply engine: ordered epoch tail -> schema evolution -> max-lsn
dedup -> MERGE -> exactly-once commit + lineage.

This is the north rule's pipeline, the Spark reinterpretation of the
reference's import path (libtenzir/builtins/operators/import.cpp:70 ->
importer.cpp:43-76 -> index.cpp:650-670 active partitions): where Tenzir
stamps import_time and routes slices to per-schema partitions, we stamp
lineage and MERGE keyed batches into per-bucket files under an idempotent
epoch ledger. Like the reference there is one import path whatever the
storage layout: every batch goes through LakeTable._prepare_mor and
LakeTable.merge_commit_batch, and the table's write mode only decides
how the survivors are committed.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tenzir_spark.cdc.extract import extract_text_udf
from tenzir_spark.lake.table import LakeTable
from tenzir_spark.sources.formats import read_parquet


def _epoch_rows_from_footers(change_log: DataFrame) -> dict[int, int] | None:
    """Per-epoch row counts read from the parquet footers of an
    epoch-partitioned file-backed log — a driver-side metadata read that
    replaces a full-scan discovery aggregate (r6). Returns None when the
    log is not a local epoch-partitioned parquet directory (streaming
    micro-batch frames, filtered views, remote filesystems) or has too
    many files for a cheap footer sweep — callers then fall back to the
    scan-based discovery."""
    try:
        # bare-scan check: inputFiles() ignores row filters, so a
        # filtered view could "discover" epochs whose surviving row set
        # is empty and wrongly ledger them as applied — only trust the
        # footers when the frame is the unmodified file relation
        plan = change_log._jdf.queryExecution().analyzed().toString()
        if not plan.lstrip().startswith("Relation"):
            return None
        files = change_log.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 4096:
        return None
    try:
        import pyarrow.parquet as pq
        from urllib.parse import unquote, urlparse
        out: dict[int, int] = {}
        for f in files:
            if "epoch=" not in f or not f.endswith(".parquet"):
                return None
            epoch = int(f.split("epoch=")[1].split("/")[0])
            path = unquote(urlparse(f).path) if f.startswith("file:") else f
            out[epoch] = out.get(epoch, 0) + pq.ParquetFile(path).metadata.num_rows
        return out
    except Exception:
        return None


def descriptor_to_alter(desc: str) -> dict:
    """Avro-style JSON change-stream descriptor -> lake ALTER op.

    Supported directives (north rule: add / rename / widen — the
    reference's cast.hpp:387-499 record-cast lattice):
      {"type":"add","name":...,"spark_type":...}
      {"type":"rename","from":...,"to":...}
      {"type":"widen","name":...,"spark_type":...}
    """
    d = json.loads(desc)
    t = d["type"]
    if t == "add":
        return {"op": "add", "name": d["name"], "type": d["spark_type"]}
    if t == "rename":
        return {"op": "rename", "from": d["from"], "to": d["to"]}
    if t == "widen":
        return {"op": "widen", "name": d["name"], "type": d["spark_type"]}
    raise ValueError(f"unknown schema descriptor {desc!r}")


class CdcEngine:
    """Applies an ordered (lsn, op, payload) change log to a LakeTable
    epoch by epoch, exactly once."""

    def __init__(self, spark: SparkSession, table: LakeTable,
                 n_salts: int | None = None):
        """``n_salts`` is unused. It is still accepted because the frozen
        ``bench.py`` passes it; no other caller should."""
        self.spark = spark
        self.table = table

    def _shape(self, batch: DataFrame,
               added_gate: dict[str, int] | None = None):
        """Project a raw change batch onto the table's current schema:
        key + op + lsn + payload columns, missing payload columns as
        typed nulls. Text extraction is deferred until AFTER
        dedup (returned as ``post``) so the Arrow UDF only ever runs on
        rows that survive the max-lsn race — at high update rates that
        is a large constant-factor saving.

        ``added_gate`` (column -> epoch it was ADDed in) keeps a
        coalesced multi-epoch batch faithful to sequential semantics:
        a value some event carried BEFORE the column's add-epoch would
        have been dropped by the per-epoch shape (the column wasn't in
        the table schema yet), so the coalesced shape nulls it out the
        same way instead of resurrecting it."""
        key = self.table.snapshot.key_col
        types = {f.name: f.dataType for f in self.table.snapshot.schema.fields}
        payload_cols = list(types)
        derive_text = "html" in batch.columns and "text" in payload_cols
        data = batch.filter(F.col("op") != "schema")
        cols = [F.col(key), F.col("op"), F.col("lsn")]
        for c in payload_cols:
            if c == key or (c == "text" and derive_text):
                continue
            if c in data.columns:
                expr = F.col(c)
                if added_gate and c in added_gate:
                    expr = F.when(F.col("epoch") >= F.lit(added_gate[c]),
                                  expr)
                cols.append(expr.alias(c))
            else:
                cols.append(F.lit(None).cast(types[c]).alias(c))
        post = (lambda df: df.withColumn("text", extract_text_udf(F.col("html")))) \
            if derive_text else None
        return data.select(*cols), post

    def run(self, change_log: DataFrame, epochs: list[int] | None = None,
            max_coalesce: int = 8) -> list[dict]:
        """Tail the log in epoch order (resumable: already-applied epochs
        short-circuit via the ledger).

        ONE upfront discovery yields every epoch's exact row count and
        schema directives, so serial pre-work is a single job regardless
        of epoch count — per-epoch serial cost is the Amdahl term of the
        whole apply path (BASELINE.md). A local epoch-partitioned
        parquet log reads its row counts from the parquet footers (a
        driver-side metadata read) and scans only the op=='schema' rows,
        pruned to three narrow columns; any other frame (a streaming
        micro-batch, a filtered view) counts rows in the same scan that
        collects the directives (collect_list skips the nulls of
        non-schema rows). An explicit ``epochs`` list applies just those
        epochs off the same discovery.

        A backlog COALESCES: runs of up to ``max_coalesce``
        consecutive pending epochs with no rename between them apply as
        ONE job — union the epochs, max-lsn dedup across the whole
        range, one survivor write, one atomic commit that ledgers every
        constituent epoch (merge_commit_batch). This is semantically
        transparent: lsn is globally monotone, so the per-key max-lsn
        survivor of the union is exactly the row sequential application
        would leave visible. What it buys is amortization of the per-epoch fixed
        cost that dominates small epochs — the Spark job itself
        (scheduling, python workers, one parquet open/close per bucket)
        against a commit+checkpoint of ~5 ms. ``max_coalesce=1`` is the
        sequential reference. A LIVE tail degenerates to batches of what
        has arrived — coalescing engages exactly when there's a backlog
        to catch up on, the same adaptive batching a Structured
        Streaming micro-batch trigger does.

        Batches run in epoch order on the caller's thread: alter ->
        shape -> prepare (scan, dedup, survivor write) -> commit, so every
        Spark job carries the caller's job group and description, and a
        cancel of that group stops the apply. The batch's summed row
        count is the one gate of the dedup plan, and it bounds the
        batch's distinct keys. A batch of at most one table slice
        (65,536 rows: a live-tail micro-batch) dedups with struct max_by
        inside the survivor write's job, so it costs discovery plus one
        apply job; a larger one takes the broadcast two-pass, whose four
        extra jobs pay for themselves on large batches; a pass 1
        that overflows the broadcast key cap falls back to struct max_by
        (_prepare_mor). On a failure nothing from that batch on commits
        and a rerun resumes from the ledger. Both write modes take this
        path: a CoW table folds each batch's survivors into the base rows
        of the buckets they touch in the batch's one commit (see
        LakeTable.merge_commit_batch). A frame with no rows discovers no
        epochs and commits nothing.
        """
        rows = _epoch_rows_from_footers(change_log)
        if rows is not None:
            desc: dict[int, list[str]] = {e: [] for e in rows}
            for r in (change_log.filter(F.col("op") == "schema")
                      .select("epoch", "schema_descriptor").collect()):
                desc.setdefault(r[0], []).append(r[1])
        else:
            found = (change_log.groupBy("epoch").agg(
                F.collect_list(F.when(F.col("op") == "schema",
                                      F.col("schema_descriptor"))).alias("ds"),
                F.count(F.lit(1)).alias("n"))
                .collect())
            rows = {r["epoch"]: int(r["n"]) for r in found}
            desc = {r["epoch"]: [d for d in r["ds"] if d] for r in found}
        if epochs is None:
            epochs = sorted(rows)
        return self._run_batched(change_log, epochs, desc, rows,
                                 max(max_coalesce, 1))

    def _batches(self, epochs: list[int], desc: dict,
                 max_coalesce: int) -> list[list[int]]:
        """Split pending epochs into coalescible runs, capped at
        ``max_coalesce``. Only consecutive epochs coalesce — a gap (an
        already-applied epoch in the middle, from a crashed earlier run)
        splits the run so each batch stays a contiguous, prunable epoch
        range. Schema-change epochs coalesce INTO a batch when every
        alter in them is an ADD or WIDEN (adds are epoch-gated in
        _shape; widens are lossless by definition, and the log's parquet
        column type is uniform across the whole file anyway); a RENAME
        still starts a fresh batch — the log's column identity changes
        mid-span, so pre-rename epochs must be shaped under the old
        name."""
        def must_split(e: int) -> bool:
            for d in desc.get(e, []) or []:
                if d and json.loads(d).get("type") == "rename":
                    return True
            return False

        out: list[list[int]] = []
        cur: list[int] = []
        for e in epochs:
            if cur and (must_split(e) or len(cur) >= max_coalesce
                        or e != cur[-1] + 1):
                out.append(cur)
                cur = []
            cur.append(e)
        if cur:
            out.append(cur)
        return out

    def _run_batched(self, change_log: DataFrame, epochs: list[int],
                     desc: dict, rows: dict[int, int],
                     max_coalesce: int) -> list[dict]:
        self.table.refresh()
        results: dict[int, dict] = {}
        pending: list[int] = []
        for e in epochs:
            ek = str(e)
            if ek in self.table.snapshot.ledger:
                results[e] = {**self.table.snapshot.ledger[ek],
                              "skipped": True}
            else:
                pending.append(e)
        for batch in self._batches(pending, desc, max_coalesce):
            # ALL the batch's alters in epoch order BEFORE shaping; adds
            # record their epoch so _shape can gate per-row exactly like
            # sequential application would
            alters: list[dict] = []
            added: dict[str, int] = {}
            for e in batch:
                for d in desc.get(e, []):
                    if not d:
                        continue
                    a = descriptor_to_alter(d)
                    alters.append(a)
                    if a["op"] == "add":
                        added[a["name"]] = e
            if alters:
                self.table.alter(alters)
            # contiguous range -> BETWEEN prunes the epoch= partition dirs
            # of the log at the source
            shaped, post = self._shape(
                change_log.filter(F.col("epoch").between(batch[0], batch[-1])),
                added_gate=added)
            # an epoch the discovery did not see has no rows in the log
            new_files, entry = self.table._prepare_mor(
                shaped, "op", "lsn", post,
                batch_rows=sum(rows.get(e, 0) for e in batch))
            got = self.table.merge_commit_batch(
                [str(e) for e in batch], new_files, entry)
            for e in batch:
                results[e] = got[str(e)]
        return [results[e] for e in epochs]

    # ---------------------------------------------------------- streaming

    def run_stream(self, log_dir: str, checkpoint_dir: str,
                   trigger: dict | None = None,
                   max_coalesce: int = 8):
        """LIVE tail: Structured Streaming file source over the growing
        epoch-partitioned change log, applied per micro-batch through
        the same run() path (coalescing + ledger).

        ``streaming.stream_cdc_apply`` also ends in run(), for an
        EPOCH-LESS stream: it stamps each micro-batch's id as its epoch.
        This method is for logs that carry their own epoch column — the
        ledger keys stay the log's epochs, so a resume (or a plain batch
        run()) remains interchangeable with the stream.

        Exactly-once composes from two layers: Spark's streaming
        checkpoint makes foreachBatch at-least-once over file arrivals,
        and the lake's epoch ledger makes re-delivered epochs no-ops —
        the classic idempotent-sink recipe, and the streaming analog of
        the reference's importer/active-partition path (import.cpp:70).

        Contract (the same one every file-based tail assumes): the
        producer publishes an epoch's files ATOMICALLY (write to a temp
        dir, rename into ``epoch=N/``) before the trigger that picks
        them up — a half-written epoch directory would commit a partial
        epoch whose remainder the ledger would then skip. Kafka-style
        sources don't have this constraint; for file logs it is the
        standard atomic-publish discipline.

        ``trigger`` maps straight to DataStreamWriter.trigger (e.g.
        ``{"availableNow": True}`` to drain the backlog and stop, or
        ``{"processingTime": "10 seconds"}`` for a continuous tail).
        Returns the StreamingQuery; results land in the table + ledger.
        """
        spark = self.spark
        schema = read_parquet(spark, log_dir).schema
        stream = spark.readStream.schema(schema).parquet(log_dir)

        def apply_batch(batch_df, batch_id):
            # an empty micro-batch discovers no epochs and commits nothing
            self.run(batch_df, max_coalesce=max_coalesce)

        writer = (stream.writeStream
                  .foreachBatch(apply_batch)
                  .option("checkpointLocation", checkpoint_dir))
        writer = writer.trigger(**(trigger or {"availableNow": True}))
        return writer.start()
