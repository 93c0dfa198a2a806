"""Physical-plan audit: runs .explain(formatted) over the entry queries
and greps for the properties that matter at 100 TB — filters reaching
PushedFilters, pruned ReadSchema, broadcast joins on small dims, exchange
counts. Writes EXPLAIN.md.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tenzir_spark.session import get_spark  # noqa: E402

AUDIT = ["where_select", "summarize", "sort", "join_agg", "tpch_q6",
         "dedup_max_lsn", "top", "cosine_topk", "exact_dedup",
         # round-2 additions: the formerly-weak plans (global window /
         # signature-carrying shuffle) and the new expression surface
         "enumerate", "minhash_near_dups", "where_arith", "tql_pipeline",
         # round-3 additions: flat-scan pair stages + packet surface
         "simhash", "ngram_jaccard", "near_dup_composed", "decapsulate",
         "netflow",
         # round-5 additions: ANN variants + the syslog reader + the
         # exact embedding near-dup (broadcast NLJ, corpus never shuffles)
         "ann_lsh", "ivf_topk", "read_syslog", "embed_near_dups"]

# Engine-path plan audited by hand (not a board query); kept here so
# regenerating the file doesn't lose it.
CDC_FOOTER = """
## cdc one-slice dedup (engine path, `lake/table.py _prepare_mor`)

Not a board query — the plan `_prepare_mor` builds when the batch
holds at most one table slice (65,536 rows; every live-tail
micro-batch). The batch is repartitioned by bucket before its
`max_by` aggregate. Verified shape at local[4], 8 buckets, a 6,000-row
batch (6 epochs) read from an epoch-partitioned parquet log:

```
ArrowEvalPython extract_text_udf
+- SortAggregate(key=[__b, key], max_by(struct(payload), __lsn))
   +- SortAggregate(key=[__b, key], partial_max_by(...))
      +- Sort [__b, key]
         +- Exchange hashpartitioning(__b, nb), REPARTITION_BY_NUM
            +- scan (key, lsn, op, payload) + __b
```

- 1 exchange, 1 sort. `HashPartitioning(__b)` satisfies the
  aggregate's `ClusteredDistribution(__b, key)`, so no
  `hashpartitioning(__b, key)` exchange is planned, and the survivors
  leave the aggregate clustered by bucket for the write. AQE does not
  coalesce a `REPARTITION_BY_NUM` exchange.
- A slice's raw rows shuffle (at most 65,536); there is no map-side
  combine ahead of the exchange. `test_slice_route_plans_one_exchange`
  pins this shape and the other two.
- The at-scale fallback (no row count, or a pass 1 that overflows the
  broadcast key cap) keeps the map-side partial aggregate ahead of an
  `Exchange hashpartitioning(__b, key)` (the shape audited above as
  `dedup_max_lsn`), then the nb-partition bucket exchange: 2 exchanges.
  The map-side combine is its hot-key defense at scale.

## cdc broadcast two-pass dedup (engine path, `lake/table.py _prepare_mor`)

Not a board query — the plan `_prepare_mor` builds when the batch
holds more than one table slice (65,536 rows) and its row bound fits a
broadcast (r5). Verified shape at local[4], 16 buckets, 100k-event
batch (4 epochs):

```
pass 1 (eager localCheckpoint):
CollectLimit DEDUP_BCAST_KEYS+1
+- HashAggregate(final max(__lsn))
   +- Exchange hashpartitioning(key)      <- only exchange of the agg
      +- HashAggregate(partial max)       <- map-side combine, (key,lsn) only
         +- scan (key, lsn, op)

pass 2 (the delta write):
ArrowEvalPython extract_text_udf
+- Exchange hashpartitioning(__b, nb)     <- survivors only, bucket write
   +- BroadcastHashJoin LeftSemi BuildRight
      :- Filter lsn >= min(max lsn)       <- pushed to the parquet scan
      :  +- scan (payload columns)        <- full rows, NO shuffle
      +- BroadcastExchange
         +- Scan ExistingRDD[key, __mx]   <- the checkpointed pass 1
```

- 2 exchanges total: the narrow (key,lsn) aggregate and the final
  nb-partition bucket distribution of SURVIVORS. Payload rows reach the
  writer without ever hash-shuffling — the max_by fallback's
  survivors-only exchange is already gone here.
- `BroadcastHashJoin LeftSemi BuildRight`: the (key, max_lsn) set
  builds once per executor off the checkpoint, never re-running the
  aggregate; semantics pinned byte-identical to both struct `max_by`
  routes by `test_dedup_bcast_and_fallback_paths_identical`.
- The partial `HashAggregate` before the agg exchange is the Zipf
  hot-key defense: each input partition reduces a hot domain's rows to
  one (key, max) pair pre-shuffle.

## lake compaction (engine path, `lake/table.py compact`)

Not a board query — the frames `compact()` and the copy-on-write fold
hand to `_write_bucketed`. Verified shape of a merge-on-read rewrite
at local[4], 8 buckets, a bucket's delta files from two schema epochs
(an `add` between merges):

```
Project [__b, key, __r.*]
+- SortAggregate(key=[__b, key], max_by(struct(payload, __lsn, __op), __lsn))
   +- SortAggregate(key=[__b, key], partial_max_by(...))
      +- Sort [__b, key]
         +- Exchange hashpartitioning(__b, nb), REPARTITION_BY_NUM
            +- Union                       <- one scan per schema epoch
               :- scan (epoch 0 files) + typed nulls + __b
               +- scan (epoch 1 files) + __b
```

- 1 exchange, 1 sort: `_latest_per_bucket`, the one-slice plan above.
  Before, the rewrite grouped by key behind an
  `Exchange hashpartitioning(__b, key)` and then repartitioned by
  bucket: 2 exchanges. A key has at most one row per file in its
  bucket, so a map-side partial aggregate saves little here.
- The copy-on-write fold (base rows ∪ survivors, ranked) plans the
  same shape over a `__rank` order; a copy-on-write compaction is the
  bare bucket exchange (`_by_bucket`) over the scan.
  `test_lake_rewrites_plan_one_exchange` pins all three frames.
- `purge_deletes_below_lsn` adds a `Filter` above the aggregate and
  selects buckets from file stats: a file whose `__op` footer min/max
  brackets `delete` and whose `__lsn` min is below the watermark (or
  that lacks those stats) sends its bucket through the rewrite.
"""


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # render the full lineage: the r6 pre-orderBy lazy-checkpoint barrier
    # (see __spark_entry__._ckpt) otherwise truncates the audited plan at
    # a Scan ExistingRDD node (results identical either way)
    os.environ["TENZIR_SPARK_NO_CKPT"] = "1"
    spark = get_spark("explain_audit", master="local[4]", shuffle_partitions=4)
    qs = entrymod.queries()
    out = ["# EXPLAIN audit — physical-plan properties of headline queries",
           "", f"Generated from `tools/explain_audit.py` at `{sf_dir}`.", ""]
    for name in AUDIT:
        plan = plan_of(qs[name](spark, sf_dir))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        pushed = [p for p in pushed if p.strip()]
        read = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        if "BroadcastNestedLoopJoin" in plan:
            bcast = "yes (nested-loop: non-equi pair join, build side broadcast)"
        elif "BroadcastHashJoin" in plan:
            bcast = "yes"
        elif "Join" in plan:
            bcast = "NO"
        else:
            bcast = "n/a"
        codegen = "WholeStageCodegen" in plan or "codegen" in plan.lower()
        out.append(f"## {name}")
        out.append("")
        out.append(f"- exchanges: {n_ex}")
        out.append(f"- broadcast join: {bcast}")
        if pushed:
            out.append(f"- pushed filters: `{'; '.join(pushed)[:300]}`")
        if read:
            cols = read[0].split(",")
            out.append(f"- read schema ({len(cols)} cols): `{read[0][:200]}`")
        out.append("")
        flags = []
        if "Filter" in plan and not pushed and name in ("where_select", "tpch_q6"):
            flags.append("WARNING: filter did not push down")
        for f in flags:
            out.append(f"**{f}**")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "EXPLAIN.md"), "w") as fh:
        fh.write("\n".join(out) + "\n" + CDC_FOOTER)
    print("\n".join(out))


if __name__ == "__main__":
    main()
