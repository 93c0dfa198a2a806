"""spark-submit entrypoint for the CDC apply pipeline (north rule: "run
via spark-submit --py-files on a multi-executor cluster").

Usage (what a cluster deployment runs; --master is any cluster manager):

    spark-submit --master local[8] \
        --py-files "$(python -c 'from tenzir_spark.session import \
package_pyfiles; print(package_pyfiles())')" \
        tools/cdc_submit_job.py <n_events> <lake_dir>

The job imports tenzir_spark ONLY from the --py-files zip (no repo path
injection), generates a deterministic change log, applies it epoch by
epoch through the exactly-once merge, asserts final-state equality
against the pure-Python reference replay, and prints one JSON line with
throughput + the per-partition lineage row count.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    lake_dir = sys.argv[2] if len(sys.argv) > 2 else None

    # spark-submit provides the session; --py-files put tenzir_spark.zip
    # on the path of driver AND executors
    from pyspark.sql import SparkSession

    from tenzir_spark.cdc import (
        CdcEngine,
        gen_change_log,
        pages_schema,
        replay,
    )
    from tenzir_spark.lake import LakeTable

    spark = SparkSession.builder.appName("tenzir-cdc-apply").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if lake_dir is None:
        import tempfile
        lake_dir = tempfile.mkdtemp(prefix="cdc_submit_lake_")

    log = gen_change_log(spark, n_events, n_domains=20, pages_per_domain=30,
                         events_per_epoch=max(n_events // 4, 1),
                         schema_change_every=3, seed=42)
    table = LakeTable.create(spark, lake_dir + "/pages", pages_schema(),
                             "url", num_buckets=8)
    engine = CdcEngine(spark, table)
    t0 = time.monotonic()
    engine.run(log)
    dt = time.monotonic() - t0

    # correctness: final table state equals the pure-Python replay.
    # The replay oracle runs on the driver, so it collects the change
    # log — exact by design at test scale; above the cap only the
    # engine-side invariants are asserted (the per-run equality is
    # pinned at small scale on the identical code path).
    state_equal = None
    if n_events <= 500_000:
        expected, _cols = replay([r.asDict() for r in log.collect()])
        got = {r["url"]: r.asDict() for r in table.read().collect()}
        assert set(got) == set(expected), (
            f"url sets differ: {len(got)} vs {len(expected)}")
        for url, row in expected.items():
            for k, v in row.items():
                g = got[url].get(k)
                if hasattr(g, "isoformat"):
                    g = g.isoformat(sep=" ")
                if hasattr(v, "isoformat"):
                    v = v.isoformat(sep=" ")
                assert g == v, f"{url}.{k}: {g!r} != {v!r}"
        state_equal = True
        n_final = len(got)
    else:
        n_final = table.read().count()
        assert n_final > 0
    lineage_rows = table.checkpoints().count()
    assert lineage_rows > 0
    print(json.dumps({
        "submitted_via": "spark-submit --py-files",
        "events": n_events,
        "apply_sec": round(dt, 3),
        "events_per_sec": round(n_events / dt, 1),
        "rows_final": n_final,
        "lineage_rows": lineage_rows,
        "state_equal_to_replay": state_equal,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
