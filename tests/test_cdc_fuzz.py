"""Randomized north-rule fuzz: for random log shapes (epoch size, schema-
change cadence, an injected mid-stream RENAME), random engine knobs
(coalesce width, MoR vs CoW) and a random crash/resume split,
the engine's final table state must equal the pure-Python reference
replay byte-for-byte and re-application must be a no-op (exactly-once).

This generalizes the pinned cases in test_cdc.py the same way the
reference fuzzes its pipeline executor with random operator chains
(tenzir/libtenzir/test/pipeline.cpp randomized round trips): the oracle
is an independent sequential interpreter, the system under test a
parallel, coalescing, resumable one.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tenzir_spark.cdc import CdcEngine, gen_change_log, pages_schema, replay
from tenzir_spark.lake import LakeTable

_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


def _inject_rename(spark, log, epoch: int, epoch_size: int):
    """A mid-stream {"type":"rename","from":"lang","to":"language"}
    descriptor at ``epoch``'s first lsn (the generator's own convention
    for schema rows)."""
    desc = json.dumps({"type": "rename", "from": "lang", "to": "language"})
    row = [(int(epoch) * epoch_size, "schema", None, int(epoch), desc)]
    extra = spark.createDataFrame(
        row, "lsn long, op string, url string, epoch int, schema_descriptor string")
    from pyspark.sql import functions as F
    extra = (extra.withColumn("warc_ts", F.lit(None).cast("timestamp"))
             .withColumn("html", F.lit(None).cast("binary"))
             .withColumn("lang", F.lit(None).cast("string")))
    return log.unionByName(extra.select(log.columns))


def _assert_state_equals_replay(table, log_rows):
    expected, columns = replay(log_rows)
    got = {r["url"]: r.asDict() for r in table.read().collect()}
    assert set(got) == set(expected), (
        f"url sets differ: +{sorted(set(got) - set(expected))[:3]} "
        f"-{sorted(set(expected) - set(got))[:3]}")
    for url, exp_row in expected.items():
        got_row = got[url]
        for c in columns:
            g, e = got_row.get(c), exp_row.get(c)
            if isinstance(g, bytearray):
                g = bytes(g)
            if isinstance(e, bytearray):
                e = bytes(e)
            if c == "warc_ts" and g is not None:
                g = g.replace(tzinfo=None)
            assert g == e, f"{url}.{c}: {g!r} != {e!r}"


@_settings
@given(
    n_epochs=st.integers(3, 7),
    epoch_size=st.sampled_from([40, 70, 110]),
    schema_every=st.integers(2, 5),
    max_coalesce=st.sampled_from([1, 2, 3, 8]),
    rename_at=st.one_of(st.none(), st.integers(1, 6)),
    crash_after=st.integers(0, 6),
    mode=st.sampled_from(["mor", "mor", "cow"]),
    seed=st.integers(0, 10_000),
)
def test_randomized_replay_equality(spark, tmp_path_factory, n_epochs,
                                    epoch_size, schema_every, max_coalesce,
                                    rename_at, crash_after, mode,
                                    seed):
    n_events = n_epochs * epoch_size
    log = gen_change_log(
        spark, n_events, n_domains=6, pages_per_domain=8,
        events_per_epoch=epoch_size, schema_change_every=schema_every,
        seed=seed,
    )
    if rename_at is not None and 0 < rename_at < n_epochs \
            and rename_at % schema_every != 0:
        # keep the rename out of add-epochs: two schema rows sharing one
        # lsn have no defined relative order in the log
        log = _inject_rename(spark, log, rename_at, epoch_size)
    log_rows = [r.asDict() for r in log.collect()]

    root = str(tmp_path_factory.mktemp("fuzz") / "pages")
    table = LakeTable.create(spark, root, pages_schema(), "url",
                             num_buckets=4, write_mode=mode)
    engine = CdcEngine(spark, table)

    # crash/resume: apply a prefix, then a FRESH engine resumes the whole
    # log from the ledger (fresh-process semantics)
    prefix = min(crash_after, n_epochs - 1)
    if prefix:
        engine.run(log, epochs=list(range(prefix)),
                   max_coalesce=max_coalesce)
        table = LakeTable.load(spark, root)
        engine = CdcEngine(spark, table)
    engine.run(log, max_coalesce=max_coalesce)

    _assert_state_equals_replay(table, log_rows)

    # exactly-once: a full replay storm is a no-op
    v = table.snapshot.version
    again = engine.run(log, max_coalesce=max_coalesce)
    assert all(r.get("skipped") for r in again)
    assert table.snapshot.version == v
