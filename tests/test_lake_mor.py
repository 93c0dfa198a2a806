"""Merge-on-read mode: same semantics as CoW, different physics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark.lake import LakeTable
from tenzir_spark.lake.format import bucket_expr

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("v", T.LongType(), True),
])


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "url",
                            num_buckets=4, write_mode="mor")


def _merge(table, spark, rows, epoch):
    df = spark.createDataFrame(rows, "url string, op string, lsn long, v long")
    return table.merge(df, epoch)


def test_mor_insert_update_delete(table, spark):
    _merge(table, spark, [("a", "insert", 1, 10), ("b", "insert", 2, 20)], 0)
    _merge(table, spark, [("a", "update", 3, 11), ("c", "insert", 4, 30),
                          ("b", "delete", 5, None)], 1)
    got = {r.url: r.v for r in table.read().collect()}
    assert got == {"a": 11, "c": 30}


def test_mor_merge_appends_only(table, spark):
    _merge(table, spark, [(f"u{i}", "insert", i, i) for i in range(40)], 0)
    files_e0 = {f.path for f in table.snapshot.files}
    _merge(table, spark, [("u1", "update", 100, 999)], 1)
    files_e1 = {f.path for f in table.snapshot.files}
    assert files_e0 <= files_e1  # nothing rewritten — pure append
    assert all(f.kind == "delta" for f in table.snapshot.files)
    assert table.read().filter("url = 'u1'").collect()[0].v == 999


def test_mor_idempotent_replay(table, spark):
    _merge(table, spark, [("a", "insert", 1, 10)], 0)
    out = _merge(table, spark, [("a", "update", 9, 99)], 0)
    assert out.get("skipped") is True
    assert {r.url: r.v for r in table.read().collect()} == {"a": 10}


def _tombstones(table):
    """Keys with a delete row among the table's raw (unresolved) rows."""
    return {r.url for r in table.read(resolve=False)
            .filter(F.col("__op") == "delete").collect()}


def _keys_by_bucket(spark, num_buckets):
    rows = (spark.createDataFrame([(f"k{i}",) for i in range(64)], "url string")
            .select("url", bucket_expr("url", num_buckets).alias("b"))
            .collect())
    out = {}
    for r in rows:
        out.setdefault(r.b, []).append(r.url)
    return out


def test_mor_compaction_preserves_state(table, spark, tmp_path):
    """Compaction leaves the resolved read() unchanged, every file base
    and every tombstone in place (no purge asked for), on two inputs:
    merged deltas only, and appended base rows (unique keys, __lsn -1)
    under merges whose files span schema epochs (an add and a rename
    between merges)."""
    _merge(table, spark, [("a", "insert", 1, 10), ("b", "insert", 2, 20)], 0)
    _merge(table, spark, [("a", "update", 3, 11), ("b", "delete", 4, None),
                          ("c", "insert", 5, 30)], 1)
    before = {r.url: r.v for r in table.read().collect()}
    # a mixed compaction: "c"'s bucket holds one delta (re-tagged), the
    # others two (rewritten); both kinds publish in one snapshot
    buckets = [f.bucket for f in table.snapshot.files]
    assert sorted(buckets.count(b) for b in set(buckets)) == [1, 2, 2]
    version = table.snapshot.version
    table.compact()
    assert table.snapshot.version == version + 1
    after = {r.url: r.v for r in table.read().collect()}
    assert before == after == {"a": 11, "c": 30}
    assert all(f.kind == "base" for f in table.snapshot.files)
    assert _tombstones(table) == {"b"}
    # post-compaction read takes the no-shuffle fast path and stays correct
    _merge(table, spark, [("a", "update", 6, 12)], 2)
    assert {r.url: r.v for r in table.read().collect()} == {"a": 12, "c": 30}

    evolved = LakeTable.create(spark, str(tmp_path / "evolved"), SCHEMA,
                               "url", num_buckets=2, write_mode="mor")
    evolved.append(spark.createDataFrame([(f"p{i}", i) for i in range(8)],
                                         SCHEMA))
    _merge(evolved, spark, [("p0", "update", 1, 100), ("q0", "insert", 2, 7),
                            ("p1", "delete", 3, None)], 0)
    evolved.alter([{"op": "add", "name": "tag", "type": "string"}])
    evolved.merge(spark.createDataFrame(
        [("p2", "update", 4, 200, "x"), ("q1", "insert", 5, 8, "y"),
         ("p0", "delete", 6, None, None)],
        "url string, op string, lsn long, v long, tag string"), 1)
    evolved.alter([{"op": "rename", "from": "tag", "to": "label"}])
    evolved.merge(spark.createDataFrame(
        [("p3", "update", 7, 300, "z"), ("q0", "update", 8, 70, "w")],
        "url string, op string, lsn long, v long, label string"), 2)
    epochs = {}
    for f in evolved.snapshot.files:
        epochs.setdefault(f.bucket, set()).add(f.schema_epoch)
    assert max(len(e) for e in epochs.values()) > 1
    before = {r.url: r.asDict() for r in evolved.read().collect()}
    assert _tombstones(evolved) == {"p0", "p1"}
    evolved.compact()
    assert {r.url: r.asDict() for r in evolved.read().collect()} == before
    assert before["p3"] == {"url": "p3", "v": 300, "label": "z"}
    assert all(f.kind == "base" for f in evolved.snapshot.files)
    assert _tombstones(evolved) == {"p0", "p1"}


def test_mor_purge_deletes_below_lsn(table, spark):
    """compact(purge_deletes_below_lsn=w) drops every tombstone below w
    from both of its homes — a base file a rewrite compaction wrote and
    a lone delete delta a re-tag promoted — keeps a tombstone at w, and
    leaves a bucket whose base file holds no delete unwritten."""
    keys = _keys_by_bucket(spark, 4)
    rewritten, retagged, clean = sorted(keys)[:3]
    a1, a2, a3 = keys[rewritten][:3]
    b1, d1 = keys[retagged][0], keys[clean][0]
    _merge(table, spark, [(a1, "insert", 1, 1), (a2, "insert", 2, 2),
                          (a3, "insert", 3, 3), (d1, "insert", 4, 4)], 0)
    _merge(table, spark, [(a1, "delete", 10, None), (a3, "delete", 100, None),
                          (d1, "update", 5, 40)], 1)
    _merge(table, spark, [(b1, "delete", 11, None)], 2)
    table.compact()
    assert all(f.kind == "base" for f in table.snapshot.files)
    assert _tombstones(table) == {a1, a3, b1}
    before = {r.url: r.v for r in table.read().collect()}
    assert before == {a2: 2, d1: 40}
    clean_paths = {f.path for f in table.snapshot.files if f.bucket == clean}
    version = table.snapshot.version
    table.compact(purge_deletes_below_lsn=100)
    assert table.snapshot.version == version + 1
    assert _tombstones(table) == {a3}
    assert {r.url: r.v for r in table.read().collect()} == before
    assert {f.path for f in table.snapshot.files
            if f.bucket == clean} == clean_paths
    assert not [f for f in table.snapshot.files if f.bucket == retagged]
    assert all(f.kind == "base" for f in table.snapshot.files)


def test_mor_compact_single_delta_is_metadata_only(table, spark):
    """r6: a bucket holding ONE delta (one applied batch — per-key
    unique by the merge contract) is compacted by re-tagging the file
    base, not by rewriting it: same paths on disk, identical reads, and
    a later merge + compact still resolves through the promoted base."""
    rows0 = [(f"u{i}", "insert", i + 1, i) for i in range(16)]
    rows0.append(("gone", "delete", 99, None))  # tombstone rides the retag
    _merge(table, spark, rows0, 0)
    paths0 = {f.path for f in table.snapshot.files}
    before = {r.url: r.v for r in table.read().collect()}
    assert "gone" not in before
    table.compact()
    assert {f.path for f in table.snapshot.files} == paths0  # no rewrite
    assert all(f.kind == "base" for f in table.snapshot.files)
    assert {r.url: r.v for r in table.read().collect()} == before
    _merge(table, spark, [("u1", "update", 100, 999),
                          ("u2", "delete", 101, None)], 1)
    table.compact()  # promoted base + new delta -> rewrite path
    got = {r.url: r.v for r in table.read().collect()}
    assert got["u1"] == 999 and "u2" not in got and len(got) == 15
    assert all(f.kind == "base" for f in table.snapshot.files)


def test_mor_watermark_from_footers(table, spark):
    entry = _merge(table, spark, [("a", "insert", 41, 1), ("b", "insert", 77, 2)], 0)
    assert entry["lsn_watermark"] == 77
    assert entry["rows_applied"] == 2


def test_mor_schema_evolution(table, spark):
    _merge(table, spark, [("a", "insert", 1, 10)], 0)
    table.alter([{"op": "add", "name": "tags", "type": "string"}])
    df = spark.createDataFrame([("b", "insert", 2, 20, "x")],
                               "url string, op string, lsn long, v long, tags string")
    table.merge(df, 1)
    got = {r.url: (r.v, r.tags) for r in table.read().collect()}
    assert got == {"a": (10, None), "b": (20, "x")}
