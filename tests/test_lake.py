"""Lake format unit tests: snapshots, merge, schema evolution, ledger."""

from __future__ import annotations

import ast
import os
import pathlib
from dataclasses import replace

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tenzir_spark.lake import LakeTable
from tenzir_spark.lake.format import latest_snapshot

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("v", T.LongType(), True),
])


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "url", num_buckets=4)


def _merge(table, spark, rows, epoch):
    df = spark.createDataFrame(rows, "url string, op string, lsn long, v long")
    return table.merge(df, epoch)


def test_append_and_read(table, spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA)
    table.append(df)
    got = {r.url: r.v for r in table.read().collect()}
    assert got == {"a": 1, "b": 2}
    assert table.row_count() == 2


def test_merge_insert_update_delete(table, spark):
    _merge(table, spark, [("a", "insert", 1, 10), ("b", "insert", 2, 20)], 0)
    _merge(table, spark, [("a", "update", 3, 11), ("c", "insert", 4, 30),
                          ("b", "delete", 5, None)], 1)
    got = {r.url: r.v for r in table.read().collect()}
    assert got == {"a": 11, "c": 30}


def test_merge_is_idempotent(table, spark):
    _merge(table, spark, [("a", "insert", 1, 10)], 0)
    v1 = table.snapshot.version
    out = _merge(table, spark, [("a", "update", 9, 99)], 0)  # replay of epoch 0
    assert out.get("skipped") is True
    assert table.snapshot.version == v1
    got = {r.url: r.v for r in table.read().collect()}
    assert got == {"a": 10}


def test_copy_on_write_only_touched_buckets(table, spark):
    _merge(table, spark, [(f"u{i}", "insert", i, i) for i in range(40)], 0)
    files_before = {f.path: f.bucket for f in table.snapshot.files}
    _merge(table, spark, [("u1", "update", 100, 999)], 1)
    files_after = {f.path: f.bucket for f in table.snapshot.files}
    from tenzir_spark.lake.format import bucket_expr
    touched = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("u1")), F.lit(4)).cast("int")).collect()[0][0]
    # untouched buckets keep the same physical files
    for path, b in files_before.items():
        if b != touched:
            assert path in files_after
    assert any(p not in files_before for p in files_after)


def test_schema_evolution_add_rename_widen(table, spark):
    _merge(table, spark, [("a", "insert", 1, 10)], 0)
    table.alter([
        {"op": "add", "name": "tags", "type": "string"},
        {"op": "rename", "from": "v", "to": "val"},
    ])
    got = table.read().collect()[0]
    assert got.val == 10 and got.tags is None
    # new write with evolved schema merges with old files
    df = spark.createDataFrame([("b", "insert", 2, 20, "hot")],
                               "url string, op string, lsn long, val long, tags string")
    table.merge(df, 1)
    got = {r.url: (r.val, r.tags) for r in table.read().collect()}
    assert got == {"a": (10, None), "b": (20, "hot")}
    # idempotent re-apply of same alter ops
    v = table.snapshot.version
    table.alter([{"op": "add", "name": "tags", "type": "string"}])
    assert table.snapshot.version == v


def test_stats_pruning(table, spark):
    _merge(table, spark, [(f"u{i:03d}", "insert", i, i) for i in range(100)], 0)
    pruned = table.read(key_range=("u000", "u000"))
    full = table.read()
    assert {r.url for r in pruned.collect()} >= {"u000"}
    # pruning reads fewer files than the full scan unless all keys collide
    assert len(pruned.inputFiles()) <= len(full.inputFiles())


def test_checkpoint_lineage(table, spark):
    _merge(table, spark, [("a", "insert", 7, 1), ("b", "insert", 8, 2)], 3)
    cp = table.checkpoints().collect()
    assert all(r.checkpoint_epoch == 3 for r in cp)
    assert sum(r.rows_applied for r in cp) >= 2
    assert all(r.lsn_watermark == 8 for r in cp)


def test_compact(table, spark):
    for e in range(3):
        _merge(table, spark, [(f"k{e}_{i}", "insert", e * 10 + i, i) for i in range(5)], e)
    before = len(table.snapshot.files)
    table.compact()
    after = len(table.snapshot.files)
    assert after <= before
    assert table.read().count() == 15


def test_fileio_seam_custom_backend(spark, tmp_path):
    """All metadata I/O routes through the FileIO object (the Iceberg
    FileIO shape): a wrapper backend observes every snapshot publish and
    listing, proving an object-store backend is a swap, not a rewrite."""
    from tenzir_spark.lake.format import LocalFileIO

    class CountingIO(LocalFileIO):
        def __init__(self):
            self.puts = 0
            self.lists = 0
            self.atomic_puts = 0
            self.is_dirs = 0
            self.joins = 0
            self.mtimes = 0

        def put_if_absent(self, path, data):
            self.puts += 1
            return super().put_if_absent(path, data)

        def list(self, path):
            self.lists += 1
            return super().list(path)

        def put_atomic(self, path, data):
            self.atomic_puts += 1
            return super().put_atomic(path, data)

        def is_dir(self, path):
            self.is_dirs += 1
            return super().is_dir(path)

        def join(self, *parts):
            self.joins += 1
            return super().join(*parts)

        def mtime(self, path):
            self.mtimes += 1
            return super().mtime(path)

    io = CountingIO()
    t = LakeTable.create(spark, str(tmp_path / "io_t"), SCHEMA, "url",
                         num_buckets=2, io=io)
    _merge(t, spark, [("a", "insert", 1, 10), ("b", "insert", 2, 20)], 0)
    assert io.puts >= 2  # create + merge snapshots published through the seam
    assert io.lists >= 1  # data-file listing through the seam
    assert io.atomic_puts >= 1  # checkpoint parquet published through the seam
    assert io.joins >= 1  # metadata path composition through the seam
    # checkpoint read path routes through the seam too
    assert t.checkpoints().count() >= 1
    assert io.is_dirs >= 1
    # GC's orphan-mtime probe routes through the seam
    _merge(t, spark, [("a", "update", 3, 30)], 1)
    t.expire_snapshots(keep_last=1, grace_seconds=10**9)
    assert io.mtimes >= 1
    # reload through the same backend and verify state
    t2 = LakeTable.load(spark, str(tmp_path / "io_t"), io=io)
    assert {r.url: r.v for r in t2.read().collect()} == {"a": 30, "b": 20}
    # a schema change publishes its snapshot through the seam too
    puts = io.puts
    t2.alter([{"op": "add", "name": "tag", "type": "string"}])
    assert io.puts == puts + 1


def test_concurrent_merge_conflict_recomputes(spark, tmp_path):
    """Two writers merging different epochs into overlapping buckets must
    BOTH land (the round-1 bug dropped one silently): writer B's commit
    detects A's interleaved commit, recomputes against the refreshed
    table, and retries."""
    root = str(tmp_path / "ct")
    a = LakeTable.create(spark, root, SCHEMA, "url", num_buckets=2)
    b = LakeTable.load(spark, root)
    _merge(a, spark, [("a", "insert", 1, 1), ("b", "insert", 2, 2)], 0)
    b.refresh()
    # interleave: A commits epoch 1 while B holds a stale snapshot, then
    # B merges epoch 2 touching the same buckets
    _merge(a, spark, [("a", "update", 3, 30)], 1)
    _merge(b, spark, [("b", "update", 4, 40)], 2)
    a.refresh()
    got = {r.url: r.v for r in a.read().collect()}
    assert got == {"a": 30, "b": 40}  # neither epoch's update was lost
    assert set(a.snapshot.ledger) == {"0", "1", "2"}


def test_time_travel_read(spark, tmp_path):
    """Snapshots are immutable: loading an older version reads the table
    as of that commit (Iceberg snapshot-id semantics)."""
    root = str(tmp_path / "tt")
    t = LakeTable.create(spark, root, SCHEMA, "url", num_buckets=2)
    _merge(t, spark, [("a", "insert", 1, 10)], 0)
    v_after_first = t.snapshot.version
    _merge(t, spark, [("a", "update", 2, 99), ("b", "insert", 3, 30)], 1)
    now = {r.url: r.v for r in t.read().collect()}
    assert now == {"a": 99, "b": 30}
    old = LakeTable.load(spark, root, version=v_after_first)
    assert {r.url: r.v for r in old.read().collect()} == {"a": 10}


def test_alter_retries_through_concurrent_commit(spark, tmp_path):
    """Schema evolution racing a concurrent commit converges: the loser
    refreshes and replays its (idempotent) ops (SURVEY §7 hard part 5)."""
    root = str(tmp_path / "ar")
    a = LakeTable.create(spark, root, SCHEMA, "url", num_buckets=2)
    b = LakeTable.load(spark, root)
    # a commits data; b (stale snapshot) alters — its first snapshot
    # version collides with a's and must retry on the refreshed state
    _merge(a, spark, [("x", "insert", 1, 1)], 0)
    b.alter([{"op": "add", "name": "tags", "type": "string"}])
    a.refresh()
    assert "tags" in a.snapshot.schema.fieldNames()
    assert "0" in a.snapshot.ledger  # the data commit survived too
    # idempotent replay of the same alter is a no-op
    b.alter([{"op": "add", "name": "tags", "type": "string"}])
    assert [f.name for f in b.snapshot.schema.fields].count("tags") == 1


def test_replayed_widen_commits_once(spark, tmp_path):
    """A widen to the column's current type is a no-op like a re-add:
    three replays of the same widen-plus-add publish one snapshot and
    log each op once."""
    schema = T.StructType([T.StructField("url", T.StringType(), False),
                           T.StructField("n", T.IntegerType(), True)])
    table = LakeTable.create(spark, str(tmp_path / "w"), schema, "url",
                             num_buckets=2)
    version = table.snapshot.version
    ops = [{"op": "widen", "name": "n", "type": "bigint"},
           {"op": "add", "name": "tag", "type": "string"}]
    for _ in range(3):
        table.alter(ops)
    snap = table.refresh().snapshot
    assert snap.version == version + 1
    assert snap.schema_log == ops
    assert snap.schema["n"].dataType.simpleString() == "bigint"


def test_refresh_reads_only_a_newer_snapshot(spark, tmp_path, monkeypatch):
    """refresh() lists the snapshot versions and reads a snapshot only
    when a newer one than the handle's is published: snapshots are
    immutable, so a current handle (a live tail that is the table's one
    writer) pays a listing, not a read."""
    import tenzir_spark.lake.table as table_mod

    root = str(tmp_path / "rf")
    a = LakeTable.create(spark, root, SCHEMA, "url", num_buckets=2)
    b = LakeTable.load(spark, root)
    reads = []
    latest = table_mod.latest_snapshot

    def counting(*args, **kwargs):
        reads.append(1)
        return latest(*args, **kwargs)

    monkeypatch.setattr(table_mod, "latest_snapshot", counting)
    assert a.refresh().snapshot.version == 1 and not reads
    b.alter([{"op": "add", "name": "tags", "type": "string"}])
    reads.clear()
    assert a.refresh().snapshot.version == 2 and len(reads) == 1
    assert "tags" in a.snapshot.schema.fieldNames()


def test_expire_snapshots_reclaims_replaced_files(spark, tmp_path):
    """CoW merges replace bucket files; expire_snapshots reclaims every
    file no retained snapshot references, and the live read is intact."""
    root = str(tmp_path / "gc")
    t = LakeTable.create(spark, root, SCHEMA, "url", num_buckets=2)
    for e in range(3):  # repeated updates -> several superseded file sets
        _merge(t, spark, [("a", "update", e * 2 + 1, e), ("b", "update", e * 2 + 2, e * 10)], e)
    import os as _os
    data_root = _os.path.join(root, "data")
    before = len(t.io.walk_files(data_root))
    # grace=0: this test has no concurrent writer, reclaim immediately
    res = t.expire_snapshots(keep_last=1, grace_seconds=0)
    after = len([p for p in t.io.walk_files(data_root) if p.endswith(".parquet")])
    assert res["snapshots_removed"] >= 2 and res["files_removed"] >= 1
    assert after < before
    # a commit dir whose parquet was reclaimed goes whole: no _SUCCESS or
    # .crc sidecars stay behind without a referenced file
    live = {f.path.split("/")[1] for f in t.snapshot.files}
    left = {n for n in _os.listdir(data_root) if n.startswith("commit-")}
    assert left == live and res["dirs_removed"] >= 1
    assert {r.url: r.v for r in t.read().collect()} == {"a": 2, "b": 20}
    # ledger survives inside the retained snapshot (idempotency intact)
    assert set(t.snapshot.ledger) == {"0", "1", "2"}


def test_expire_grace_protects_young_orphans(spark, tmp_path):
    """The orphan-file grace window (Iceberg remove_orphan_files
    semantics): an unreferenced data file younger than the window is an
    in-flight commit's file until proven abandoned — GC must skip it.
    Once it ages past the window it is reclaimed."""
    import os as _os

    root = str(tmp_path / "gcg")
    t = LakeTable.create(spark, root, SCHEMA, "url", num_buckets=2)
    _merge(t, spark, [("a", "insert", 1, 1)], 0)
    # simulate a concurrent merge mid-flight: data written, snapshot not
    # yet published
    orphan_dir = _os.path.join(root, "data", "commit-inflight", "__b=0")
    _os.makedirs(orphan_dir)
    orphan = _os.path.join(orphan_dir, "part-00000.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1 pretend")
    res = t.expire_snapshots(keep_last=1)  # default 1h grace
    assert _os.path.exists(orphan), "young orphan deleted inside grace window"
    assert res["files_removed"] == 0
    # abandoned file (writer crashed): ages out, then reclaimed
    _os.utime(orphan, (1, 1))
    res = t.expire_snapshots(keep_last=1)
    assert not _os.path.exists(orphan)
    assert res["files_removed"] == 1


def test_gc_concurrent_with_merge_race(spark, tmp_path):
    """expire_snapshots racing live merges must never delete a file a
    committed snapshot references (round-2 verdict wrong-item #1: GC ran
    between a merge's file write and its snapshot publish and deleted the
    new files). With the grace window, every snapshot committed during
    the race points only at files that still exist."""
    import os as _os
    import threading

    root = str(tmp_path / "gcr")
    t = LakeTable.create(spark, root, SCHEMA, "url", num_buckets=2)
    gc_table = LakeTable.load(spark, root)
    stop = threading.Event()
    gc_stats = {"runs": 0}

    def gc_loop():
        while not stop.is_set():
            gc_table.expire_snapshots(keep_last=2)  # default grace window
            gc_stats["runs"] += 1

    g = threading.Thread(target=gc_loop)
    g.start()
    try:
        for e in range(10):
            _merge(t, spark, [("a", "update", e + 1, e), ("b", "upsert", e + 1, e * 10)], e)
    finally:
        stop.set()
        g.join()
    assert gc_stats["runs"] >= 1
    t.refresh()
    # every file the final snapshot references must exist
    for f in t.snapshot.files:
        assert _os.path.exists(_os.path.join(root, f.path)), f.path
    assert {r.url: r.v for r in t.read().collect()} == {"a": 9, "b": 90}
    assert set(t.snapshot.ledger) == {str(e) for e in range(10)}


def test_empty_epoch_releases_persist(table, spark):
    """The empty-change-set early return must still unpersist the change
    cache (the round-3 leak class: persist at the top, return before the
    try/finally that owned the release)."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    empty = spark.createDataFrame([], "url string, op string, lsn long, v long")
    entry = table.merge(empty, 0)
    assert entry["rows_applied"] == 0
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before, "empty-epoch merge leaked a persisted RDD"
    # replay of the committed empty epoch stays a ledger no-op
    assert table.merge(empty, 0).get("skipped") is True


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_out_of_order_lsn_rule_per_write_mode(spark, tmp_path, mode):
    """The lsn rule of each write mode, pinned: a copy-on-write merge
    overwrites the stored row whatever its lsn (base rows rank below
    every change), while merge-on-read keeps the higher-lsn row. An
    empty copy-on-write batch still ledgers its epoch."""
    t = LakeTable.create(spark, str(tmp_path / mode), SCHEMA, "url",
                         num_buckets=2, write_mode=mode)
    _merge(t, spark, [("a", "insert", 10, 1), ("b", "insert", 11, 2)], 0)
    _merge(t, spark, [("a", "update", 5, 99)], 1)
    got = {r.url: r.v for r in t.read().collect()}
    assert got == {"a": 99 if mode == "cow" else 1, "b": 2}
    if mode == "cow":
        empty = spark.createDataFrame(
            [], "url string, op string, lsn long, v long")
        assert t.merge(empty, 2)["rows_applied"] == 0
        assert t.refresh().snapshot.ledger["2"]["rows_applied"] == 0
        assert {r.url: r.v for r in t.read().collect()} == got


def test_merge_stats_failure_releases_persist(table, spark, monkeypatch):
    """An exception inside the stats collect (before the merge loop) must
    not leak the change-set cache either."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = spark.createDataFrame([("a", "insert", 1, 10)],
                               "url string, op string, lsn long, v long")
    # poison the commit that the empty/normal path reaches
    monkeypatch.setattr(table, "_write_bucketed",
                        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        table.merge(df, 0)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before, "failed merge leaked a persisted RDD"


def test_fileio_seam_path_rewriting_backend(spark, tmp_path):
    """A backend with its own path language (join inserts '/./', relpath
    and normpath are the backend's string ops, not os.path) must run the
    full create/merge/GC/reload cycle: proves the lake composes and
    compares paths only through the seam, the object-store contract."""
    from tenzir_spark.lake.format import LocalFileIO

    class RewritingIO(LocalFileIO):
        def __init__(self):
            self.relpaths = 0
            self.normpaths = 0

        def join(self, *parts):
            # non-canonical separator os.path.join would never produce
            return "/./".join(p.rstrip("/") for p in parts)

        def relpath(self, path, start):
            self.relpaths += 1
            pref = start.rstrip("/")
            assert path.startswith(pref), (path, start)
            return path[len(pref):].lstrip("/").removeprefix("./").lstrip("/")

        def normpath(self, path):
            self.normpaths += 1
            out = path.replace("/./", "/")
            while "//" in out:
                out = out.replace("//", "/")
            return out

    io = RewritingIO()
    t = LakeTable.create(spark, str(tmp_path / "rw_t"), SCHEMA, "url",
                         num_buckets=2, io=io)
    _merge(t, spark, [("a", "insert", 1, 10), ("b", "insert", 2, 20)], 0)
    _merge(t, spark, [("a", "update", 3, 30)], 1)
    assert io.relpaths >= 1, "data-file rel paths must come from the seam"
    # stored rel paths carry the backend's separators yet resolve via join
    assert {r.url: r.v for r in t.read().collect()} == {"a": 30, "b": 20}
    # GC identity comparisons go through the backend's normpath and must
    # not delete referenced files despite the non-canonical '/./' parts
    out = t.expire_snapshots(keep_last=1, grace_seconds=0)
    assert io.normpaths >= 1
    assert {r.url: r.v for r in t.read().collect()} == {"a": 30, "b": 20}
    t2 = LakeTable.load(spark, str(tmp_path / "rw_t"), io=io)
    assert {r.url: r.v for r in t2.read().collect()} == {"a": 30, "b": 20}
    assert t2.checkpoints().count() >= 2


# ---------------------------------------------------- disk-budget purge

def test_purge_to_budget_noop_under_high_water(table, spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA)
    table.append(df)
    out = table.purge_to_budget(high_bytes=1 << 40, low_bytes=1 << 30)
    assert out["evicted"] == 0
    assert out["bytes_before"] == out["bytes_after"] > 0
    assert table.row_count() == 2


def test_purge_to_budget_evicts_oldest_first(table, spark):
    """disk_monitor.cpp sorts partitions by mtime and erases the oldest
    first; eviction stops at the LOW water mark (hysteresis), not the
    high one."""
    import os as _os
    import time as _time

    for i in range(4):
        table.append(spark.createDataFrame([(f"k{i}", i)], SCHEMA))
    paths = [f.path for f in table.snapshot.files]
    assert len(paths) >= 4
    # pin distinct mtimes so age order is deterministic on coarse clocks
    for age, p in enumerate(paths):
        full = _os.path.join(table.root, p)
        t = _time.time() - 1000 + age
        _os.utime(full, (t, t))
    sizes = {p: _os.path.getsize(_os.path.join(table.root, p)) for p in paths}
    total = sum(sizes.values())
    # low water mark that forces exactly the two oldest files out
    low = total - sizes[paths[0]] - sizes[paths[1]] + 1
    out = table.purge_to_budget(high_bytes=low, low_bytes=low, step=1)
    assert out["evicted"] == 2
    live = {f.path for f in table.snapshot.files}
    assert paths[0] not in live and paths[1] not in live
    assert paths[2] in live and paths[3] in live
    got = {r.url for r in table.read().collect()}
    assert got == {"k2", "k3"}  # lossy retention: oldest rows gone
    # the eviction is a snapshot commit: reload sees the same state
    t2 = LakeTable.load(spark, table.root)
    assert {r.url for r in t2.read().collect()} == {"k2", "k3"}


def test_purge_to_budget_validates_config(table):
    with pytest.raises(ValueError, match="step size"):
        table.purge_to_budget(10, 5, step=0)
    with pytest.raises(ValueError, match="water mark"):
        table.purge_to_budget(5, 10)


def test_verify_repairs_drift_without_losing_a_racing_merge(spark, tmp_path):
    """verify(repair=True) corrects drifted entries in whatever snapshot
    is latest when it commits: a merge that a stale handle committed
    after the probe keeps its files and its ledger entry."""
    root = str(tmp_path / "vr")
    t = LakeTable.create(spark, root, SCHEMA, "url", num_buckets=4,
                         write_mode="mor")
    _merge(t, spark, [(f"u{i}", "insert", i + 1, i) for i in range(12)], 0)
    stale = LakeTable.load(spark, root)
    good = t.snapshot.files[0]
    drifted = replace(good, rows=good.rows + 7, stats={
        **good.stats, "url": {"min": "zz", "max": "zz", "nulls": 0}})
    t._commit(lambda snap: {"files": [drifted, *snap.files[1:]]})
    key = good.stats["url"]["min"]

    def pruned_hits():
        return t.read(key_range=(key, key)).filter(F.col("url") == key).count()

    assert pruned_hits() == 0  # the drifted bounds prune the key's file

    _merge(stale, spark, [("late", "insert", 100, 1)], 1)
    racing = {f.path for f in stale.snapshot.files} - {f.path for f in t.snapshot.files}
    assert racing

    report = t.verify(repair=True)
    assert report == {"checked": len(t.snapshot.files) - len(racing),
                      "missing": [],
                      "mismatched": [{"path": good.path,
                                      "recorded_rows": good.rows + 7,
                                      "actual_rows": good.rows}],
                      "repaired": True}
    latest = latest_snapshot(root)
    assert t.snapshot == latest
    assert racing <= {f.path for f in latest.files}
    assert set(latest.ledger) == {"0", "1"}
    assert next(f for f in latest.files if f.path == good.path) == good
    assert pruned_hits() == 1
    assert t.verify() == {"checked": len(latest.files), "missing": [],
                          "mismatched": [], "repaired": False}

    os.remove(os.path.join(root, good.path))
    report = t.verify(repair=True)
    assert [m["path"] for m in report["missing"]] == [good.path]
    assert not report["mismatched"] and report["repaired"] is False


def _calls_by_scope(tree: ast.AST) -> list[tuple[str, str, int]]:
    """(called name, enclosing class/function path, line) of every call."""
    out = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef)):
                visit(child, (*scope, child.name))
                continue
            if isinstance(child, ast.Call):
                fn = child.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", None)
                out.append((name, ".".join(scope), child.lineno))
            visit(child, scope)

    visit(tree, ())
    return out


def test_snapshots_publish_only_through_commit():
    """Every table mutation publishes through LakeTable._commit, the one
    optimistic compare-and-swap: write_snapshot_atomic is called only by
    it and by create, and a Snapshot is only built by create and when
    read back from JSON (every other one is a dataclasses.replace of the
    latest snapshot)."""
    root = pathlib.Path(__file__).resolve().parent.parent
    calls = []
    for path in sorted((root / "tenzir_spark").rglob("*.py")):
        for name, scope, line in _calls_by_scope(ast.parse(path.read_text())):
            if name in ("write_snapshot_atomic", "Snapshot"):
                calls.append((name, scope, f"{path.relative_to(root)}:{line}"))
    publishes = sorted(scope for name, scope, _ in calls
                       if name == "write_snapshot_atomic")
    assert publishes == ["LakeTable._commit", "LakeTable.create"], calls
    builds = sorted(scope for name, scope, _ in calls if name == "Snapshot")
    assert builds == ["LakeTable.create", "Snapshot.from_json"], calls
