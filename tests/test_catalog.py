"""The session source catalog behind ``formats.read_parquet``: a read of
an unchanged source launches no schema-inference job and plans the same
frame as Spark's inferred read; any change to the files under a source
infers again."""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from tenzir_spark.sources import formats as fmt


@pytest.fixture
def catalog(monkeypatch):
    cat = fmt.SchemaCatalog()
    monkeypatch.setattr(fmt, "SOURCE_CATALOG", cat)
    return cat


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched. The status
    store fills from the listener bus in order, so once a later fence
    job shows, every job ``fn`` launched has shown too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = f"catalog-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(tag, tag)
        out = fn()
        sc.setJobGroup(tag + "-fence", "fence")
        spark.range(1).collect()
        for _ in range(200):
            if tracker.getJobIdsForGroup(tag + "-fence"):
                break
            time.sleep(0.05)
        else:
            raise AssertionError("fence job never reached the tracker")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(tracker.getJobIdsForGroup(tag))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _same_as_inferred(spark, df, *paths, **options):
    ref = spark.read.options(**options).parquet(*paths)
    assert df.schema == ref.schema
    assert _rows(df) == _rows(ref)


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_second_read_launches_no_job(spark, tmp_path, catalog):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3], b=["x", "y", "z"])
    _, first = _jobs(spark, lambda: fmt.read_parquet(spark, path))
    df, second = _jobs(spark, lambda: fmt.read_parquet(spark, path))
    assert first >= 1 and second == 0
    assert len(catalog) == 1
    _same_as_inferred(spark, df, path)


def test_rewritten_file_with_added_column_infers_again(spark, tmp_path, catalog):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2])
    fmt.read_parquet(spark, path)
    _write(path, a=[1, 2, 3], c=[0.5, 1.5, 2.5])
    df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, path))
    assert jobs >= 1 and df.columns == ["a", "c"]
    _same_as_inferred(spark, df, path)


def test_added_and_deleted_file_infer_again(spark, tmp_path, catalog):
    d = tmp_path / "dir"
    d.mkdir()
    _write(str(d / "part-0.parquet"), a=[1, 2])
    opts = {"mergeSchema": "true"}
    fmt.read_parquet(spark, str(d), **opts)
    _write(str(d / "part-1.parquet"), a=[3], c=["new"])
    df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, str(d), **opts))
    assert jobs >= 1 and df.columns == ["a", "c"] and df.count() == 3
    _same_as_inferred(spark, df, str(d), **opts)
    os.remove(d / "part-1.parquet")
    df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, str(d), **opts))
    assert jobs >= 1 and df.columns == ["a"] and df.count() == 2
    _same_as_inferred(spark, df, str(d), **opts)


def test_new_epoch_partition_infers_again(spark, tmp_path, catalog):
    log = str(tmp_path / "log")

    def publish(epoch):
        rows = [(f"u{epoch}-{i}", "upsert", epoch * 10 + i, epoch) for i in range(3)]
        (spark.createDataFrame(rows, "url string, op string, lsn long, epoch int")
         .write.mode("append").partitionBy("epoch").parquet(log))

    publish(0)
    publish(1)
    fmt.read_parquet(spark, log)
    df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, log))
    inferred = spark.read.parquet(log).schema
    assert jobs == 0
    # the partition column keeps the inferred read's position and type
    assert df.schema.fieldNames().index("epoch") == inferred.fieldNames().index("epoch")
    assert df.schema["epoch"].dataType == inferred["epoch"].dataType
    _same_as_inferred(spark, df, log)
    publish(2)
    df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, log))
    assert jobs >= 1
    assert sorted(r.epoch for r in df.select("epoch").distinct().collect()) == [0, 1, 2]
    _same_as_inferred(spark, df, log)


def test_inference_conf_change_infers_again(spark, tmp_path, catalog):
    """With partition type inference off, an inferred read types the
    partition column as string; a schema kept from a read with it on
    would still say int."""
    log = str(tmp_path / "log")
    (spark.createDataFrame([("a", 0), ("b", 1)], "url string, epoch int")
     .write.partitionBy("epoch").parquet(log))
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    assert fmt.read_parquet(spark, log).schema["epoch"].dataType == T.IntegerType()
    spark.conf.set(conf, "false")
    try:
        df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, log))
        assert jobs >= 1 and df.schema["epoch"].dataType == T.StringType()
        _same_as_inferred(spark, df, log)
    finally:
        spark.conf.unset(conf)
    assert len(catalog) == 2


def test_options_are_separate_entries(spark, tmp_path, catalog):
    d = tmp_path / "dir"
    d.mkdir()
    _write(str(d / "part-0.parquet"), a=[1])
    _write(str(d / "part-1.parquet"), a=[2], c=["x"])
    merged = fmt.read_parquet(spark, str(d), mergeSchema="true")
    fmt.read_parquet(spark, str(d), mergeSchema="false")
    assert len(catalog) == 2 and merged.columns == ["a", "c"]
    for opt in ("true", "false"):
        df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, str(d), mergeSchema=opt))
        assert jobs == 0
        _same_as_inferred(spark, df, str(d), mergeSchema=opt)


def test_file_uri_is_cached(spark, tmp_path, catalog):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2])
    uri = "file://" + path
    fmt.read_parquet(spark, uri)
    df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, uri))
    assert jobs == 0 and len(catalog) == 1
    _same_as_inferred(spark, df, uri)


def test_glob_and_remote_paths_bypass(spark, tmp_path, catalog):
    d = tmp_path / "dir"
    d.mkdir()
    _write(str(d / "part-0.parquet"), a=[1, 2])
    glob = str(d / "*.parquet")
    for _ in range(2):
        df, jobs = _jobs(spark, lambda: fmt.read_parquet(spark, glob))
        assert jobs >= 1
    _same_as_inferred(spark, df, glob)
    # a scheme no filesystem serves: the read fails exactly as Spark's
    with pytest.raises(Exception):
        fmt.read_parquet(spark, "nosuchfs://bucket/t.parquet")
    assert len(catalog) == 0


def test_failed_first_read_caches_nothing(spark, tmp_path, catalog):
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception):
        fmt.read_parquet(spark, str(empty))
    assert len(catalog) == 0


def test_lru_bound_holds(catalog):
    schema = T.StructType([T.StructField("a", T.LongType())])
    n = fmt.CATALOG_ENTRIES
    for i in range(n):
        catalog.put((i,), b"sig", schema)
    assert catalog.get((0,), b"sig") is schema  # now the most recent
    for i in range(n, n + 10):
        catalog.put((i,), b"sig", schema)
    assert len(catalog) == n
    assert catalog.get((0,), b"sig") is schema
    assert all(catalog.get((i,), b"sig") is None for i in range(1, 11))
    assert catalog.get((n + 9,), b"other") is None  # files changed since


def test_concurrent_readers_keep_entries_consistent(catalog):
    """Threads sharing the catalog: every get returns the schema put for
    its own key, and the bound holds, under a short switch interval."""
    schemas = [T.StructType([T.StructField(f"c{i}", T.LongType())])
               for i in range(2 * fmt.CATALOG_ENTRIES)]
    errors: list[str] = []

    def worker(seed):
        for k in range(seed, len(schemas), 3):
            catalog.put((k,), b"sig", schemas[k])
            got = catalog.get((k,), b"sig")
            if got is not None and got is not schemas[k]:
                errors.append(f"key {k}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i % 3,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(catalog) == fmt.CATALOG_ENTRIES


def _chain(node):
    """Attribute names and call arguments along a method chain, from the
    outermost call back to its root name."""
    names, args = [], []
    while True:
        if isinstance(node, ast.Call):
            args += [a.value for a in node.args if isinstance(a, ast.Constant)]
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names, args


def test_parquet_reads_go_through_the_catalog():
    """Every batch parquet read in the engine and the driver contract
    goes through ``formats.read_parquet``, so no query pays a schema
    inference job for a source the catalog already holds. Streaming
    sources (``readStream``) keep their explicit schema."""
    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "__spark_entry__.py", *sorted((root / "tenzir_spark").rglob("*.py"))]
    bypasses = []
    for path in files:
        tree = ast.parse(path.read_text())
        allowed = set()
        for fn in ast.walk(tree):
            if (path.name == "formats.py" and isinstance(fn, ast.FunctionDef)
                    and fn.name == "read_parquet"):
                allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (not isinstance(node, ast.Call) or id(node) in allowed
                    or not isinstance(node.func, ast.Attribute)):
                continue
            names, args = _chain(node)
            is_parquet = names[0] == "parquet" or (
                names[0] == "load" and "parquet" in args)
            reads = "read" in names or any("reader" in n.lower() for n in names)
            if is_parquet and reads and "readStream" not in names:
                bypasses.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not bypasses, f"parquet reads around formats.read_parquet: {bypasses}"
