"""SparkSession factory with scale-aware defaults.

Defaults mirror what we would set on a 1000-executor cluster, adapted to
``local[N]``: AQE on (runtime coalesce + skew-join splitting), Arrow
enabled for the pandas-UDF path, UTC session timezone so results compare
bit-for-bit against external oracles, shuffle partitions sized to cores
instead of the 200 default.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys
import tempfile
import uuid
import zipfile
import zipimport

from pyspark.sql import SparkSession


def _defer_zip_directory_reads() -> None:
    """Backport CPython 3.13's lazy ``zipimporter`` directory cache.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
    Before 3.13 each ``zipimporter`` then re-reads its archive's whole
    central directory: a worker holds ~24 of them (pyspark.zip, the
    spark-core jar, the tenzir_spark zip, py4j), about 27k entries parsed per
    task, 0.1-0.2 s of fixed cost per task that dwarfs a small
    micro-batch's UDF work. 3.13 only drops the cached directory and re-reads it at the
    next lookup; this does the same. Every worker that unpickles an
    engine UDF imports this module, so its later tasks skip the re-scan.
    Remove once the minimum supported Python is 3.13."""
    if sys.version_info >= (3, 13):
        return

    def _files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(
                    self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    # __init__ assigns _files (before archive) after caching the
    # directory itself, so the setter has nothing to store
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_defer_zip_directory_reads()


def package_pyfiles(out_dir: str | None = None) -> str:
    """Zip the tenzir_spark package for executor shipping.

    This is the artifact you would pass to ``spark-submit --py-files``
    on a real cluster; locally get_spark() addPyFile()s it so pandas-UDF
    workers can import the package regardless of the driver's cwd.

    The zip is named by a digest of the package directory, so two
    checkouts that share ``out_dir`` never ship each other's code, and
    it is written under a temporary name and renamed into place, so a
    process that opens it meanwhile sees a whole archive.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out_dir = out_dir or tempfile.gettempdir()
    digest = hashlib.sha256(pkg_dir.encode()).hexdigest()[:16]
    zip_path = os.path.join(out_dir, f"tenzir_spark-{digest}.zip")
    tmp = f"{zip_path}.{uuid.uuid4().hex}.tmp"
    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                if "__pycache__" in dirpath:
                    continue
                for name in filenames:
                    if not name.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, name)
                    rel = os.path.join("tenzir_spark",
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        os.replace(tmp, zip_path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
    return zip_path


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEM`` is unset: half of the
    machine's physical memory, at most 32g. The bounded driver collects
    (the ngram broadcast-index build) want a large heap, but one larger
    than the machine lets the JVM grow into the OOM killer."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "32g"
    return f"{max(1, min(32 << 10, phys // 2 >> 20))}m"


def get_spark(
    app_name: str = "tenzir_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (else ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this to ~2-3x total executor cores and rely on
    AQE coalescing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = max(int(cpus), 4)
        else:
            shuffle_partitions = max(os.cpu_count() or 8, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce genuinely tiny shuffles to few tasks (default favors
        # cores-many partitions, which drowns small stages in task overhead;
        # large stages still fan out by size)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # a small table arriving as ONE parquet file would otherwise scan
        # on one core, serializing every expression over it (sf-test
        # corpora; at 100 TB sources are thousands of splits and this
        # floor is moot) — Spark's own knob for small-file parallelism
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        # bounded driver collects (e.g. the ngram broadcast-index build
        # gates on ~1 GB of estimated postings) can exceed the 1g default
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    local_dir = os.environ.get("TENZIR_SPARK_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(package_pyfiles())
    except Exception:
        pass  # already added in this context
    return spark
