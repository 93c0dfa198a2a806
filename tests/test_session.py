"""session.py: the zipimporter backport (``importlib.invalidate_caches()``
drops each zip archive's cached directory instead of re-reading it, and
a module added to an archive afterwards still imports), the executor
package zip, and the default driver heap sized to the machine."""

from __future__ import annotations

import importlib
import os
import shutil
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import tenzir_spark.session  # noqa: F401  (installs the backport)

backport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport defers directory reads itself from Python 3.13 on")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    name = f"zipmod_{uuid.uuid4().hex}"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    yield archive, name
    for mod in [m for m in sys.modules if m.startswith(name)]:
        del sys.modules[mod]
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@backport
def test_invalidate_caches_reads_no_zip_directory(zip_on_path, monkeypatch):
    archive, name = zip_on_path
    assert importlib.import_module(name).VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()
    reads = []
    read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads == []


@backport
def test_module_added_to_zip_imports_after_invalidate(zip_on_path):
    archive, name = zip_on_path
    assert importlib.import_module(name).VALUE == 1
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr(f"{name}_late.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module(f"{name}_late").VALUE == 2
    assert importlib.reload(sys.modules[name]).VALUE == 1


@backport
def test_spark_worker_skips_zip_rescan(spark):
    """A pandas UDF evaluated after the engine's text UDF, in the same
    Python worker, finds the worker's zip importers no longer re-read
    their archives when PySpark invalidates the import caches at task
    start."""
    from tenzir_spark.cdc.extract import extract_text_udf

    @F.pandas_udf("array<long>")
    def zip_rescans(text: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.Series([[importers, len(reads)]] * len(text))

    df = spark.createDataFrame([(b"<p>a &amp; b</p>",)], "html binary")
    (row,) = df.select(zip_rescans(extract_text_udf(F.col("html")))
                       .alias("r")).collect()
    importers, reads = row.r
    assert importers > 0
    assert reads == 0


@pytest.mark.parametrize("phys_gib,expect", [
    (15, "7680m"),   # half of a 15 GiB machine
    (64, "32768m"),  # exactly the cap
    (256, "32768m"),  # capped at 32g
])
def test_default_driver_memory_is_half_of_physical_capped(monkeypatch, phys_gib, expect):
    from tenzir_spark import session

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * (1 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == expect


def test_default_driver_memory_without_sysconf(monkeypatch):
    from tenzir_spark import session

    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unsupported)
    assert session.default_driver_memory() == "32g"


def test_package_zip_is_per_checkout(tmp_path, monkeypatch):
    """Two checkouts that share a temp dir each ship their own source:
    the zip is named by the package directory, and nothing but whole
    archives is left in the directory."""
    from tenzir_spark import session

    pkg = os.path.dirname(os.path.abspath(session.__file__))
    other = tmp_path / "checkout" / "tenzir_spark"
    shutil.copytree(pkg, other, ignore=shutil.ignore_patterns("__pycache__"))
    marker = f"# edited copy {uuid.uuid4().hex}\n"
    with open(other / "__init__.py", "a") as fh:
        fh.write(marker)
    shared = tmp_path / "tmp"
    shared.mkdir()

    here = session.package_pyfiles(str(shared))
    monkeypatch.setattr(session, "__file__", str(other / "session.py"))
    there = session.package_pyfiles(str(shared))
    assert here != there
    assert session.package_pyfiles(str(shared)) == there  # stable name
    assert sorted(os.listdir(shared)) == sorted(
        os.path.basename(p) for p in (here, there))

    def init_source(path):
        with zipfile.ZipFile(path) as zf:
            return zf.read("tenzir_spark/__init__.py").decode()

    assert marker not in init_source(here)
    assert init_source(there).endswith(marker)
    with zipfile.ZipFile(there) as zf:
        assert "tenzir_spark/lake/table.py" in zf.namelist()
