"""Pipeline — a TQL-flavored fluent facade over the operator library.

The reference composes operators with ``op1 | op2 | ...`` (TQL;
libtenzir/src/tql/parser.cpp:310-402, pipeline.hpp:401-414, where the IR
*is* the operator list). Here a Pipeline wraps a lazy DataFrame and each
method appends a transform; ``.df`` hands the composed plan to Catalyst —
which does the optimization passes the reference hand-rolls
(pipeline.cpp:245-275 pushdown walk).

Example::

    Pipeline.read_parquet(spark, path).where("l_quantity > 40") \
        .summarize(["sum_qty=sum(l_quantity)"], by=["l_returnflag"]) \
        .sort("l_returnflag").df
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from tenzir_spark import operators as ops
from tenzir_spark.sources.formats import read_parquet


class Pipeline:
    _pending_sink = None  # set by plans.tql when a string pipeline ends in a sink

    def __init__(self, df: DataFrame):
        self._df = df

    def _wrap(self, df: DataFrame) -> "Pipeline":
        """Wrap an op result, carrying the reader-attached frame metadata
        (declared schema name / extractor type hints) across the chain —
        the reference keeps the schema on every batch (table_slice.hpp),
        so `read cef | repeat 5 | measure` still reports `cef.event`."""
        for k in ("_tenzir_schema", "_tenzir_type_hints",
                  "_tenzir_number_style", "_tenzir_schema_carried"):
            v = self._df.__dict__.get(k)
            if v is not None and k not in df.__dict__:
                df.__dict__[k] = v
        return Pipeline(df)

    def run(self):
        """Execute the pending sink of a string-parsed pipeline (no-op
        passthrough of .df when there is none)."""
        from tenzir_spark.plans.tql import run_pipeline
        return run_pipeline(self)

    # -- sources ------------------------------------------------------------

    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str) -> "Pipeline":
        return cls(read_parquet(spark, path))

    @classmethod
    def read_json(cls, spark: SparkSession, path: str, **options) -> "Pipeline":
        return cls(spark.read.json(path, **options))

    @classmethod
    def read_csv(cls, spark: SparkSession, path: str, **options) -> "Pipeline":
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
        return cls(spark.read.csv(path, **options))

    # -- operator chain -----------------------------------------------------

    def where(self, expr, **kw) -> "Pipeline":
        # readers attach declared ip/subnet/duration/port typing (zeek
        # #types, the suricata schema) and the declared schema name
        # (zeek #path) on the frame; default to them so `:ip` /
        # bare-ip / `#schema` queries see the declared types
        hints = self._df.__dict__.get("_tenzir_type_hints")
        if hints and "type_hints" not in kw:
            kw["type_hints"] = hints
        sname = self._df.__dict__.get("_tenzir_schema")
        if sname and "schema_name" not in kw:
            kw["schema_name"] = sname
        return self._wrap(ops.where(self._df, expr, **kw))

    def select(self, *extractors: str) -> "Pipeline":
        return self._wrap(ops.select(self._df, *extractors))

    def drop(self, *extractors: str) -> "Pipeline":
        return self._wrap(ops.drop(self._df, *extractors))

    def put(self, **fields) -> "Pipeline":
        return self._wrap(ops.put(self._df, **fields))

    def extend(self, **fields) -> "Pipeline":
        return self._wrap(ops.extend(self._df, **fields))

    def replace(self, **fields) -> "Pipeline":
        return self._wrap(ops.replace(self._df, **fields))

    def rename(self, **mapping) -> "Pipeline":
        return self._wrap(ops.rename(self._df, **mapping))

    def summarize(self, aggs: Sequence, by: Sequence = (), **kw) -> "Pipeline":
        return self._wrap(ops.summarize(self._df, aggs, by, **kw))

    def sort(self, field, **kw) -> "Pipeline":
        return self._wrap(ops.sort(self._df, field, **kw))

    def head(self, n: int = 10, **kw) -> "Pipeline":
        return self._wrap(ops.head(self._df, n, **kw))

    def tail(self, n: int = 10, **kw) -> "Pipeline":
        return self._wrap(ops.tail(self._df, n, **kw))

    def taste(self, n: int = 10, **kw) -> "Pipeline":
        return self._wrap(ops.taste(self._df, n, **kw))

    def unique(self, **kw) -> "Pipeline":
        return self._wrap(ops.unique(self._df, **kw))

    def deduplicate(self, key, order_col, **kw) -> "Pipeline":
        return self._wrap(ops.deduplicate(self._df, key, order_col, **kw))

    def top(self, field: str, **kw) -> "Pipeline":
        return self._wrap(ops.top(self._df, field, **kw))

    def rare(self, field: str, **kw) -> "Pipeline":
        return self._wrap(ops.rare(self._df, field, **kw))

    def flatten(self, sep: str = ".") -> "Pipeline":
        return self._wrap(ops.flatten(self._df, sep))

    def unflatten(self, sep: str = ".") -> "Pipeline":
        return self._wrap(ops.unflatten(self._df, sep))

    def enumerate(self, **kw) -> "Pipeline":
        return self._wrap(ops.enumerate_rows(self._df, **kw))

    def hash(self, field: str, **kw) -> "Pipeline":
        return self._wrap(ops.hash_column(self._df, field, **kw))

    def measure(self, **kw) -> "Pipeline":
        sname = self._df.__dict__.get("_tenzir_schema")
        if sname and "schema_name" not in kw:
            kw["schema_name"] = sname
        return self._wrap(ops.measure(self._df, **kw))

    def sigma(self, rules) -> "Pipeline":
        from tenzir_spark.functions.sigma import sigma as _sigma
        return self._wrap(_sigma(self._df, rules))

    def alias(self, name: str, *args, **kw) -> "Pipeline":
        """Run a registered user-defined operator alias (reference:
        tql/parser.cpp:100-115 macro expansion)."""
        from tenzir_spark.plans.registry import get_alias
        return self._wrap(get_alias(name)(self._df, *args, **kw))

    def apply(self, fn) -> "Pipeline":
        """Escape hatch: fn(DataFrame) -> DataFrame."""
        return self._wrap(fn(self._df))

    # -- storage engine (import/export; reference: import.cpp/export.cpp) ---

    @classmethod
    def export(cls, table, **read_kw) -> "Pipeline":
        """Source from a lake table — the reference's `export`
        (export.cpp:34); pruning via bucket/stats args."""
        return cls(table.read(**read_kw))

    # -- sinks --------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    def to_parquet(self, path: str, mode: str = "overwrite", partition_by: list[str] | None = None):
        w = self._df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def discard(self):
        """Consume and drop (benchmark sink). Reference: discard.cpp:16."""
        self._df.write.format("noop").mode("overwrite").save()
