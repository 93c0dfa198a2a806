"""Engine introspection + user-defined operator aliases.

- ``show(aspect)`` mirrors the reference's `show` source
  (libtenzir/builtins/operators/show.cpp:32 + builtins/aspects/*):
  operators, formats, connectors, aggregation functions, tables.
- Aliases mirror config-defined operator macros expanded at parse time
  (libtenzir/src/tql/parser.cpp:100-115; web/docs/operators/user-defined.md):
  here an alias is a named Python callable DataFrame -> DataFrame that
  Pipeline exposes as a method-by-name.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# (name, source, transformation, sink) — the reference's operator
# aspect record (aspects/operators.cpp:23-25 pins exactly these four
# columns; :45-47 fills them from each plugin's signature)
OPERATOR_SIGNATURES = [
    ("where", False, True, False), ("select", False, True, False),
    ("drop", False, True, False), ("put", False, True, False),
    ("extend", False, True, False), ("replace", False, True, False),
    ("rename", False, True, False), ("summarize", False, True, False),
    ("sort", False, True, False), ("unique", False, True, False),
    ("deduplicate", False, True, False), ("head", False, True, False),
    ("tail", False, True, False), ("taste", False, True, False),
    ("top", False, True, False), ("rare", False, True, False),
    ("flatten", False, True, False), ("unflatten", False, True, False),
    ("enumerate", False, True, False), ("batch", False, True, False),
    ("repeat", False, True, False), ("measure", False, True, False),
    ("hash", False, True, False), ("pass", False, True, False),
    ("pseudonymize", False, True, False), ("sigma", False, True, False),
    ("decapsulate", False, True, False), ("compact", False, True, False),
    ("from", True, False, False), ("load", True, False, False),
    ("show", True, False, False), ("shell", True, True, False),
    ("export", True, False, False), ("velociraptor", True, False, False),
    ("nic", True, False, False),
    ("fluent-bit", True, False, True), ("zmq", True, False, True),
    ("kafka", True, False, True), ("serve", False, False, True),
    ("to", False, False, True), ("write", False, False, True),
    ("save", False, False, True), ("discard", False, False, True),
    ("import", False, False, True),
    ("local", False, True, False), ("remote", False, True, False),
]

OPERATORS = [n for n, _, _, _ in OPERATOR_SIGNATURES]

FORMATS = ["json", "suricata", "zeek-json", "csv", "tsv", "ssv", "zeek-tsv",
           "cef", "lines", "yaml", "parquet", "feather", "pcap", "netflow"]

CONNECTORS = ["file", "directory", "s3a:// (Spark-native bulk path)",
              "s3 (Arrow S3FileSystem loader/saver, sources.objectstore)",
              "gcs (Arrow GcsFileSystem loader/saver, sources.objectstore)",
              "kafka (structured streaming; offset-spec translation)",
              "http/https/ftp (driver spool, sources.net)",
              "stdin/stdout (driver)",
              "shell (child-process byte source, sources.shell)",
              "zmq (pure-stdlib ZMTP 3.0 SUB loader / PUB saver)",
              "nic (AF_PACKET live capture -> pcap byte stream)"]

AGGREGATION_FUNCTIONS_DOC = [
    "sum", "min", "max", "count", "count_distinct", "distinct", "any",
    "all", "sample", "avg", "stddev", "median", "p95", "collect",
]

_ALIASES: dict[str, Callable[..., DataFrame]] = {}

# named lake tables so TQL strings can `export <name>` / `import <name>`
# (the reference's node storage engine is implicit; here tables register
# explicitly — the catalog-by-name shape)
_TABLES: dict[str, object] = {}


def register_table(name: str, table) -> None:
    _TABLES[name] = table


def get_table(name: str):
    if name not in _TABLES:
        raise ValueError(f"unknown table {name!r}; register_table() it first "
                         f"(known: {sorted(_TABLES)})")
    return _TABLES[name]


def tables() -> list[str]:
    return sorted(_TABLES)


class _NodeStore:
    """The process-default event store backing BARE ``import``/``export``
    (the reference node's implicit storage, export.cpp:34 with no
    argument). Events append as parquet partitions; heterogeneous
    schemas unify on read via mergeSchema — the same multi-schema
    semantics as the node's catalog. Durable lake tables with
    exactly-once ledgers stay the explicit `import <name>` surface."""

    def __init__(self):
        import os
        import tempfile

        # On a non-local master the store root must be shared storage
        # (s3a://, hdfs://, NFS) — executors write the parquet parts, so
        # a driver-local tempdir would scatter them across worker disks.
        # TENZIR_SPARK_NODE_DIR pins it; the mkdtemp default is only
        # correct for local[*].
        self.root = os.environ.get("TENZIR_SPARK_NODE_DIR") \
            or tempfile.mkdtemp(prefix="tenzir_node_")
        self.generation = 0

    def append(self, df) -> None:
        # one IMMUTABLE subdirectory per import, like the lake's
        # add-files commits: concurrent `mode("append")` writes to a
        # single path race on Spark's shared _temporary commit dir (one
        # job's cleanup deletes another's in-flight task attempts —
        # database.bats "parallel imports" fails exactly that way), but
        # distinct output paths give every import client its own
        # committer, so parallel imports are lock-free and lossless.
        import uuid
        sep = "" if self.root.endswith("/") else "/"
        df.write.parquet(f"{self.root}{sep}import-{uuid.uuid4().hex}")
        self.generation += 1

    def read(self, spark):
        import glob
        import os

        from pyspark.sql import types as T

        from tenzir_spark.sources.formats import read_parquet
        opts = {"mergeSchema": "true", "recursiveFileLookup": "true"}
        if "://" not in self.root:
            if not glob.glob(os.path.join(self.root, "import-*")) and \
                    not glob.glob(os.path.join(self.root, "*.parquet")) and \
                    not glob.glob(os.path.join(self.root, "part-*")):
                return spark.createDataFrame([], T.StructType([]))
            return read_parquet(spark, self.root, **opts)
        # URI store roots (shared storage): no driver-local glob — probe
        # by reading and map the empty-store failure to an empty frame
        try:
            return read_parquet(spark, self.root, **opts)
        except Exception:
            return spark.createDataFrame([], T.StructType([]))


_NODE_STORE: _NodeStore | None = None


def node_store() -> _NodeStore:
    global _NODE_STORE
    if _NODE_STORE is None:
        _NODE_STORE = _NodeStore()
    return _NODE_STORE


def register_alias(name: str, fn: Callable[..., DataFrame]) -> None:
    """Define a reusable pipeline macro: fn(df, *args) -> df."""
    _ALIASES[name] = fn


def get_alias(name: str) -> Callable[..., DataFrame]:
    return _ALIASES[name]


def aliases() -> list[str]:
    return sorted(_ALIASES)


def show(spark: SparkSession, aspect: str) -> DataFrame:
    """Introspection source mirroring the reference's 11 aspect files
    (libtenzir/builtins/aspects/{build,config,connectors,dependencies,
    fields,formats,operators,partitions,plugins,types,version}.cpp):

    ``show operators|formats|connectors|aggregation-functions|functions|
    aliases|types|version|build|dependencies|config|plugins|tables``.
    ``fields``/``partitions`` need an object — use show_fields(df) /
    show_partitions(table).
    """
    if aspect == "tables":
        return spark.sql("SHOW TABLES")
    if aspect == "version":
        # ONE event with a single `version` field, exactly the
        # reference's tenzir.version record (aspects/version.cpp:20-23)
        # — the web plugin's serve.sh uses it as a 1-event source
        # (`show version | repeat 5 | serve`). Component/runtime
        # versions live under `show build` / `show dependencies`.
        from tenzir_spark import __version__
        return spark.createDataFrame([(__version__,)], "version string")
    if aspect == "build":
        rows = [("master", spark.sparkContext.master),
                ("spark_version", spark.version),
                ("python", __import__("sys").version.split()[0])]
        return spark.createDataFrame(rows, "key string, value string")
    if aspect == "dependencies":
        deps = []
        for mod in ("pyspark", "pyarrow", "pandas", "numpy", "duckdb", "yaml"):
            try:
                m = __import__(mod)
                deps.append((mod, getattr(m, "__version__", "?")))
            except ImportError:
                pass
        return spark.createDataFrame(deps, "dependency string, version string")
    if aspect == "config":
        # ONE event holding the whole configuration as a nested record
        # (aspects/config.cpp yields the loaded tenzir.yaml as one row;
        # the YAML suite pipes it through `drop <section> | write yaml`)
        import json as _json
        root: dict = {}
        for k, v in sorted(spark.sparkContext.getConf().getAll()):
            if k.startswith("spark.driver.extra"):
                continue
            parts, cur, flat = k.split("."), root, False
            for p in parts[:-1]:
                nxt = cur.setdefault(p, {})
                if not isinstance(nxt, dict):
                    # a scalar already owns this prefix (spark.x vs
                    # spark.x.y): keep the longer key flat beside it
                    cur[".".join(parts[parts.index(p):])] = v
                    flat = True
                    break
                cur = nxt
            if not flat:
                leaf = parts[-1]
                if isinstance(cur.get(leaf), dict):
                    cur[leaf][""] = v
                else:
                    cur[leaf] = v
        return spark.read.json(
            spark.sparkContext.parallelize([_json.dumps(root)]))
    if aspect == "plugins":
        import tenzir_spark
        import pkgutil

        from tenzir_spark import __version__
        # reference field set (aspects/plugins.cpp:31-40): name,
        # version, kind, types — `show plugins | where name == ...` in
        # the YAML integration suite binds on `name`
        mods = [(m.name, __version__, "builtin") for m in
                pkgutil.walk_packages(tenzir_spark.__path__,
                                      prefix="tenzir_spark.")]
        # UDx registrations (tenzir_spark.plugin ≅ plugin.hpp kinds)
        from tenzir_spark.plugin import plugins as _udx
        mods += [(name, __version__, kind)
                 for kind, names in _udx().items() for name in names]
        return spark.createDataFrame(
            sorted(mods), "name string, version string, kind string")
    if aspect == "types":
        # the reference's type table (type.hpp:52-56) with our Spark mapping
        rows = [("null", "void"), ("bool", "boolean"), ("int64", "bigint"),
                ("uint64", "bigint/decimal(20,0)"), ("double", "double"),
                ("duration", "bigint (ns)"), ("time", "timestamp"),
                ("string", "string"), ("ip", "string (canonical)"),
                ("subnet", "struct<addr,prefix>"), ("enumeration", "string"),
                ("list", "array"), ("map", "map"), ("record", "struct")]
        return spark.createDataFrame(rows, "tenzir_type string, spark_type string")
    if aspect == "functions":
        from tenzir_spark.expr import _FUNCS
        rows = [(n, f"{lo}..{hi} args") for n, (lo, hi, _) in sorted(_FUNCS.items())]
        return spark.createDataFrame(rows, "function string, arity string")
    if aspect == "schemas":
        # the module library (schema_lib; reference /schema/types)
        from tenzir_spark.schema_lib import get_schema, schema_names
        rows = [(n, get_schema(n)[0].simpleString()) for n in schema_names()]
        return spark.createDataFrame(rows, "schema string, definition string")
    if aspect == "operators":
        # reference record shape: name + signature booleans
        # (aspects/operators.cpp:23-25); UDx operator plugins appear as
        # transformations, same as the reference's plugin scan
        from tenzir_spark import plugin as _plugin
        rows = list(OPERATOR_SIGNATURES) + [
            (n, False, True, False)
            for n in sorted(_plugin.plugins().get("operators", []))
            if n not in OPERATORS]
        return spark.createDataFrame(
            rows, "name string, source boolean, transformation boolean,"
                  " sink boolean")
    data = {
        "operators": OPERATORS,
        "formats": FORMATS,
        "connectors": CONNECTORS,
        "aggregation-functions": AGGREGATION_FUNCTIONS_DOC,
        "aliases": aliases(),
    }
    if aspect not in data:
        known = sorted(data) + ["tables", "version", "build", "dependencies",
                                "config", "plugins", "types", "functions",
                                "schemas"]
        raise ValueError(f"unknown aspect {aspect!r}; one of {known}")
    return spark.createDataFrame([(x,) for x in data[aspect]], f"{aspect.replace('-', '_')} string")


def show_fields(df: DataFrame) -> DataFrame:
    """`show fields` over a concrete frame (aspects/fields.cpp): dotted
    leaf paths with types."""
    from tenzir_spark.expr import leaf_paths
    rows = [(p, dt.simpleString()) for p, dt in leaf_paths(df.schema)]
    return df.sparkSession.createDataFrame(rows, "field string, type string")


def show_partitions(table) -> DataFrame:
    """`show partitions` over a lake table (aspects/partitions.cpp):
    one row per data file with stats — the catalog-synopsis view."""
    rows = [
        (f.path, f.bucket, f.rows, f.kind, f.schema_epoch,
         str(f.stats.get(table.snapshot.key_col, {}).get("min")),
         str(f.stats.get(table.snapshot.key_col, {}).get("max")))
        for f in table.snapshot.files
    ]
    return table.spark.createDataFrame(
        rows, "path string, bucket int, rows long, kind string,"
              " schema_epoch int, key_min string, key_max string")
