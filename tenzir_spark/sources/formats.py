"""Format readers/writers (reference: libtenzir/builtins/formats/*).

Each reader returns a DataFrame; writers mirror them. Where Spark has a
native datasource (json, csv, parquet) we use it directly — schema
inference, selector routing, and the bespoke security formats (zeek-tsv,
CEF) are the custom parts, built on spark.read.text + Column expressions
(JVM-side regex/split; no Python row loop).
"""

from __future__ import annotations

import hashlib
import os
import re
import stat
import threading
from collections import OrderedDict
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ------------------------------------------------------------------ json

def _normalize_concat_json(path: str, cap: int = 1 << 26) -> str | None:
    """Parse a driver-local file of concatenated (possibly multi-line)
    JSON values and spool it as NDJSON; None if the file is remote,
    oversized, or not a clean JSON stream."""
    import json as _json
    import os
    import tempfile

    if not os.path.isfile(path) or os.path.getsize(path) > cap:
        return None
    text = open(path, encoding="utf-8", errors="replace").read()
    dec = _json.JSONDecoder()
    vals, i, n = [], 0, len(text)
    try:
        while True:
            while i < n and text[i] in " \t\r\n":
                i += 1
            if i >= n:
                break
            v, i = dec.raw_decode(text, i)
            vals.append(v)
    except ValueError:
        return None
    if not vals:
        return None
    fd, out = tempfile.mkstemp(suffix=".ndjson")
    with os.fdopen(fd, "w") as fh:
        for v in vals:
            fh.write(_json.dumps(v) + "\n")
    return out


def _first_object(path: str) -> dict | None:
    """First JSON object of a driver-local file (None for globs/dirs or
    non-object heads)."""
    import json as _json
    import os

    if not os.path.isfile(path):
        return None
    try:
        with open(path, encoding="utf-8", errors="replace") as fh:
            txt = fh.read(1 << 20)
        i = 0
        while i < len(txt) and txt[i] in " \t\r\n":
            i += 1
        v, _ = _json.JSONDecoder().raw_decode(txt, i)
    except (ValueError, OSError):
        return None
    return v if isinstance(v, dict) else None


def _first_object_key_order(path: str) -> list[str] | None:
    v = _first_object(path)
    return list(v) if v is not None else None


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None,
              selector: str | None = None, selector_prefix: str = "",
              arrays_of_objects: bool = False, no_infer: bool = False,
              **options) -> DataFrame:
    """NDJSON reader with optional schema inference and selector routing.

    ``selector='event_type'`` adds a ``_schema`` column naming each row's
    schema (e.g. ``suricata.flow``) — the reference's multi-schema
    demultiplexing (json.cpp:96-105 --selector; suricata/zeek-json
    aliases at json.cpp:1119-1120). With no declared ``schema``, Spark's
    reader infers types per the same philosophy as the reference's
    adaptive builder (json.cpp:307-372 number/string sniffing).
    """
    if arrays_of_objects:
        options.setdefault("multiLine", True)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path, **options)
    if (schema is None and not options.get("multiLine")
            and "_corrupt_record" in df.columns):
        # the reference's incremental parser accepts CONCATENATED
        # pretty-printed JSON values (json.cpp); Spark's line reader
        # marks those corrupt. For a single driver-local file (the TQL
        # spool path), re-serialize to NDJSON and re-read.
        norm = _normalize_concat_json(path)
        if norm is not None:
            df = reader.json(norm, **options)
    if schema is None and not options.get("multiLine"):
        # Spark's inference alphabetizes top-level fields; the
        # reference keeps the input's key order (zeek-tsv-pipeline
        # step 5 golden pins it) — restore first-object order
        order = _first_object_key_order(path)
        if order:
            cols = ([c for c in order if c in df.columns]
                    + [c for c in df.columns if c not in order])
            if cols != df.columns:
                df = df.select(*[F.col(f"`{c}`") for c in cols])
    if selector:
        prefix = f"{selector_prefix}." if selector_prefix else ""
        if selector in df.columns:
            df = df.withColumn("_schema", F.concat(
                F.lit(prefix), F.col(selector).cast("string")))
            if selector_prefix:
                df = _bind_selector_schema(df, path, selector,
                                           selector_prefix,
                                           strict=no_infer)
        else:
            # selector field absent from the input (e.g. zeek json
            # exports without _path): fall back to <prefix>.unknown,
            # mirroring the reference's unknown-schema demotion
            df = df.withColumn(
                "_schema", F.lit(f"{prefix}unknown" if prefix
                                 else "unknown"))
    elif schema is None:
        # plain `read json` infers value types the way the reference's
        # parser does per-value (json.cpp: strings parsing as time/ip
        # become typed data) — selector-routed reads (suricata/zeek)
        # keep their own declared-schema typing instead
        df = _infer_json_value_types(df)
    # json numbers are SIGNED in the reference's data model: frames
    # from json print int64 as `int` (not zeek's count), doubles as
    # `double` (zeek-tsv-pipeline step_05 golden)
    df.__dict__["_tenzir_number_style"] = "int"
    return df


def _bind_selector_schema(df: DataFrame, path: str, selector: str,
                          prefix: str, strict: bool = False) -> DataFrame:
    """Selector-routed reads bind the head object's schema from the
    module library: declared duration fields coerce UNIT-AWARE — a bare
    number is in the field's `#unit` (use-schema-time-unit golden:
    argus SIntPkt 20.0 -> 20ms, "20ns" -> 20ns) — and declared
    ip/subnet/port typing rides on as extractor hints. Heterogeneous
    streams route per-schema through schema_lib.demux_typed instead."""
    from tenzir_spark.schema_lib import get_schema

    head = _first_object(path)
    if not head or selector not in head:
        return df
    entry = get_schema(f"{prefix}.{head[selector]}")
    if entry is None:
        return df
    _, declared = entry
    merged = dict(df.__dict__.get("_tenzir_type_hints") or {})
    out = df
    for p, h in declared.items():
        if p not in out.columns or p.endswith("#unit"):
            continue
        if h == "duration":
            unit = declared.get(p + "#unit", "s")
            out = out.withColumn(
                p, duration_to_seconds(F.col(f"`{p}`"), unit))
        merged.setdefault(p, h)
    if strict:
        # --no-infer: undeclared input columns are SKIPPED (json.cpp;
        # the skip-columns-...-no-infer golden). Flattened dotted input
        # keys match their declared nested paths by suffix root.
        st = entry[0]
        keep = []
        for c in out.columns:
            root = c.split(".", 1)[0]
            if c == "_schema" or c == selector or root in st.fieldNames():
                keep.append(c)
        out = out.select(*[F.col(f"`{c}`") for c in keep])
    if merged:
        out.__dict__["_tenzir_type_hints"] = merged
    for k, v in df.__dict__.items():
        if k.startswith("_tenzir_") and k != "_tenzir_type_hints":
            out.__dict__.setdefault(k, v)
    return out


_TS_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?"
    r"(Z|[+-]\d{2}:?\d{2})?$")
_IP4_RE = re.compile(r"^(\d{1,3}\.){3}\d{1,3}$")
_IP6_RE = re.compile(r"^[0-9a-fA-F:]*:[0-9a-fA-F:.]+$")
_SUBNET_RE = re.compile(r"^((\d{1,3}\.){3}\d{1,3}|[0-9a-fA-F:]+)/\d{1,3}$")


def _ref_iso_to_timestamp(col: Column) -> Column:
    """ISO string -> timestamp reproducing the reference's ymdhms parser
    BIT-FOR-BIT (parseable/tenzir/time.hpp:206-210): the whole
    time-of-day collapses into ONE double — ``hours + minutes - zone
    + double_seconds{secs}`` — before duration_cast truncates at
    nanoseconds, so ``09:22:26.073000`` parses to ...072999 while the
    same fraction at another hour survives (verified against all 58
    rows of the zeek-tsv-pipeline step_05 golden). A plain
    try_cast("timestamp") would be exact and therefore WRONG here."""
    days = F.datediff(F.to_date(F.substring(col, 1, 10)),
                      F.lit("1970-01-01").cast("date")).cast("long")
    h = F.regexp_extract(col, r"[T ](\d{2}):", 1).try_cast("long")
    m = F.regexp_extract(col, r"[T ]\d{2}:(\d{2})", 1).try_cast("long")
    s = F.regexp_extract(
        col, r"(\d{2}(?:\.\d+)?)(?:Z|[+-]\d{2}:?\d{2})?$", 1) \
        .try_cast("double")
    zsign = F.when(
        F.regexp_extract(col, r"([+-])\d{2}:?\d{2}$", 1) == "-",
        F.lit(-1)).otherwise(F.lit(1)).cast("long")
    zh = F.coalesce(
        F.regexp_extract(col, r"[+-](\d{2}):?\d{2}$", 1).try_cast("long"),
        F.lit(0))
    zm = F.coalesce(
        F.regexp_extract(col, r"[+-]\d{2}:?(\d{2})$", 1).try_cast("long"),
        F.lit(0))
    tod = (h * 3600 + m * 60 - zsign * (zh * 3600 + zm * 60))
    ns = ((tod.cast("double") + s) * F.lit(1e9)).try_cast("long")
    us = F.floor(ns.cast("decimal(20,0)") / 1000).cast("long")
    return F.timestamp_micros(days * F.lit(86400000000) + us)


def _infer_json_value_types(df: DataFrame) -> DataFrame:
    """Value-based inference over TOP-LEVEL string columns: a column
    whose sampled values all parse as timestamps is cast (try_cast —
    stragglers past the sample become null, like the reference's
    per-value fallback to the unknown schema); all-ip / all-subnet
    columns keep their string form but gain the extractor hint that
    declared schemas carry, so `:ip` type queries and the zeek-tsv
    printer's `addr` naming resolve them. The decision sample is one
    bounded limit().collect() of the string columns only — a
    single-partition head read, O(sample) at any corpus size."""
    str_cols = [f.name for f in df.schema.fields
                if isinstance(f.dataType, T.StringType)]
    if not str_cols:
        return df
    sample = df.select(*[F.col(f"`{c}`") for c in str_cols]) \
        .limit(64).collect()
    hints = dict(df.__dict__.get("_tenzir_type_hints") or {})
    ts_casts = []
    for c in str_cols:
        vals = [row[c] for row in sample if row[c] is not None]
        if not vals:
            continue
        if all(_TS_RE.match(v) for v in vals):
            ts_casts.append(c)
        elif all(_IP4_RE.match(v)
                 or (":" in v and _IP6_RE.match(v)) for v in vals):
            hints[c] = "ip"
        elif all(_SUBNET_RE.match(v) for v in vals):
            hints[c] = "subnet"
    out = df
    for c in ts_casts:
        out = out.withColumn(c, _ref_iso_to_timestamp(F.col(f"`{c}`")))
    if hints:
        out.__dict__["_tenzir_type_hints"] = hints
    if "_tenzir_schema" in df.__dict__:
        out.__dict__["_tenzir_schema"] = df.__dict__["_tenzir_schema"]
    return out


def read_suricata(spark: SparkSession, path: str, **options) -> DataFrame:
    """EVE JSON: selector on event_type with 'suricata' prefix
    (json.cpp:1119). The reference's suricata schemas type the
    address pair as ip (schema/types/suricata.schema
    suricata.component.common) — carried here as extractor hints."""
    df = read_json(spark, path, selector="event_type",
                   selector_prefix="suricata", **options)
    carried = {k: v for k, v in df.__dict__.items()
               if k.startswith("_tenzir_")}
    if "timestamp" in df.columns and isinstance(
            df.schema["timestamp"].dataType, T.StringType):
        # suricata.component.common declares timestamp: time — typed
        # parse normalizes the eve +0200 offsets to UTC instants like
        # the reference import (comments/import-filter goldens)
        df = df.withColumn(
            "timestamp", _ref_iso_to_timestamp(F.col("timestamp")))
    for k, v in carried.items():
        df.__dict__.setdefault(k, v)
    # MERGE the address-pair hints with whatever the selector binding
    # already recorded (clobbering would lose declared duration hints)
    hints = dict(df.__dict__.get("_tenzir_type_hints") or {})
    hints.update({c: "ip" for c in ("src_ip", "dest_ip")
                  if c in df.columns})
    if hints:
        df.__dict__["_tenzir_type_hints"] = hints
    return df


def read_zeek_json(spark: SparkSession, path: str, **options) -> DataFrame:
    """Zeek streaming JSON: selector on _path with 'zeek' prefix
    (json.cpp:1120)."""
    return read_json(spark, path, selector="_path",
                     selector_prefix="zeek", **options)


# the reference's json printer renders time at full µs precision with
# no zone suffix ("2011-08-12T18:27:38.298117", session TZ pinned UTC);
# Spark's writer default truncates to milliseconds + 'Z'
_JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

_UNIT_SECONDS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
                 "sec": 1.0, "secs": 1.0, "min": 60.0, "mins": 60.0,
                 "h": 3600.0, "hrs": 3600.0, "d": 86400.0, "w": 604800.0}


def duration_to_seconds(c: Column, default_unit: str = "s") -> Column:
    """Value -> double seconds: a bare number is in the schema's
    declared unit (`duration #unit=ms`, argus.schema:91); a string with
    its own unit suffix ('20ns') carries that unit."""
    s = c.cast("string")
    num = F.regexp_extract(s, r"^(-?\d+(?:\.\d+)?)", 1).try_cast("double")
    suf = F.regexp_extract(s, r"([a-z]+)$", 1)
    mult = F.when(suf == "", F.lit(_UNIT_SECONDS.get(default_unit, 1.0)))
    for u, f_ in _UNIT_SECONDS.items():
        mult = mult.when(suf == u, F.lit(f_))
    return num * mult.otherwise(F.lit(None))


def _render_durations(df: DataFrame) -> DataFrame:
    """Duration-HINTED columns render as adaptive strings in json output
    ("163.82ms", flatten-operator / zeek-tsv-pipeline goldens); plain
    inferred doubles stay numbers. Scalar and list columns both."""
    hints = df.__dict__.get("_tenzir_type_hints") or {}
    out = df
    for c, h in hints.items():
        if h != "duration" or c not in out.columns:
            continue
        dt = out.schema[c].dataType
        if isinstance(dt, T.ArrayType):
            col = F.col(f"`{c}`")
            out = out.withColumn(c, _zeek_duration_list_text(col))
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            out = out.withColumn(
                c, _zeek_duration_text(F.col(f"`{c}`").cast("double")))
    return out


def _strip_meta(df: DataFrame) -> DataFrame:
    """Drop an IMPLICITLY CARRIED ``_schema`` routing column before
    printing: select keeps it alive (marked `_tenzir_schema_carried`)
    so `#schema` predicates keep resolving downstream, mirroring the
    reference's SLICE METADATA (the schema name rides on the table
    slice, not in the record). A `_schema` the user made data — read
    output, a summarize group key, an explicit `select _schema` —
    carries no mark and prints like any other column (the repo's own
    goldens pin that: summarize_distinct_by_schema.txt)."""
    if "_schema" not in df.columns or \
            not df.__dict__.get("_tenzir_schema_carried"):
        return df
    out = df.select(*[F.col(f"`{c}`") for c in df.columns if c != "_schema"])
    for k, v in df.__dict__.items():
        if k.startswith("_tenzir_"):
            out.__dict__.setdefault(k, v)
    return out


def write_json(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    df = _strip_meta(df)
    options.setdefault("timestampFormat", _JSON_TS_FMT)
    _render_durations(df).write.mode(mode).json(path, **options)


def ndjson_lines(df: DataFrame) -> DataFrame:
    """One NDJSON string column ('value') per row, rendered the way the
    reference's json printer does: null fields omitted, timestamps at
    µs precision without a zone suffix, typed durations adaptive."""
    df = _strip_meta(df)
    if not df.schema.fields:
        return df.select(F.lit("{}").alias("value"))
    df = _render_durations(df)
    return df.select(F.to_json(
        F.struct(*[F.col(f"`{c}`") for c in df.columns]),
        {"timestampFormat": _JSON_TS_FMT}).alias("value"))


def json_pruned_lines(df: DataFrame, omit_nulls: bool,
                      omit_empty_objects: bool,
                      omit_empty_lists: bool) -> DataFrame:
    """NDJSON lines with the reference's --omit-* printer flags applied
    (json.cpp:989-994; --omit-empty implies all three). Spark's writer
    has a fixed schema per file, so the structural per-row pruning runs
    as an Arrow-batched pass over ``to_json`` output — a printer (edge)
    path, never the bulk parquet path. Children prune first, so a
    record emptied by --omit-nulls then drops under
    --omit-empty-objects."""
    import json as _json

    df = _strip_meta(df)

    from pyspark.sql.functions import pandas_udf

    def prune(v):
        if isinstance(v, dict):
            out = {}
            for k, x in v.items():
                x = prune(x)
                if x is None and omit_nulls:
                    continue
                if x == {} and omit_empty_objects:
                    continue
                if x == [] and omit_empty_lists:
                    continue
                out[k] = x
            return out
        if isinstance(v, list):
            return [prune(x) for x in v]
        return v

    @pandas_udf("string")
    def _prune_udf(s):
        return s.map(lambda ln: _json.dumps(
            prune(_json.loads(ln)), separators=(",", ":")))

    df = _render_durations(df)
    js = df.select(F.to_json(
        F.struct(*[F.col(f"`{c}`") for c in df.columns]),
        {"ignoreNullFields": "false",
         "timestampFormat": _JSON_TS_FMT}).alias("value"))
    return js.select(_prune_udf("value").alias("value"))


# ------------------------------------------------------------------ xsv

def read_xsv(spark: SparkSession, path: str, sep: str,
             schema: T.StructType | None = None,
             null_value: str = "-", **options) -> DataFrame:
    """csv/tsv/ssv family (reference: formats/xsv.cpp:268 parser with
    header-driven fields, inference, null token)."""
    reader = spark.read
    opts = {"header": True, "sep": sep, "nullValue": null_value, **options}
    ts_cols: list[str] = []
    if schema is not None:
        if opts.get("header"):
            # the reference's xsv parser binds columns BY HEADER NAME
            # against the declared schema (xsv.cpp header-driven fields)
            # — a file may carry a subset of the schema's fields in any
            # order (argus.record declares 143, the M57 capture ships
            # 13). Spark binds an explicit schema positionally, so
            # assemble the positional schema from the header: declared
            # name -> declared type, undeclared -> string.
            hdr = spark.read.text(path).limit(1).collect()[0][0]
            names = [n.strip() for n in hdr.split(sep)]
            declared = {f.name: f for f in schema.fields}
            if names != [f.name for f in schema.fields[:len(names)]]:
                schema = T.StructType(
                    [declared.get(n, T.StructField(n, T.StringType()))
                     for n in names])
        # declared time fields parse through the reference's ymdhms
        # expression, which accepts '+'|'T'|' ' as the date/time divider
        # (time.hpp:174 — the space-separated argus ssv writes
        # `2009-11-18+09:00:03.914398`) and reproduces its double-
        # seconds truncation bit-for-bit. Spark's native csv timestamp
        # parse would null the '+' form.
        ts_cols = [f.name for f in schema.fields
                   if isinstance(f.dataType,
                                 (T.TimestampType, T.TimestampNTZType))]
        if ts_cols:
            schema = T.StructType(
                [T.StructField(f.name, T.StringType(), f.nullable)
                 if f.name in ts_cols else f for f in schema.fields])
        reader = reader.schema(schema)
    else:
        opts.setdefault("inferSchema", True)
    out = reader.csv(path, **opts)
    for c in ts_cols:
        norm = F.regexp_replace(
            F.col(f"`{c}`"), r"^(\d{4}-\d{2}-\d{2})\+", r"$1T")
        out = out.withColumn(c, _ref_iso_to_timestamp(norm))
    return out


def read_csv(spark, path, **kw):
    return read_xsv(spark, path, ",", **kw)


def read_tsv(spark, path, **kw):
    return read_xsv(spark, path, "\t", **kw)


def read_ssv(spark, path, **kw):
    return read_xsv(spark, path, " ", **kw)


def write_xsv(df: DataFrame, path: str, sep: str = ",",
              list_sep: str | None = None,
              null_value: str | None = None,
              log_path: str = "tenzir") -> None:
    """Reference xsv printer (builtins/formats/xsv.cpp): csv is
    ``(',', ';', "")``, tsv ``('\\t', ',', "-")``, ssv ``(' ', ',',
    "-")`` for (field sep, list sep, null token). Strings quote with
    ``"`` + backslash escaping only when they contain the field sep or
    a quote; lists join on the list sep (empty list prints nothing);
    timestamps print ISO µs, durations adaptively, bools true/false.
    Like the zeek-tsv printer, a ``log_path`` naming a library schema
    makes the output conform to the declared layout. Row rendering is
    distributed; the single-file concat streams through the FileIO
    seam (the reference prints csv as one stream too)."""
    df = _strip_meta(df)
    if list_sep is None:
        list_sep = ";" if sep == "," else ","
    if null_value is None:
        null_value = "" if sep == "," else "-"
    if not df.schema.fields:
        # zero printable columns (e.g. a stream of empty records): the
        # reference still emits the (empty) header line and one (empty)
        # line per event (empty-record-in-pipeline csv/xsv goldens)
        from tenzir_spark.lake.format import DEFAULT_IO
        n = df.count()
        with DEFAULT_IO.open_write(path) as out:
            if n:
                out.write(b"\n" * (n + 1))
        return
    if df.isEmpty():
        from tenzir_spark.lake.format import DEFAULT_IO
        with DEFAULT_IO.open_write(path):
            pass
        return
    have = {f.name: f for f in df.schema.fields}
    plan = _zeek_plan(df, log_path)

    def quote(s: Column) -> Column:
        esc = F.regexp_replace(s, r"([\\\"])", r"\\$1")
        return (F.when(s.isNull(), s)
                .when(s.contains(sep) | s.contains('"'),
                      F.concat(F.lit('"'), esc, F.lit('"')))
                .otherwise(s))

    names, rendered = [], []
    for name, zt in plan:
        names.append(name)
        if name not in have:
            rendered.append(F.lit(null_value))
            continue
        dt = have[name].dataType
        col = F.col(f"`{name}`")
        if zt == "time":
            s = F.date_format(col.cast("timestamp"),
                              "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        elif zt == "interval":
            s = _zeek_duration_text(col.cast("double"))
        elif zt.startswith("vector["):
            inner = zt[7:-1]
            arr = col if isinstance(dt, T.ArrayType) else F.array(col)
            if inner == "interval":
                items = _zeek_duration_list_text(arr)
            else:
                items = F.transform(arr, lambda x: quote(x.cast("string")))
            # an empty list prints NOTHING (xsv.cpp visitor: no element,
            # no output) — distinct from null, which prints the token
            s = (F.when(col.isNull(), F.lit(None).cast("string"))
                 .otherwise(F.coalesce(F.array_join(items, list_sep),
                                       F.lit(""))))
        elif isinstance(dt, T.StringType):
            s = quote(col)
        else:
            s = col.cast("string")  # bool -> true/false, numbers plain
        rendered.append(F.coalesce(s, F.lit(null_value)))
    line = F.concat_ws(sep, *rendered)
    head = sep.join(names) + "\n"
    _assemble_parts(df.select(line.alias("value")), path,
                    head=head.encode())


# ------------------------------------------------------------------ lines

def read_lines(spark: SparkSession, path: str, skip_empty: bool = False) -> DataFrame:
    """Newline-split strings (reference: formats/lines.cpp:41, ``-s``)."""
    df = spark.read.text(path).withColumnRenamed("value", "line")
    if skip_empty:
        df = df.filter(F.length(F.trim("line")) > 0)
    return df


def _assemble_parts(lines_df: DataFrame, path: str, head: bytes = b"",
                    tail: bytes = b"", transform=None, io=None) -> None:
    """Cluster-safe single-file assembly (the copyMerge shape): Spark
    writes part files into a sibling directory of the DESTINATION — on a
    real cluster that is shared storage, unlike the driver-local tempdir
    the round-3 printers used (which silently lost executor-written
    parts) — then the driver streams the parts in name order through the
    FileIO seam into one file.

    ``lines_df`` must have exactly one string column. ``transform`` maps
    each line's bytes (newline stripped) to output bytes — e.g. base64
    decode for binary formats; None streams text parts through verbatim.
    The reference prints these formats as single driver-side streams too
    (formats/zeek_tsv.cpp, formats/pcap.cpp); only the row rendering is
    distributed, the final concat is O(output bytes) on one stream by
    the format's nature.
    """
    import shutil as _shutil
    import uuid as _uuid

    from tenzir_spark.lake.format import DEFAULT_IO
    io = io or DEFAULT_IO
    parts_dir = path + f".parts-{_uuid.uuid4().hex}"
    lines_df.write.mode("overwrite").text(parts_dir)
    try:
        with io.open_write(path) as out:
            if head:
                out.write(head)
            for part in io.list(parts_dir):
                if not part.startswith("part-"):
                    continue
                with io.open_read(io.join(parts_dir, part)) as src:
                    if transform is None:
                        _shutil.copyfileobj(src, out)
                    else:
                        for line in src:
                            line = line.rstrip(b"\n")
                            if line:
                                out.write(transform(line))
            if tail:
                out.write(tail)
    finally:
        io.delete_dir(parts_dir)


# ------------------------------------------------------------------ zeek-tsv

_ZEEK_TYPE_MAP = {
    "time": T.DoubleType(),      # epoch seconds; cast to timestamp below
    "interval": T.DoubleType(),
    "count": T.LongType(),
    "int": T.LongType(),
    "double": T.DoubleType(),
    "bool": T.BooleanType(),
    "string": T.StringType(),
    "addr": T.StringType(),
    "port": T.LongType(),
    "subnet": T.StringType(),
    "enum": T.StringType(),
}


def read_zeek_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Zeek native TSV with #fields/#types metadata headers (reference:
    formats/zeek_tsv.cpp — 852 LoC of C++; here: header sniff on the
    driver + one JVM-side split/cast projection).

    The #separator/#set_separator/#unset_field directives are honored
    from the header block; `time` columns become TimestampType.

    Multi-schema streams (several header blocks in ONE file — zeek logs
    merged on stdin, 'Zeek TSV Pipeline Format' / 'Node Zeek multiple
    imports' integration shapes): each block parses with its own header
    and the blocks unify via the cast lattice with a ``_schema`` column
    from ``#path`` (``zeek.<path>``), like the reference's heterogeneous
    stream. The block split streams the file once on the driver — the
    same class as the stdin/shell spools it arrives from; zeek's own
    on-disk layout (one log type per file) stays the distributed path.
    """
    # multi-schema detection only for a single LOCAL file: a glob or
    # directory of same-schema logs has one #separator PER FILE (not a
    # multi-block stream), and the block splitter open()s the literal
    # path on the driver — it cannot take a glob. Per-file single-schema
    # parsing below handles the glob/directory case distributed.
    import os as _os
    if _os.path.isfile(path):
        n_headers = (spark.read.text(path)
                     .filter(F.col("value").startswith("#separator")).count())
        if n_headers > 1:
            return _read_zeek_tsv_multi(spark, path)
    head = spark.read.text(path).limit(200).collect()
    sep, unset, empty, set_sep = "\t", "-", "(empty)", ","
    fields: list[str] = []
    types: list[str] = []
    zpath: str | None = None
    for row in head:
        line = row[0]
        if not line.strip():
            continue  # leading blank lines (whitespace_start.log)
        if not line.startswith("#"):
            break
        key, _, rest = line[1:].partition("\t" if "\t" in line else " ")
        # directives with a MISSING value keep their zeek defaults
        # (broken_no_separator_value / broken_no_empty_and_unset_fields
        # goldens: the reference parses such files tolerantly)
        if key == "separator":
            sep = (bytes(rest.strip(), "utf-8").decode("unicode_escape")
                   or "\t")
        elif key == "path":
            zpath = rest.strip()
        elif key == "set_separator":
            set_sep = rest.strip() or ","
        elif key == "unset_field":
            unset = rest.strip() or unset
        elif key == "empty_field":
            empty = rest.strip() or empty
        elif key == "fields":
            fields = rest.split(sep)
        elif key == "types":
            types = rest.split(sep)
    if not fields:
        if not head or all(not r[0].strip() for r in head):
            # a fully empty input parses to zero events, not an error
            # (reference golden: empty.log -> empty output)
            return spark.createDataFrame([], T.StructType([]))
        raise ValueError(f"{path}: no #fields header — not zeek-tsv?")
    if types and len(types) != len(fields):
        # zeek_tsv.cpp rejects the document outright (its
        # broken_unequal_fields_types_length golden)
        raise ValueError(
            "failed to parse Zeek document: mismatching number "
            f"#fields and #types (found {len(fields)} #fields, "
            f"{len(types)} #types)")
    if _os.path.isfile(path) and _os.path.getsize(path) < (1 << 26):
        # document lint the reference applies while streaming: a data
        # line after #close has no live header block -> error ("missing
        # #path", broken_duplicate_close_tag / broken_data_after_close
        # goldens). Bounded to small single local files — the
        # distributed bulk path cannot (and need not) see line
        # adjacency across partitions.
        opener = __import__("gzip").open if path.endswith(".gz") else open
        closed = False
        with opener(path, "rt", errors="replace") as fh:
            for ln in fh:
                if ln.startswith("#close"):
                    closed = True
                elif ln.startswith("#separator"):
                    closed = False
                elif closed and ln.strip():
                    raise ValueError(
                        "failed to parse Zeek document: missing #path")

    lines = spark.read.text(path).filter(
        (~F.col("value").startswith("#"))
        & (F.trim(F.col("value")) != ""))
    parts = F.split(F.col("value"), re.escape(sep))
    cols = []
    _stringy = {"string", "addr", "subnet", "enum"}
    for i, (name, ztype) in enumerate(zip(fields, types)):
        raw0 = parts.getItem(i)
        base = ztype.split("[", 1)[0]  # vector[string] -> vector handled as string
        # zeek distinguishes unset ('-' -> null) from set-but-empty
        # ('(empty)' -> "" for string-like types, null otherwise)
        if base in _stringy and not ztype.startswith(("set[", "vector[", "table[")):
            raw = F.when(raw0 == unset, None) \
                .otherwise(F.when(raw0 == empty, F.lit("")).otherwise(raw0))
        else:
            raw = F.when((raw0 == unset) | (raw0 == empty), None).otherwise(raw0)
        if ztype.startswith(("set[", "vector[", "table[")):
            # unset ('-') parses as a NULL list, set-but-empty
            # ('(empty)') as []: the reference json prints the former
            # null and the latter [] (merge.log vs flatten-operator
            # goldens), while its zeek-tsv printer renders BOTH back as
            # '(empty)' (dns step_02 golden)
            col = (F.when(raw0 == unset,
                          F.lit(None).cast("array<string>"))
                   .when(raw0 == empty, F.array().cast("array<string>"))
                   .otherwise(F.split(raw0, re.escape(set_sep))))
        elif base == "time":
            # accept both zeek's on-disk epoch floats and the
            # reference printer's ISO rendering (round-trip). The
            # reference converts the float to NANOSECONDS (losing
            # float64 precision at e18) then truncates to µs — .237254
            # prints as .237253 (chrono.hpp:171 'no rounding'); the
            # ns-long → exact-µs chain below reproduces that bit-form
            # try_cast: ISO-rendered input must fall through to the
            # to_timestamp branch, not throw under ANSI mode
            ns = (raw.try_cast("double") * F.lit(1e9)).try_cast("long")
            # ns/1000 must divide as integers: long/int promotes to
            # double, whose 53-bit mantissa cannot hold e18 — decimal
            # division is exact
            us = F.floor(ns.cast("decimal(38,0)") / 1000).cast("long")
            col = F.coalesce(F.timestamp_micros(us), F.to_timestamp(raw))
        elif base == "interval":
            # raw seconds ('3.780218') or the printer's adaptive form
            # ('163.82ms') — both to double seconds
            num = F.regexp_extract(raw, r"^(-?\d+(?:\.\d+)?)", 1) \
                .cast("double")
            unit = F.regexp_extract(raw, r"([a-z]+)$", 1)
            col = num * (F.when(unit == "d", F.lit(86400.0))
                         .when(unit == "h", F.lit(3600.0))
                         .when(unit == "m", F.lit(60.0))
                         .when(unit == "s", F.lit(1.0))
                         .when(unit == "ms", F.lit(1e-3))
                         .when(unit == "us", F.lit(1e-6))
                         .when(unit == "ns", F.lit(1e-9))
                         .otherwise(F.lit(1.0)))
        elif base == "bool":
            # zeek booleans are T/F
            col = (F.when(raw == "T", F.lit(True))
                   .when(raw == "F", F.lit(False))
                   .otherwise(raw.cast("boolean")))
        else:
            col = raw.cast(_ZEEK_TYPE_MAP.get(base, T.StringType()))
        cols.append(col.alias(name))
    out = lines.select(*cols)
    # the #types header DECLARES address typing (zeek addr/subnet ≙ the
    # reference's ip/subnet types) — carry it as extractor hints so
    # `:ip`/`:subnet` type queries and bare-ip search resolve these
    # columns, as they do on the reference's typed schemas
    hints = {n: {"addr": "ip", "subnet": "subnet",
                 "interval": "duration", "port": "port"}[t.split("[", 1)[0]]
             for n, t in zip(fields, types)
             if t in ("addr", "subnet", "interval", "port")}
    hints.update({n: "duration" for n, t in zip(fields, types)
                  if t in ("vector[interval]", "set[interval]")})
    if hints:
        out.__dict__["_tenzir_type_hints"] = hints
    if zpath:
        # `#schema == "zeek.dns"` meta queries resolve the frame's
        # declared name, as on the reference's typed import
        out.__dict__["_tenzir_schema"] = f"zeek.{zpath}"
    return out


def _read_zeek_tsv_multi(spark: SparkSession, path: str) -> DataFrame:
    """Split a multi-header zeek-tsv stream into per-schema spools, parse
    each with the single-schema reader, and unify (cast.unify_streams)
    with ``_schema`` = ``zeek.<#path>``."""
    import gzip as _gzip
    import os as _os
    import tempfile as _tempfile

    from tenzir_spark.operators.cast import unify_streams

    opener = _gzip.open if path.endswith(".gz") else open
    blocks: list[tuple[str, object]] = []  # (#path name, spool handle)
    cur = None
    cur_name = "tenzir"
    with opener(path, "rt") as src:
        for line in src:
            if line.startswith("#separator"):
                if cur is not None:
                    cur.close()
                fd, spool = _tempfile.mkstemp(prefix="zeek_block_",
                                              suffix=".log")
                cur = _os.fdopen(fd, "w")
                # reset per block: a header block without its own #path
                # must get the default name, not the previous block's
                cur_name = "tenzir"
                blocks.append([cur_name, spool, cur])
            if cur is None:
                raise ValueError(f"{path}: data before the first "
                                 f"#separator header")
            if line.startswith("#path"):
                cur_name = line.split(None, 1)[1].strip()
                blocks[-1][0] = cur_name
            cur.write(line)
    if cur is not None:
        cur.close()
    same = len({name for name, _, _ in blocks}) == 1
    frames = []
    merged_hints: dict[str, str] = {}
    for name, spool, _fh in blocks:
        df = read_zeek_tsv(spark, spool)
        merged_hints.update(df.__dict__.get("_tenzir_type_hints") or {})
        if not same:
            df = df.withColumn("_schema", F.lit(f"zeek.{name}"))
        frames.append(df)
        # the frame reads the spool lazily — unlink at interpreter exit,
        # not here (deleting now would break any later action on it)
        import atexit as _atexit
        _atexit.register(lambda p=spool: _os.path.exists(p) and _os.unlink(p))
    if same:
        # repeated blocks of ONE schema (e.g. a log rotated onto stdin):
        # coalesce without a demux column, keeping the declared name on
        # the frame like the single-block read
        out = unify_streams(frames, schema_col=None)
        out.__dict__["_tenzir_schema"] = f"zeek.{blocks[0][0]}"
    else:
        out = unify_streams(frames, schema_col=None)
    # per-input-block spools ride on the frame (this exact DataFrame
    # object only — any transformation drops the attr, exactly the
    # semantics we want): a direct read->write zeek-tsv re-emits one
    # header block PER INPUT BLOCK, as the reference's per-batch
    # printer does (broken_no_closing_tag golden prints two headers)
    out.__dict__["_tenzir_zeek_blocks"] = [spool for _, spool, _ in blocks]
    if merged_hints:
        # blocks' declared typing (interval/addr/port) survives the
        # union, so durations render adaptively in json output
        out.__dict__["_tenzir_type_hints"] = merged_hints
    return out


_ZEEK_OUT_TYPE = {
    T.TimestampType: "time", T.TimestampNTZType: "time",
    T.LongType: "count", T.IntegerType: "count", T.ShortType: "count",
    T.DoubleType: "double", T.FloatType: "double",
    T.BooleanType: "bool", T.StringType: "string",
}


_DURATION_UNITS_NS = ((86400 * 10**9, "d"), (3600 * 10**9, "h"),
                      (60 * 10**9, "m"), (10**9, "s"),
                      (10**6, "ms"), (10**3, "us"))


def _adaptive_duration_str(sec) -> str | None:
    """Adaptive duration rendering (reference chrono.hpp print_adaptive):
    largest unit with magnitude >= 1, '%.2f', then ONE trailing zero
    stripped ('120.00' -> '120.0', '163.82' stays).

    The reference STORES durations as int64 nanoseconds (double seconds
    pass through duration_cast<ns> on parse) and prints the DOUBLE that
    integer division yields: 0.022985s is 22985000ns, whose double-ms
    value is 22.98499... -> "22.98ms". Two C-printf subtleties force
    this into Python (an Arrow-batched UDF on printer paths only):
    Java's %.2f rounds the SHORTEST decimal repr ("22.985" -> "22.99"),
    and a JVM x*100 re-round lands exactly on 2298.5. CPython's %-format
    rounds the exact binary value like fmt/glibc do."""
    if sec is None or sec != sec:
        return None
    ns = int(float(sec) * 1e9)
    a = abs(ns)
    for unit, suf in _DURATION_UNITS_NS:
        if a >= unit:
            s = "%.2f" % (ns / unit)
            break
    else:
        s, suf = "%.2f" % float(ns), "ns"
    if s.endswith("0"):
        s = s[:-1]
    return s + suf


def _zeek_duration_text(c: Column) -> Column:
    """Scalar duration seconds -> adaptive text, Arrow-batched."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def fmt(s):
        return s.map(_adaptive_duration_str)

    return fmt(c.cast("double"))


def _zeek_duration_list_text(c: Column) -> Column:
    """list<duration seconds> -> list<adaptive text>, Arrow-batched
    (higher-order F.transform cannot call a UDF per element)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def fmt(s):
        return s.map(lambda arr: None if arr is None else
                     [_adaptive_duration_str(x) for x in arr])

    return fmt(c.cast("array<double>"))


def _declared_zeek_layout(name: str) -> list[tuple[str, str]] | None:
    """Flattened (dotted field, zeek type name) list of a declared
    schema from the module library, or None. Maps library types back to
    zeek printer names (enum->string, list<x> -> vector[x])."""
    from tenzir_spark.schema_lib import get_schema
    got = get_schema(name)
    if got is None:
        return None
    st, hints = got

    def ztype(dt, path):
        h = hints.get(path)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return "time"
        if isinstance(dt, T.BooleanType):
            return "bool"
        if isinstance(dt, T.ArrayType):
            return f"vector[{ztype(dt.elementType, path)}]"
        if h == "duration":
            return "interval"
        if h == "port":
            return "port"
        if h == "ip":
            return "addr"
        if h == "subnet":
            return "subnet"
        if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType)):
            return "count"
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return "double"
        return "string"

    out: list[tuple[str, str]] = []

    def walk(fields, prefix):
        for f in fields:
            p = f"{prefix}{f.name}"
            if isinstance(f.dataType, T.StructType):
                walk(f.dataType.fields, p + ".")
            else:
                out.append((p, ztype(f.dataType, p)))

    walk(st.fields, "")
    return out


def _zeek_plan(df: DataFrame, log_path: str) -> list[tuple[str, str]]:
    """(field, zeek type name) print plan: the declared layout of
    ``log_path`` (module library) first, then undeclared frame columns
    typed from their Spark type + the frame's extractor hints. A frame
    read from json carries ``_tenzir_number_style == "int"`` — its
    int64/double columns print as the reference's signed ``int`` /
    ``double``, not zeek's ``count``/name-guessed ``interval``."""
    hints = df.__dict__.get("_tenzir_type_hints") or {}
    json_nums = df.__dict__.get("_tenzir_number_style") == "int"
    layout = _declared_zeek_layout(log_path) or []
    plan: list[tuple[str, str]] = list(layout)
    declared = {n for n, _ in layout}
    for f in df.schema.fields:
        if f.name in declared:
            continue
        h = hints.get(f.name)
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            zt = "time"
        elif isinstance(f.dataType, T.BooleanType):
            zt = "bool"
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            zt = ("interval" if h == "duration"
                  or (f.name == "duration" and not json_nums) else "double")
        elif isinstance(f.dataType, T.ArrayType):
            inner = "interval" if h == "duration" else "string"
            zt = f"vector[{inner}]"
        elif isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType)):
            zt = ("port" if h == "port"
                  else "int" if json_nums else "count")
        elif isinstance(f.dataType, T.StringType):
            zt = {"ip": "addr", "subnet": "subnet"}.get(h, "string")
        else:
            zt = _ZEEK_OUT_TYPE.get(type(f.dataType), "string")
        plan.append((f.name, zt))
    return plan


def write_zeek_tsv(df: DataFrame, path: str, log_path: str = "tenzir",
                   disable_timestamp_tags: bool = False,
                   set_separator: str = ",", empty_field: str = "(empty)",
                   unset_field: str = "-") -> None:
    """Zeek-native TSV printer: the full #separator/#set_separator/
    #empty_field/#unset_field/#path/#fields/#types header block followed
    by TSV rows, so ``read_zeek_tsv(write_zeek_tsv(df))`` round-trips
    (reference printer: formats/zeek_tsv.cpp; value rendering —
    ISO timestamps, adaptive durations, T/F bools — matches the
    reference's own zeek-tsv-pipeline-format goldens byte-for-byte).

    When ``log_path`` names a schema in the module library, the output
    conforms to the DECLARED layout: declared order, declared #types,
    declared-but-absent columns rendered unset — like the reference's
    typed import. Extra frame columns append after the declared ones.

    Rows are rendered distributed (one JVM concat_ws projection); the
    final single-file assembly streams SHARED-storage part files through
    the driver via the FileIO seam (_assemble_parts) — inherent to the
    single-stream .log format, not a data-scale path, and safe on a
    multi-machine cluster.
    """
    if not df.schema.fields or df.isEmpty():
        # the reference printer is per-batch: zero events emit zero
        # bytes, not a bare header block (broken_no_data_after_open /
        # empty-input goldens). Through the FileIO seam for shared
        # storage, same as the assembled path.
        from tenzir_spark.lake.format import DEFAULT_IO
        with DEFAULT_IO.open_write(path):
            pass
        return
    sep, unset, empty = "\t", unset_field, empty_field
    have = {f.name: f for f in df.schema.fields}
    plan = _zeek_plan(df, log_path)

    names, ztypes, rendered = [], [], []
    for name, zt in plan:
        names.append(name)
        ztypes.append(zt)
        if name not in have:
            rendered.append(F.lit(unset))
            continue
        dt = have[name].dataType
        col = F.col(f"`{name}`")
        if zt == "time":
            s = F.date_format(col.cast("timestamp"),
                              "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        elif zt == "bool":
            # guard nulls FIRST: when(col,'T').otherwise('F') routes
            # null into 'F', so a null bool would round-trip as False
            # instead of unset (round-2 advice #2)
            s = (F.when(col.isNull(), F.lit(None).cast("string"))
                 .when(col.cast("boolean"), F.lit("T"))
                 .otherwise(F.lit("F")))
        elif zt == "interval":
            s = _zeek_duration_text(col.cast("double"))
        elif zt.startswith("vector["):
            inner = zt[7:-1]
            arr = col if isinstance(dt, T.ArrayType) else F.array(col)
            if inner == "interval":
                items = _zeek_duration_list_text(arr)
            else:
                items = arr.cast("array<string>")
            # zeek_tsv.cpp prints BOTH null and empty lists as the
            # empty token (dns step_02 golden: input '-' -> '(empty)')
            s = (F.when(col.isNull(), F.lit(empty))
                 .when(F.size(arr) == 0, F.lit(empty))
                 .otherwise(F.array_join(items, set_separator)))
        else:
            s = col.cast("string")
            if isinstance(dt, T.StringType):
                s = F.when(col == "", F.lit(empty)).otherwise(s)
        rendered.append(F.coalesce(s, F.lit(unset)))
    line = F.concat_ws(sep, *rendered)

    head = ("#separator \\x09\n"
            f"#set_separator{sep}{set_separator}\n"
            f"#empty_field{sep}{empty}\n"
            f"#unset_field{sep}{unset}\n"
            f"#path{sep}{log_path}\n")
    tail = ""
    if not disable_timestamp_tags:
        # zeek_tsv.cpp:312-342: #open after the directives, #close at
        # the end, both wall-clock-stamped unless disabled
        import datetime as _dt
        stamp = _dt.datetime.now(_dt.timezone.utc).strftime(
            "%Y-%m-%d-%H-%M-%S")
        head += f"#open{sep}{stamp}\n"
        tail = f"#close{sep}{stamp}\n"
    head += (f"#fields{sep}" + sep.join(names) + "\n"
             f"#types{sep}" + sep.join(ztypes) + "\n")
    _assemble_parts(df.select(line.alias("value")), path,
                    head=head.encode(), tail=tail.encode())


# ------------------------------------------------------------------ cef

_CEF_PREFIX = r"^CEF:(\d+)\|((?:[^|\\]|\\.)*)\|((?:[^|\\]|\\.)*)\|((?:[^|\\]|\\.)*)\|((?:[^|\\]|\\.)*)\|((?:[^|\\]|\\.)*)\|((?:[^|\\]|\\.)*)\|(.*)$"


def read_cef(spark: SparkSession, path: str) -> DataFrame:
    """Common Event Format (reference: formats/cef.cpp — header fields +
    key=value extension bag). Header split is a JVM regex; the extension
    bag becomes a map<string,string> column."""
    lines = spark.read.text(path).filter(F.col("value").startswith("CEF:"))
    v = F.col("value")
    ext = F.regexp_extract(v, _CEF_PREFIX, 8)
    # "k1=v1 k2=v2 ..." -> map (keys have no spaces; values may until next k=)
    pairs = F.expr(
        r"map_from_entries(transform(regexp_extract_all(regexp_extract("
        r"value, '^CEF:[^|]*\\|[^|]*\\|[^|]*\\|[^|]*\\|[^|]*\\|[^|]*\\|[^|]*\\|(.*)$', 1),"
        r" '(\\S+?)=(.*?)(?=\\s+\\S+?=|$)', 0),"
        r" p -> struct(split(p, '=', 2)[0] as k, split(p, '=', 2)[1] as v)))"
    )
    return lines.select(
        F.regexp_extract(v, _CEF_PREFIX, 1).cast("int").alias("cef_version"),
        F.regexp_extract(v, _CEF_PREFIX, 2).alias("device_vendor"),
        F.regexp_extract(v, _CEF_PREFIX, 3).alias("device_product"),
        F.regexp_extract(v, _CEF_PREFIX, 4).alias("device_version"),
        F.regexp_extract(v, _CEF_PREFIX, 5).alias("signature_id"),
        F.regexp_extract(v, _CEF_PREFIX, 6).alias("name"),
        F.regexp_extract(v, _CEF_PREFIX, 7).alias("severity"),
        pairs.alias("extension"),
    )


# ------------------------------------------------------------------ yaml

def read_yaml(spark: SparkSession, path: str) -> DataFrame:
    """YAML documents -> rows (reference: formats/yaml.cpp). Gated on
    PyYAML availability; parsed in an Arrow-batched mapInPandas."""
    try:
        import yaml  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("yaml format needs PyYAML (not installed)") from exc
    import json as _json
    import pandas as pd

    whole = spark.read.text(path, wholetext=True)

    def parse(batches):
        import yaml as _y
        for pdf in batches:
            docs = []
            for blob in pdf["value"]:
                for doc in _y.safe_load_all(blob):
                    docs.append(_json.dumps(doc))
            yield pd.DataFrame({"json": docs})

    jdf = whole.mapInPandas(parse, "json string")
    # the reference's `read yaml` yields STRUCTURED events (yaml.cpp
    # parses into the series builder), so infer a unified schema over
    # the intermediate JSON docs. The RDD hop is the standard
    # json-lines→DataFrame bridge and stays fully distributed; yaml is
    # a config/printer edge format, never the bulk path.
    if not jdf.take(1):
        return spark.createDataFrame([], T.StructType([]))
    return spark.read.json(jdf.rdd.map(lambda r: r[0]))


def write_yaml(df: DataFrame, path: str) -> None:
    """YAML printer (reference: formats/yaml.cpp print side): one
    ``---``-separated document per row, matching the reference's
    document-stream output; ``read_yaml(write_yaml(df))`` round-trips.

    Rows are rendered distributed (an Arrow-batched mapInPandas emitting
    one YAML doc per row); the single-file assembly streams shared-
    storage part files through the FileIO seam — inherent to a one-stream
    text format, same as the zeek-tsv printer, cluster-safe."""
    df = _strip_meta(df)
    try:
        import yaml  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("yaml format needs PyYAML (not installed)") from exc
    import pandas as pd

    # mapInPandas resolves column names with df[name], which parses a
    # dotted flat name (`id.orig_h` from the json reader's --unnest
    # flattening) as struct access — rename to positional placeholders
    # for the hop and restore the real names inside the render
    names = list(df.columns)
    safe = df.toDF(*[f"_c{i}" for i in range(len(names))])

    def render(batches):
        import yaml as _y
        for pdf in batches:
            pdf.columns = names
            docs = [
                # explicit '---' document start per row: the concatenated
                # parts form one valid YAML document stream regardless of
                # part order or multi-line scalars
                "---\n" + _y.safe_dump(
                    {k: (v.item() if hasattr(v, "item") else v)
                     for k, v in row.items()
                     if v is not None and not (isinstance(v, float) and pd.isna(v))},
                    default_flow_style=False, sort_keys=False,
                ).rstrip("\n")
                for row in pdf.to_dict(orient="records")
            ]
            yield pd.DataFrame({"doc": docs})

    _assemble_parts(safe.mapInPandas(render, "doc string"), path)


# ------------------------------------------------------------------ ascii

def _ascii_value(v, is_map: bool = False) -> str:
    """One value in the reference's ascii data syntax
    (src/format/ascii.cpp + the data printer): null / true / false,
    quoted strings, bare numbers and timestamps (ISO, µs), [] lists,
    <...> records, {k -> v} maps. Durations print as plain numbers here
    (we carry them as seconds; the reference humanizes its native
    duration type — documented divergence)."""
    import datetime as _dt

    import numpy as _np
    import pandas as _pd

    if v is None or (isinstance(v, float) and v != v) or v is _pd.NaT:
        return "null"
    if isinstance(v, (bool, _np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (_dt.datetime, _pd.Timestamp)):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, bytes):
        return '"' + v.hex() + '"'
    if isinstance(v, (_np.integer,)):
        return str(int(v))
    if isinstance(v, (_np.floating,)):
        return str(float(v))
    if isinstance(v, (list, tuple, _np.ndarray)):
        return "[" + ", ".join(_ascii_value(x) for x in v) + "]"
    if isinstance(v, dict):
        # pandas renders Spark structs AND maps as dicts; the caller
        # flags MapType columns (is_map) — everything else is a record,
        # which the reference data printer renders <"field": value, ...>
        # (nested-records golden), maps as {k -> v}
        if is_map:
            return "{" + ", ".join(
                f"{_ascii_value(k)} -> {_ascii_value(x)}"
                for k, x in v.items()) + "}"
        return "<" + ", ".join(
            f"{_ascii_value(k)}: {_ascii_value(x)}"
            for k, x in v.items()) + ">"
    return str(v)


def _data_model_lines(df: DataFrame, row_fmt) -> DataFrame:
    """Shared core of the data-model printers (ascii / legacy export
    csv): render each leaf with the reference's data syntax, then let
    ``row_fmt(list[str]) -> str`` assemble the line. Type-hinted columns
    render as their DATA-MODEL types, not their storage strings:
    ip/subnet bare (example-config-file golden `192.168.1.103`),
    durations adaptive and bare (`2.65s`)."""
    import pandas as pd

    df = _strip_meta(df)
    hints = df.__dict__.get("_tenzir_type_hints") or {}
    bare = {c for c, h in hints.items()
            if h in ("ip", "subnet", "duration") and c in df.columns}
    if any(h == "duration" for c, h in hints.items() if c in df.columns):
        rendered = _render_durations(df)
        rendered.__dict__["_tenzir_type_hints"] = hints
        df = rendered
    names = df.columns
    struct_cols = {f.name for f in df.schema.fields
                   if isinstance(f.dataType, T.StructType)}
    map_cols = {f.name for f in df.schema.fields
                if isinstance(f.dataType, T.MapType)}
    int_cols = {f.name for f in df.schema.fields
                if isinstance(f.dataType, (T.ByteType, T.ShortType,
                                           T.IntegerType, T.LongType))}

    # same dotted-name hazard as write_yaml: df[name] on a flat
    # `id.orig_h` column parses as struct access — hop via positional
    # placeholders and restore the real names per batch
    safe = df.toDF(*[f"_c{i}" for i in range(len(names))])

    def render(batches):
        for pdf in batches:
            pdf.columns = names
            out = []
            for row in pdf.to_dict(orient="records"):
                vals = []
                for n in names:
                    v = row[n]
                    if n in struct_cols and isinstance(v, dict):
                        vals.append("<" + ", ".join(
                            _ascii_value(x) for x in v.values()) + ">")
                    elif n in int_cols and isinstance(v, float) and v == v:
                        # pandas widens nullable int columns to float
                        vals.append(str(int(v)))
                    elif n in bare and isinstance(v, str):
                        vals.append(v)  # ip/subnet/duration: unquoted
                    else:
                        vals.append(_ascii_value(v, is_map=n in map_cols))
                out.append(row_fmt(vals))
            yield pd.DataFrame({"value": out})

    return safe.mapInPandas(render, "value string")


def ascii_lines(df: DataFrame) -> DataFrame:
    """Render rows as the reference's `<v1, v2, ...>` ascii format
    (format/ascii.cpp) — one 'value' string column, distributed."""
    return _data_model_lines(
        df, lambda vals: "<" + ", ".join(vals) + ">")


def export_csv_lines(df: DataFrame, schema_name: str = "tenzir") -> DataFrame:
    """The legacy `export csv` writer (src/format/csv.cpp:153-183): one
    `type,<leaf keys>` header per schema, then rows
    `<schema>,v1,v2,...` with data-model value rendering — quoted
    strings, bare numbers/timestamps, adaptive durations — unlike the
    modern xsv printer's quote-on-demand. Returns only the data rows;
    the header belongs to the stream writer (one per schema change),
    so callers emit `export_csv_header` themselves."""
    return _data_model_lines(
        df, lambda vals: ",".join([schema_name] + vals))


def export_csv_header(df: DataFrame) -> str:
    return ",".join(["type"] + list(df.columns))


# ------------------------------------------------------------------ syslog

_SYSLOG_SCHEMA = (
    "_schema string, facility bigint, severity bigint, version bigint, "
    "ts timestamp, hostname string, app_name string, process_id string, "
    "message_id string, structured_data map<string,map<string,string>>, "
    "message string, syslog_message string"
)


def _parse_syslog_line(line: str):
    """One RFC 5424 message -> row dict, with the reference's semantics
    (format/syslog.hpp:82-113 header_parser): facility = prival/8,
    severity = prival%8; '-' renders string fields EMPTY and the
    timestamp null; structured data is escape-aware (\\] \\\\ \\\");
    message content follows one separator space (a BOM is stripped).
    Unparseable lines become syslog.unknown{syslog_message}
    (syslog.cpp:49-55 make_unknown_type)."""
    import datetime as _dt
    import re as _re

    m = _re.match(r"<(\d{1,3})>(\d{1,3}) ", line)
    if not m or int(m.group(1)) > 191 or int(m.group(2)) == 0:
        return {"_schema": "syslog.unknown", "syslog_message": line}
    prival, version = int(m.group(1)), int(m.group(2))
    rest = line[m.end():]
    toks = rest.split(" ", 5)
    if len(toks) < 6:
        return {"_schema": "syslog.unknown", "syslog_message": line}
    ts_s, hostname, app_name, process_id, message_id, tail = toks
    ts = None
    if ts_s != "-":
        try:
            ts = _dt.datetime.fromisoformat(ts_s.replace("Z", "+00:00"))
            if ts.tzinfo is not None:  # normalize to UTC like the golden
                ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        except ValueError:
            return {"_schema": "syslog.unknown", "syslog_message": line}
    sd: dict | None = None
    msg = None
    if tail.startswith("-"):
        msg = tail[2:] if tail[1:2] == " " else (tail[1:] or None)
    else:
        sd = {}
        i = 0
        while i < len(tail) and tail[i] == "[":
            j = tail.find(" ", i)
            end_br = tail.find("]", i)
            if j < 0 or (0 <= end_br < j):  # id-only element "[id]"
                if end_br < 0:
                    return {"_schema": "syslog.unknown",
                            "syslog_message": line}
                sd[tail[i + 1:end_br]] = {}
                i = end_br + 1
                continue
            sd_id = tail[i + 1:j]
            params: dict = {}
            i = j
            while i < len(tail) and tail[i] == " ":
                i += 1
                eq = tail.find("=", i)
                if eq < 0 or tail[eq + 1:eq + 2] != '"':
                    return {"_schema": "syslog.unknown",
                            "syslog_message": line}
                key = tail[i:eq]
                i = eq + 2
                buf = []
                while i < len(tail) and tail[i] != '"':
                    if tail[i] == "\\" and i + 1 < len(tail):
                        buf.append(tail[i + 1])
                        i += 2
                    else:
                        buf.append(tail[i])
                        i += 1
                if i >= len(tail):
                    return {"_schema": "syslog.unknown",
                            "syslog_message": line}
                params[key] = "".join(buf)
                i += 1  # closing quote
            if i >= len(tail) or tail[i] != "]":
                return {"_schema": "syslog.unknown", "syslog_message": line}
            sd[sd_id] = params
            i += 1
        msg = tail[i + 1:] if i < len(tail) and tail[i] == " " else None
    if msg is not None and msg.startswith("\ufeff"):
        msg = msg[1:]
    nil = lambda s: "" if s == "-" else s  # noqa: E731
    return {
        "_schema": "syslog.rfc5424",
        "facility": prival // 8, "severity": prival % 8, "version": version,
        "ts": ts, "hostname": nil(hostname), "app_name": nil(app_name),
        "process_id": nil(process_id), "message_id": nil(message_id),
        "structured_data": sd, "message": msg,
    }


def read_syslog(spark: SparkSession, path: str) -> DataFrame:
    """RFC 5424 syslog reader (reference: format/syslog.{hpp,cpp} —
    schemas ``syslog.rfc5424`` + ``syslog.unknown`` fallback). One
    unified frame with a ``_schema`` routing column, like read_suricata.

    Divergence-plus: the reference DROPS structured data because its
    index cannot handle map types (syslog.cpp:38-44 TODO); Spark has
    map<string,map<string,string>>, so it is kept as a real column.

    Scale: line-parallel (spark.read.text splits files), Arrow-batched
    per-row parse inside mapInPandas — format parsing is inherently
    per-message, the same unit of work as the reference's line reader.
    """
    import pandas as pd

    lines = spark.read.text(path).filter(F.length("value") > 0)

    def parse(batches):
        for pdf in batches:
            rows = [_parse_syslog_line(v) for v in pdf["value"]]
            cols: dict[str, list] = {}
            names = ["_schema", "facility", "severity", "version", "ts",
                     "hostname", "app_name", "process_id", "message_id",
                     "structured_data", "message", "syslog_message"]
            for nm in names:
                cols[nm] = [r.get(nm) for r in rows]
            out = pd.DataFrame(cols)
            out["ts"] = pd.to_datetime(out["ts"]).dt.tz_localize("UTC")
            yield out

    return lines.mapInPandas(parse, _SYSLOG_SCHEMA)


# ------------------------------------------------------------------ parquet / feather

# SQL confs whose values change the schema parquet inference returns
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    # a partition column's type comes from the given schema, not its values
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# most sources the catalog remembers; the least recently read goes first
CATALOG_ENTRIES = 256


class SchemaCatalog:
    """Inferred parquet schemas of this process's sources, the analog of
    the reference's in-memory catalog (catalog.cpp:71-115): a query
    plans against the schema registered for its source instead of
    deriving it again.

    An entry maps a source (paths, reader options, inference confs) to
    the listing signature it was inferred at and the schema. Only the
    schema is kept, never a DataFrame: a kept frame pins a stale file
    index. Guarded by a lock, because the web server plans queries
    from threads."""

    def __init__(self) -> None:
        self._entries: OrderedDict[tuple, tuple[bytes, T.StructType]] = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, source: tuple, signature: bytes) -> T.StructType | None:
        """The schema inferred for ``source`` at ``signature``; None when
        the source is unknown or its files changed since."""
        with self._lock:
            hit = self._entries.get(source)
            if hit is None or hit[0] != signature:
                return None
            self._entries.move_to_end(source)
            return hit[1]

    def put(self, source: tuple, signature: bytes, schema: T.StructType) -> None:
        with self._lock:
            self._entries[source] = (signature, schema)
            self._entries.move_to_end(source)
            while len(self._entries) > CATALOG_ENTRIES:
                self._entries.popitem(last=False)


SOURCE_CATALOG = SchemaCatalog()


def _local_path(path: str) -> str | None:
    """The driver-local filesystem path a reader path names; None for a
    URI of another scheme, a Hadoop glob, a ``file:`` URI with escapes
    (left to Hadoop's own decoding), or a relative path (the JVM
    resolves it against its own start directory, which a later
    ``os.chdir`` does not move)."""
    if any(c in path for c in "*?[]{}\\"):
        return None
    scheme = re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path)
    if scheme is None:
        return path if os.path.isabs(path) else None
    if scheme.group(0).lower() != "file:" or any(c in path for c in "%#"):
        return None
    url = urlsplit(path)
    return url.path if url.netloc in ("", "localhost") else None


def _listing_signature(paths: tuple[str, ...]) -> bytes | None:
    """Digest of ``(path, st_ino, st_size, st_mtime_ns)`` of every file
    under ``paths``, hidden ``_``/``.`` files included, so a rewritten,
    added or deleted file (or a new partition directory) changes it.
    None when a path is not driver-local or cannot be listed."""
    h = hashlib.blake2b(digest_size=16)
    try:
        for p in paths:
            local = _local_path(p)
            if local is None:
                return None
            st = os.stat(local)
            if not stat.S_ISDIR(st.st_mode):
                h.update(repr((p, st.st_ino, st.st_size, st.st_mtime_ns)).encode())
                continue
            for dirpath, dirs, names in os.walk(local, followlinks=True):
                dirs.sort()
                for n in sorted(names):
                    f = os.path.join(dirpath, n)
                    s = os.stat(f)
                    h.update(repr((f, s.st_ino, s.st_size, s.st_mtime_ns)).encode())
    except OSError:
        return None
    return h.digest()


def read_parquet(spark: SparkSession, *paths: str, **options) -> DataFrame:
    """Parquet source through the session's schema catalog.

    The first read of a source runs Spark's own inference (a job) and
    registers the inferred ``StructType`` in ``SOURCE_CATALOG``; a later
    read of the unchanged source passes that schema to the reader,
    which plans without a job. Plan and rows are the inferred read's.

    The key is the tuple of ``paths``, the sorted reader ``options``,
    the values of the confs in ``_PARQUET_INFERENCE_CONFS``, and a
    driver-side listing signature: ``(path, st_ino, st_size,
    st_mtime_ns)`` of every file under each path, hidden files
    included. Any rewritten, added or deleted file therefore infers
    again. Remote URIs (any scheme but ``file:``), glob paths and
    relative paths are not cached: they read exactly as
    ``spark.read.parquet`` does. A failed read caches nothing."""
    reader = spark.read.options(**options)
    signature = _listing_signature(paths)
    if signature is None:
        return reader.parquet(*paths)
    source = (paths, tuple(sorted((k, str(v)) for k, v in options.items())),
              tuple(spark.conf.get(k, None) for k in _PARQUET_INFERENCE_CONFS))
    schema = SOURCE_CATALOG.get(source, signature)
    if schema is not None:
        return reader.schema(schema).parquet(*paths)
    df = reader.parquet(*paths)
    SOURCE_CATALOG.put(source, signature, df.schema)
    return df


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  compression: str = "zstd", partition_by: list[str] | None = None) -> None:
    """zstd parquet, matching the reference store defaults
    (plugins/parquet/parquet.cpp:317-324)."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_feather(spark: SparkSession, path: str) -> DataFrame:
    """Feather/Arrow-IPC store files (reference: builtins/stores/
    feather.cpp). Spark has no native reader; files list via binaryFile
    and decode executor-side in a mapInPandas (pyarrow is present on
    executors — it backs the Arrow UDF path), so a directory of store
    files reads in parallel. The driver touches one file only to sniff
    the schema. A single feather file is one task — feather's row-group
    (record-batch) layout is not byte-range splittable here; large
    multi-file stores parallelize per file, same shape as pcap."""
    import glob as _glob
    import os as _os

    import pyarrow as pa

    # schema sniff: first matching file — FOOTER only (ipc.open_file
    # reads metadata, not record batches; fe.read_table would
    # materialize the whole first file on the driver)
    candidates = sorted(_glob.glob(path)) or [path]
    first = candidates[0]
    if _os.path.isdir(first):
        inner = sorted(_glob.glob(_os.path.join(first, "*")))
        first = inner[0] if inner else first
    from pyspark.sql.pandas.types import from_arrow_schema
    try:
        with pa.memory_map(first, "r") as src:
            arrow_schema = pa.ipc.open_file(src).schema
    except pa.ArrowInvalid:
        # legacy Feather V1 is not the IPC file format — small by
        # definition; read it to get the schema
        import pyarrow.feather as fe
        arrow_schema = fe.read_table(first).schema
    sdf_schema = from_arrow_schema(arrow_schema)

    def decode(batches):
        import io as _io

        import pyarrow.feather as _fe

        for pdf in batches:
            for blob in pdf["content"]:
                yield _fe.read_table(_io.BytesIO(bytes(blob))).to_pandas()

    files = spark.read.format("binaryFile").load(path)
    return files.select("content").mapInPandas(decode, sdf_schema)


COMPRESSION_CODECS = ["none", "gzip", "snappy", "zstd", "lz4", "brotli"]


def read_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Arrow IPC STREAM connector (reference: `import arrow` /
    plugins arrow.cpp printer counterpart). A file may hold SEVERAL
    concatenated streams — one per schema, like the reference's
    per-schema writers — each tagged `VAST:name:0`/`TENZIR:name:0`
    schema metadata; readers open until the bytes run out, exactly the
    loop the reference's own print-arrow.py harness uses. The
    reference's vast.address extension columns (fixed_size_binary[16])
    decode to the engine's string-ip form with an `ip` hint; duration
    columns to double seconds.

    Parses on the DRIVER (the stream wire format is sequential by
    nature — same spool class as the stdin/zeek-multi paths); bulk
    at-scale interchange stays on parquet/feather, which read
    distributed."""
    import ipaddress as _ip

    import pyarrow as pa

    frames = []
    hints_all: dict[str, str] = {}
    with pa.input_stream(path) as stream:
        while True:
            try:
                reader = pa.ipc.RecordBatchStreamReader(stream)
            except (pa.ArrowInvalid, OSError):
                break
            meta = reader.schema.metadata or {}
            name = (meta.get(b"TENZIR:name:0") or meta.get(b"VAST:name:0")
                    or b"").decode() or None
            table = reader.read_all()

            def map_t(t):
                if pa.types.is_unsigned_integer(t):
                    return pa.int64()
                if pa.types.is_list(t):
                    return pa.list_(map_t(t.value_type))
                if pa.types.is_struct(t):
                    return pa.struct([pa.field(f.name, map_t(f.type))
                                      for f in t])
                return t

            import pyarrow.compute as pc
            arrays, fields = [], []
            for i, field in enumerate(table.schema):
                col = table.column(i).combine_chunks()
                t = field.type
                if pa.types.is_fixed_size_binary(t) and t.byte_width == 16:
                    arr = pa.array(
                        [None if b is None else str(
                            getattr(_ip.IPv6Address(b), "ipv4_mapped",
                                    None) or _ip.IPv6Address(b))
                         for b in col.to_pylist()], pa.string())
                    hints_all[field.name] = "ip"
                elif pa.types.is_duration(t):
                    arr = pc.divide(
                        pc.cast(pc.cast(col, pa.int64()), pa.float64()),
                        1e9)
                    hints_all[field.name] = "duration"
                else:
                    mt = map_t(t)
                    arr = col if mt == t else pc.cast(col, mt)
                arrays.append(arr)
                fields.append(pa.field(field.name, arr.type, True))
            df = spark.createDataFrame(
                pa.table(arrays, schema=pa.schema(fields)))
            if name:
                df = df.withColumn("_schema", F.lit(name))
            frames.append(df)
    if not frames:
        return spark.createDataFrame([], T.StructType([]))
    from tenzir_spark.operators.cast import unify_streams
    out = frames[0] if len(frames) == 1 else unify_streams(
        frames, schema_col=None)
    if hints_all:
        out.__dict__["_tenzir_type_hints"] = hints_all
    return out


def write_arrow(df: DataFrame, path: str) -> None:
    """Arrow IPC stream printer: each partition serializes its batches
    as ONE IPC stream executor-side (mapInArrow, zero row-level Python),
    and the driver concatenates the streams through the FileIO seam —
    a multi-stream file, the same layout the reference's per-schema
    arrow writers produce and its print-arrow harness consumes."""
    import base64 as _b64

    # dotted flat names (zeek `id.orig_h`) break mapInArrow's internal
    # projection — ship safe names and restore the labels per batch
    orig = list(df.columns)
    safe = [f"c{i}" for i in range(len(orig))]

    def to_ipc(batches):
        import base64

        import pyarrow as pa
        sink = pa.BufferOutputStream()
        writer = None
        for b in batches:
            b = b.rename_columns(orig)
            if writer is None:
                writer = pa.ipc.new_stream(sink, b.schema)
            writer.write_batch(b)
        if writer is None:
            return
        writer.close()
        yield pa.RecordBatch.from_pydict(
            {"b64": [base64.b64encode(
                sink.getvalue().to_pybytes()).decode()]})

    lines = df.toDF(*safe).mapInArrow(to_ipc, "b64 string")
    _assemble_parts(lines, path, transform=_b64.b64decode)


def compressed_write(df: DataFrame, path: str, codec: str = "zstd",
                     fmt: str = "parquet") -> None:
    """compress/decompress operators (reference:
    compress_decompress.cpp:145) map to file-format codec options."""
    if codec not in COMPRESSION_CODECS:
        raise ValueError(f"unknown codec {codec!r}")
    df.write.mode("overwrite").option("compression", codec).format(fmt).save(path)
