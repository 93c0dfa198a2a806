"""TQL pipeline-string parser: ``"where x > 1 | select a b | head 5"``
-> a runnable Pipeline.

The reference's primary UX is a pipeline STRING (``tenzir exec "from f
read json | where ... | summarize ..."``): the TQL parser splits on
``|``, resolves each operator name against the plugin registry / alias
table, and delegates argument parsing to the operator
(libtenzir/src/tql/parser.cpp:310-402). This module is the Spark
counterpart: each segment dispatches to the operator library, predicates
and operands reuse the expr compiler, and the composed result is a lazy
DataFrame that Catalyst optimizes — the reference's hand-rolled pushdown
walk (pipeline.cpp:245-275) is not re-implemented.

``exec_pipeline`` mirrors ``tenzir exec`` closure semantics loosely: a
pipeline with no source requires ``source=``; a trailing sink executes on
``.run()`` (exec.cpp:32-95 prepends stdin / appends stdout — driver-side
I/O is out of scope here, file sinks are supported).
"""

from __future__ import annotations

import re
import shlex
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from tenzir_spark.plans.pipeline import Pipeline
from tenzir_spark.expr import compile_operand
from tenzir_spark.sources import formats as fmt

# ---------------------------------------------------------------------------
# splitting
# ---------------------------------------------------------------------------


def split_pipeline(text: str) -> list[str]:
    """Split on top-level '|' (quotes and parens respected; '||' is the
    boolean OR inside expressions, never a segment boundary)."""
    segs: list[str] = []
    depth = 0
    quote: str | None = None
    cur: list[str] = []
    i = 0
    while i < len(text):
        ch = text[i]
        if quote:
            cur.append(ch)
            if ch == quote and text[i - 1] != "\\":
                quote = None
        elif ch in "\"'":
            quote = ch
            cur.append(ch)
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == "|" and depth == 0:
            if i + 1 < len(text) and text[i + 1] == "|":
                cur.append("||")
                i += 1
            else:
                segs.append("".join(cur).strip())
                cur = []
        else:
            cur.append(ch)
        i += 1
    if "".join(cur).strip():
        segs.append("".join(cur).strip())
    return [s for s in segs if s]


def _strip_comments(text: str) -> str:
    """Remove ``/* ... */`` comments outside quotes (reference TQL
    comments, tests.yaml:647: non-nested — the FIRST ``*/`` ends the
    comment, so ``/*double beginning /* is valid*/``; an unterminated
    opener or a stray closer is a parse error), ``// ...`` line
    comments (only when the ``//`` starts the text or follows
    whitespace, so ``https://`` URLs survive; an empty pattern ``//``
    is invalid anyway), and a leading ``#!`` shebang line (reference
    'Parse basic': ``#!/usr/bin/env tenzir``)."""
    if text.startswith("#!"):
        nl = text.find("\n")
        text = "" if nl < 0 else text[nl + 1:]
    out: list[str] = []
    i, n = 0, len(text)
    quote: str | None = None
    while i < n:
        ch = text[i]
        if quote is None and text.startswith("//", i) \
                and (i == 0 or text[i - 1].isspace()):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if quote:
            out.append(ch)
            if ch == "\\" and i + 1 < n:
                out.append(text[i + 1])
                i += 2
                continue
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in "\"'":
            quote = ch
            out.append(ch)
            i += 1
            continue
        if ch == "/" and not text.startswith("/*", i):
            # pattern literal? only in operand position (after a relop
            # or opener) — same disambiguation rule as the expression
            # tokenizer; its body may contain "*/" (e.g. /flow.*/),
            # which must not read as a comment closer
            prev = "".join(out).rstrip()
            if prev.endswith(("==", "!=", " in", "(", ",", "!")):
                j = i + 1
                while j < n and text[j] != "/":
                    j += 2 if text[j] == "\\" else 1
                if j < n:
                    j += 1
                    if j < n and text[j] == "i":
                        j += 1
                    out.append(text[i:j])
                    i = j
                    continue
        # comment delimiters must stand alone (preceded by start,
        # whitespace, or '|') so glob paths like /data/*/x.parquet
        # never lex as comments
        standalone = i == 0 or text[i - 1].isspace() or text[i - 1] == "|"
        if standalone and text.startswith("/*", i):
            end = text.find("*/", i + 2)
            if end < 0:
                raise ValueError("unterminated /* comment in pipeline")
            i = end + 2
            continue
        if text.startswith("*/", i) and (standalone or (
                text[i - 1].isalnum()
                and (i + 2 >= n or text[i + 2].isspace()
                     or text[i + 2] == "|"))):
            # a closer that stands alone OR terminates a word
            # (`slash*/`, tests.yaml:647) is a stray comment end;
            # glob paths like /data/*/x.parquet survive (their `*/`
            # follows '/' and is followed by a path character)
            raise ValueError("stray */ outside a comment in pipeline")
        out.append(ch)
        i += 1
    stripped = "".join(out)
    # a segment that held ONLY a comment is not a valid operator
    # (tests.yaml:647: `select x | /**/` must error, matching the
    # reference's parser) — but a pipeline that is ENTIRELY comment or
    # blank is simply the empty pipeline ('Parse basic': `// comment`)
    empty_seg = re.compile(r"(?:^|\|)\s*(?:\||$)")
    if "|" in stripped and empty_seg.search(stripped) \
            and not empty_seg.search(text):
        raise ValueError("a pipeline operator cannot be only a comment")
    return stripped


def _split_top(text: str, sep: str = ",") -> list[str]:
    """Split on a separator at paren/quote depth 0."""
    out, depth, quote, cur = [], 0, None, []
    for ch in text:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
            cur.append(ch)
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur).strip())
    return [x for x in out if x]


# ---------------------------------------------------------------------------
# format readers (from/read) and writers (to/write)
# ---------------------------------------------------------------------------

_READERS: dict[str, Callable] = {
    "json": fmt.read_json,
    "suricata": fmt.read_suricata,
    "zeek-json": fmt.read_zeek_json,
    "csv": fmt.read_csv,
    "tsv": fmt.read_tsv,
    "ssv": fmt.read_ssv,
    "zeek-tsv": fmt.read_zeek_tsv,
    "lines": fmt.read_lines,
    "cef": fmt.read_cef,
    "yaml": fmt.read_yaml,
    "parquet": fmt.read_parquet,
    "feather": fmt.read_feather,
    "arrow": fmt.read_arrow,
    "syslog": fmt.read_syslog,
}


def _read_pcap(spark, path, **kw):
    from tenzir_spark.sources.pcap import read_pcap
    return read_pcap(spark, path, **kw)


def _read_netflow(spark, path, **kw):
    from tenzir_spark.sources.netflow import read_netflow
    return read_netflow(spark, path, **kw)


_READERS["pcap"] = _read_pcap
_READERS["netflow"] = _read_netflow

_EXT_FORMAT = {
    ".json": "json", ".ndjson": "json", ".jsonl": "json",
    ".csv": "csv", ".tsv": "tsv", ".ssv": "ssv",
    ".parquet": "parquet", ".feather": "feather",
    ".yaml": "yaml", ".yml": "yaml", ".txt": "lines",
    ".pcap": "pcap",
}

# Inferred-schema names the reference gives per-format batches (the
# integration goldens pin them: measure-events -> tenzir.json, repeat ->
# cef.event). Formats whose readers stamp a per-file name (zeek-tsv's
# #path) or vary per row (suricata event_type) are absent here.
_FMT_SCHEMA_NAME = {
    "json": "tenzir.json",
    "cef": "cef.event",
    "lines": "tenzir.lines",
}


def _reader_kwargs(f: str, toks: list[str]) -> dict:
    """Map TQL reader flags to reader kwargs (reference: json.cpp:96-105
    --selector/--schema; xsv.cpp header/null options; lines.cpp -s)."""
    from pyspark.sql import types as T

    kw: dict = {}
    toks = _split_eq_opts(toks)
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "--selector" and f in ("json",):
            val = toks[i + 1]
            i += 2
            fld, _, prefix = val.partition(":")
            kw["selector"] = fld
            if prefix:
                kw["selector_prefix"] = prefix
        elif t == "--schema" and f in ("json", "csv", "tsv", "ssv"):
            # a NAMED schema from the module library (schema_lib;
            # reference /schema/types, e.g. suricata.alert) or a DDL
            # string ('a int, b string') — explicit schemas skip
            # inference exactly like the reference's --schema
            from tenzir_spark.schema_lib import get_schema
            named = get_schema(toks[i + 1])
            if named is not None:
                kw["schema"] = named[0]
                # carry the library's ip/subnet hints so downstream
                # `where x in 10.0.0.0/8` gets typed-ip semantics
                kw["__hints"] = named[1]
            else:
                kw["schema"] = T._parse_datatype_string(toks[i + 1])
            i += 2
        elif t == "--no-infer" and f in ("json", "suricata", "zeek-json"):
            # with an explicit Spark schema, fields outside it are
            # already dropped; for the selector readers the declared
            # library schema gates the columns (json.cpp --no-infer;
            # skip-columns-...-no-infer golden drops undeclared fields)
            kw["no_infer"] = True
            i += 1
        elif t == "--arrays-of-objects" and f == "json":
            kw["arrays_of_objects"] = True
            i += 1
        elif t == "--no-header" and f in ("csv", "tsv", "ssv"):
            kw["header"] = False
            i += 1
        elif t == "--null-value" and f in ("csv", "tsv", "ssv"):
            kw["null_value"] = toks[i + 1]
            i += 2
        elif t == "--unnest-separator" and f in ("json", "suricata",
                                                 "zeek-json"):
            # json.cpp --unnest-separator: flatten nested records into
            # separator-joined top-level names at parse time
            kw["__unnest"] = toks[i + 1]
            i += 2
        elif t in ("-s", "--skip-empty") and f == "lines":
            kw["skip_empty"] = True
            i += 1
        elif t in ("-e", "--emit-file-headers") and f == "pcap":
            kw["emit_file_headers"] = True
            i += 1
        else:
            raise ValueError(f"unknown reader option {t!r} for format {f!r}")
    return kw


def _split_eq_opts(toks: list[str]) -> list[str]:
    """Accept both spellings the reference uses: `--opt value` and
    `--opt=value` (tests.yaml mixes them, e.g. --selector=schema:argus)."""
    out: list[str] = []
    for t in toks:
        if t.startswith("--") and "=" in t:
            name, _, val = t.partition("=")
            out.extend([name, val])
        else:
            out.append(t)
    return out


def _kafka_x_options(toks: list[str]) -> dict[str, str]:
    """Collect `-X k=v[,k=v...]` / `--set k=v` librdkafka-style options
    (connectors/kafka.md); only bootstrap.servers is meaningful to the
    wire client, the rest are accepted for surface parity."""
    out: dict[str, str] = {}
    i = 0
    while i < len(toks):
        if toks[i] in ("-X", "--set") and i + 1 < len(toks):
            for kvp in toks[i + 1].split(","):
                k, _, v = kvp.partition("=")
                if k:
                    out[k.strip()] = v.strip()
            del toks[i:i + 2]
        else:
            i += 1
    return out


def _duration_seconds(v: str) -> float:
    """'2', '2s', '500ms', '3min', '1h', '42 mins', '3m42s10ms' ->
    seconds. Full reference duration grammar (word units, compound
    components; functions/timeparse.py replays time.cpp); a bare
    number means seconds, as the reference's option-level duration
    defaults do."""
    from tenzir_spark.functions.timeparse import parse_duration_ns
    v = v.strip()
    try:
        return parse_duration_ns(v) / 1e9
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        raise ValueError(
            f"cannot parse duration {v!r} (use e.g. 2s, 500ms, 3min, 1h)")


def _read_fmt(spark: SparkSession, f: str, path: str, opts: list[str] | None = None):
    if f not in _READERS:
        # parser_plugin surface: registered parsers own their option
        # grammar, so the raw tokens pass through (tenzir_spark.plugin)
        from tenzir_spark import plugin
        pf = plugin.get_parser(f)
        if pf is not None:
            return pf(spark, path, list(opts or []))
        raise ValueError(f"unknown read format {f!r}")
    kw = _reader_kwargs(f, opts or [])
    hints = kw.pop("__hints", None)
    unnest = kw.pop("__unnest", None)
    df = _READERS[f](spark, path, **kw)
    if unnest is not None:
        from tenzir_spark.operators.transform import flatten
        df = flatten(df, sep=unnest)
    if hints:
        # declared `duration #unit=X` fields arrive as bare numbers in
        # that unit — scale to the engine's double-seconds domain
        # (argus.schema:91 SIntPkt #unit=ms; node-argus goldens)
        for k, unit in hints.items():
            if not k.endswith("#unit"):
                continue
            c = k[:-len("#unit")]
            fac = fmt._UNIT_SECONDS.get(unit)
            if fac and fac != 1.0 and c in df.columns:
                from pyspark.sql import functions as _F
                from pyspark.sql import types as _T
                if isinstance(df.schema[c].dataType,
                              (_T.DoubleType, _T.FloatType, _T.LongType,
                               _T.IntegerType)):
                    df = df.withColumn(
                        c, _F.col(f"`{c}`").cast("double") * _F.lit(fac))
        # extractor type hints from the named schema (ip/subnet columns)
        # ride on the frame for the downstream `where` compiler
        df.__dict__["_tenzir_type_hints"] = hints
    if "_tenzir_schema" not in df.__dict__ and f in _FMT_SCHEMA_NAME:
        # the reference names inferred schemas per format (json.cpp ->
        # tenzir.json, cef parser -> cef.event); measure/#schema read it
        df.__dict__["_tenzir_schema"] = _FMT_SCHEMA_NAME[f]
    return df


def _infer_format(path: str) -> str:
    base = path.lower()
    for z in (".gz", ".zst", ".bz2"):  # spark text-based readers handle codecs
        if base.endswith(z):
            base = base[: -len(z)]
    for ext, f in _EXT_FORMAT.items():
        if base.endswith(ext):
            return f
    raise ValueError(f"cannot infer format from {path!r}; use 'from {path} read <fmt>'")


# ---------------------------------------------------------------------------
# parse
# ---------------------------------------------------------------------------


@dataclass
class _Sink:
    kind: str  # "parquet" | "json" | "csv" | "tsv" | "stdout" | "discard" | "import"
    path: str | None = None
    epoch: int | None = None


def _split_before_kv(chunk: str) -> list[str]:
    """Split a chunk before each ``name=`` token, but ONLY at whitespace
    that sits at paren/bracket depth 0 outside quotes — the same scanner
    discipline as _split_top, so ``put msg="a b = c"`` keeps the quoted
    operand intact and function args containing 'x = y' don't mis-split
    (round-2 advice #1; a bare regex saw through quotes)."""
    kv_head = re.compile(r"[A-Za-z_][\w.]*\s*=")
    out: list[str] = []
    depth = 0
    quote: str | None = None
    cur: list[str] = []
    i, n = 0, len(chunk)
    while i < n:
        ch = chunk[i]
        if quote:
            cur.append(ch)
            if ch == quote and chunk[i - 1] != "\\":
                quote = None
        elif ch in "\"'":
            quote = ch
            cur.append(ch)
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch.isspace() and depth == 0:
            # split point only if what follows (after the spaces) is a
            # fresh name= token
            j = i
            while j < n and chunk[j].isspace():
                j += 1
            if cur and kv_head.match(chunk, j):
                out.append("".join(cur).strip())
                cur = []
                i = j
                continue
            cur.append(ch)
        else:
            cur.append(ch)
        i += 1
    if "".join(cur).strip():
        out.append("".join(cur).strip())
    return out


def _kv_pairs(arg: str) -> dict[str, str]:
    """Parse ``name=operand`` lists. Comma-separated when a top-level
    comma exists; otherwise split only BEFORE the next ``name=`` token so
    operands may contain spaces (``put y=a + 1 z=b * 2``). Both splits
    are depth/quote-aware."""
    parts: list[str] = []
    for chunk in _split_top(arg, ","):
        parts.extend(_split_before_kv(chunk.strip()))
    out: dict[str, str] = {}
    for p in parts:
        if "=" not in p:
            raise ValueError(f"expected name=value, got {p!r}")
        name, val = p.split("=", 1)
        out[name.strip()] = val.strip()
    return out


def _names(arg: str) -> list[str]:
    return [t for t in re.split(r"[,\s]+", arg.strip()) if t]


def parse_pipeline(text: str, spark: SparkSession | None = None,
                   source: DataFrame | Pipeline | None = None) -> Pipeline:
    """Parse a TQL pipeline string into a Pipeline.

    Source operators (``from``) need ``spark``; source-less pipelines need
    ``source``. A trailing sink (``to``/``write``/``save``/``discard``) is
    recorded on the Pipeline and executes via ``.run()``.
    """
    text = _strip_comments(text)
    segs = split_pipeline(text)
    if not segs:
        raise ValueError("empty pipeline")
    p: Pipeline | None = (source if isinstance(source, Pipeline)
                          else Pipeline(source) if source is not None else None)
    sink: _Sink | None = None
    read_fmt_pending: str | None = None

    for seg in segs:
        if sink is not None:
            # `write <fmt> | save <path>` — the reference's split form
            # (to_write_save.cpp fuses them; we fill the path in)
            msave = re.match(r"^save\s+(\S+)\s*$", seg)
            if sink.path is None and sink.kind not in ("stdout", "discard") and msave:
                path = msave.group(1)
                if path in ("-", "stdout"):
                    if sink.kind == "ascii":
                        sink.path = "-"  # ascii keeps its printer on stdout
                    else:
                        sink = _Sink("stdout")
                else:
                    sink.path = path
                continue
            raise ValueError(f"operator after sink: {seg!r}")
        m = re.match(r"^([A-Za-z_][\w-]*)\s*(.*)$", seg, re.S)
        if not m:
            raise ValueError(f"cannot parse operator segment {seg!r}")
        op, arg = m.group(1), m.group(2).strip()

        # local/remote placement modifiers (local_remote.cpp:24): accepted
        # and stripped, CHAINABLE (`local remote local pass`, reference
        # 'Parse operators') — in Spark, driver-vs-executor placement is
        # the scheduler's decision, so the modifiers are semantic no-ops
        while op in ("local", "remote") and arg:
            m = re.match(r"^([A-Za-z_][\w-]*)\s*(.*)$", arg, re.S)
            if not m:
                raise ValueError(f"cannot parse operator after {op!r}")
            op, arg = m.group(1), m.group(2).strip()

        # -- sources -------------------------------------------------------
        if op in ("from", "load"):
            if spark is None:
                raise ValueError("'from' requires a SparkSession")
            toks = shlex.split(arg)
            follow = "--follow" in toks
            toks = [t for t in toks if t != "--follow"]
            if len(toks) >= 2 and toks[0] == "file" and toks[1] != "read":
                # explicit file connector word (connectors/file.cpp:
                # `from file <path>` / `load file -`)
                toks = toks[1:]
            path = toks[0]
            infer_src = path
            # ftps deliberately absent: urllib cannot open it, so
            # advertising it would only defer the failure
            if path.split("://", 1)[0] in ("http", "https", "ftp",
                                           "file") and "://" in path:
                # curl connector (connectors/curl.cpp): driver-side
                # fetch to a spool, distributed parse; s3a/gs URIs pass
                # straight through below (Spark-native). Format inference
                # uses the URL's PATH component — query strings and
                # fragments carry no extension.
                from tenzir_spark.sources.net import http_fetch
                infer_src = path.split("?", 1)[0].split("#", 1)[0]
                path = http_fetch(path)
            if path in ("s3", "gcs") or (
                    "://" in path
                    and path.split("://", 1)[0] in ("s3", "gs", "gcs")):
                # object-store loader (s3.cpp loader / plugins/gcs):
                # `from s3 [--anonymous] s3://bucket/key [read fmt]` or a
                # bare s3://|gs:// URI. Arrow filesystem fetch to a
                # driver spool, distributed parse — same split as curl.
                # (s3a:// stays Spark-native and never reaches here.)
                from tenzir_spark.sources.objectstore import \
                    objectstore_fetch
                ctoks = toks[1:] if path in ("s3", "gcs") else toks[:]
                ridx = ctoks.index("read") if "read" in ctoks else len(ctoks)
                conn, rest = ctoks[:ridx], ctoks[ridx:]
                anon = "--anonymous" in conn
                conn = [t for t in conn if t != "--anonymous"]
                if not conn:
                    raise ValueError(f"'{op} {toks[0]}' requires a URI")
                uri = conn[0]
                infer_src = uri.split("?", 1)[0]
                path = objectstore_fetch(uri, anonymous=anon)
                toks = [path] + rest
            if path == "nic":
                # live AF_PACKET capture -> pcap byte stream (nic.md:
                # "the default parser for the nic loader is pcap")
                from tenzir_spark.sources.nic import load_nic
                ntoks = _split_eq_opts(toks[1:])
                iface = (ntoks.pop(0)
                         if ntoks and not ntoks[0].startswith("-")
                         and ntoks[0] != "read" else "lo")
                cnt = _flag(ntoks, "--count")
                dur = _flag(ntoks, "--duration")
                sl = _flag(ntoks, "-s") or _flag(ntoks, "--snaplen")
                spool = load_nic(
                    iface,
                    snaplen=int(sl) if sl else 262144,
                    n_packets=int(cnt) if cnt else None,
                    duration=_duration_seconds(dur) if dur else 2.0)
                if "read" in ntoks:
                    ridx = ntoks.index("read")
                    p = Pipeline(_read_fmt(spark, ntoks[ridx + 1], spool,
                                           ntoks[ridx + 2:]))
                else:
                    p = Pipeline(_read_fmt(spark, "pcap", spool, []))
                continue
            if path == "zmq":
                # SUB-socket byte source (plugins/zmq loader): spool
                # received messages, then the normal reader takes over
                from tenzir_spark.sources.zmq import (DEFAULT_ENDPOINT,
                                                      load_zmq)
                ztoks = _split_eq_opts(toks[1:])
                ep = DEFAULT_ENDPOINT
                if ztoks and not ztoks[0].startswith("-") \
                        and ztoks[0] != "read":
                    ep = ztoks.pop(0)
                n = _flag(ztoks, "--count")
                filt = _flag(ztoks, "-f") or _flag(ztoks, "--filter") or ""
                bind = "-b" in ztoks or "--bind" in ztoks
                raw = "--raw" in ztoks
                spool = load_zmq(ep, n_messages=int(n) if n else None,
                                 bind=bind, filter=filt.encode(), raw=raw)
                ridx = ztoks.index("read") if "read" in ztoks else None
                if ridx is not None:
                    p = Pipeline(_read_fmt(spark, ztoks[ridx + 1], spool,
                                           ztoks[ridx + 2:]))
                else:
                    read_fmt_pending = spool
                continue
            if path == "kafka":
                # consumer loader (plugins/kafka plugin.cpp loader_args:
                # kafka [-t topic] [-c n] [-e] [-o offset] [-X k=v,..]);
                # default format json (connectors/kafka.md). Spools
                # through the from-spec wire client — the sandbox has no
                # librdkafka/spark-sql-kafka; on a real cluster use the
                # native source built by sources/kafka.kafka_options.
                from tenzir_spark.sources.kafka_wire import load_kafka
                ktoks = _split_eq_opts(toks[1:])
                xopts = _kafka_x_options(ktoks)
                cnt = _flag(ktoks, "-c") or _flag(ktoks, "--count")
                spool = load_kafka(
                    topic=_flag(ktoks, "-t") or _flag(ktoks, "--topic")
                    or "tenzir",
                    brokers=_flag(ktoks, "--brokers")
                    or xopts.get("bootstrap.servers", "127.0.0.1:9092"),
                    offset=_flag(ktoks, "-o") or _flag(ktoks, "--offset")
                    or "stored",
                    count=int(cnt) if cnt else None,
                    exit_at_end="-e" in ktoks or "--exit" in ktoks,
                    raw="--raw" in ktoks)
                if "read" in ktoks:
                    ridx = ktoks.index("read")
                    p = Pipeline(_read_fmt(spark, ktoks[ridx + 1], spool,
                                           ktoks[ridx + 2:]))
                else:
                    p = Pipeline(_read_fmt(spark, "json", spool, []))
                continue
            f = None
            ropts: list[str] = []
            if len(toks) >= 3 and toks[1] == "read":
                f = toks[2]
                ropts = toks[3:]
            if path in ("-", "stdin"):
                # stdin connector (reference: connectors/dash.cpp;
                # `stdin` is its named alias) — driver-side spool, then
                # the normal distributed reader
                path = _spool_stdin(f or "json")
                infer_src = path  # the spool carries the format suffix
            if f is None and op == "load":
                read_fmt_pending = path  # defer until 'read <fmt>'
                continue
            f = f or _infer_format(infer_src)
            if follow:
                # `file --follow` (reference file.cpp:233) — a Structured
                # Streaming source over a growing directory; the schema
                # comes from a static read of what exists now
                schema = _READERS[f](spark, path).schema
                stream_readers = {
                    "json": lambda: spark.readStream.schema(schema).json(path),
                    "csv": lambda: spark.readStream.schema(schema)
                        .options(header=True).csv(path),
                    "parquet": lambda: spark.readStream.schema(schema).parquet(path),
                    "lines": lambda: spark.readStream.text(path)
                        .withColumnRenamed("value", "line"),
                }
                if f not in stream_readers:
                    raise ValueError(f"--follow supports json/csv/parquet/lines, not {f!r}")
                p = Pipeline(stream_readers[f]())
            else:
                p = Pipeline(_read_fmt(spark, f, path, ropts))
            continue
        if op == "read":
            rtoks = shlex.split(arg)
            f = rtoks[0]
            if read_fmt_pending is None and p is None:
                # a pipeline STARTING with `read <fmt>` defaults to the
                # stdin connector (exec.cpp:32-95 prepends `load -`)
                read_fmt_pending = _spool_stdin(f)
            if read_fmt_pending is None:
                raise ValueError("'read' without a preceding 'load'")
            p = Pipeline(_read_fmt(spark, f, read_fmt_pending, rtoks[1:]))
            read_fmt_pending = None
            continue
        if op == "velociraptor":
            # VQL request/response source (plugins/velociraptor/src/
            # plugin.cpp; docs operators/sources/velociraptor.md):
            # submit -q VQL or -s artifact subscription over the gRPC
            # API, emit the response stream as events. --endpoint /
            # --config / --plaintext are deployment knobs (the reference
            # reads them from /etc/tenzir/plugin/velociraptor.yaml).
            if spark is None:
                raise ValueError("'velociraptor' requires a SparkSession")
            from tenzir_spark.sources.velociraptor import load_velociraptor
            vtoks = _split_eq_opts(shlex.split(arg))
            mw = _flag(vtoks, "-w") or _flag(vtoks, "--max-wait")
            if mw is not None and _duration_seconds(mw) < 1:
                # plugin.cpp:320-321 rejects sub-second waits
                raise ValueError("--max-wait too low — value must be "
                                 "greater than 1s")
            spool = load_velociraptor(
                query=_flag(vtoks, "-q") or _flag(vtoks, "--query"),
                subscribe=_flag(vtoks, "-s") or _flag(vtoks, "--subscribe"),
                request_name=(_flag(vtoks, "-n")
                              or _flag(vtoks, "--request-name")),
                org_id=_flag(vtoks, "-o") or _flag(vtoks, "--org-id")
                or "root",
                max_rows=int(_flag(vtoks, "-r")
                             or _flag(vtoks, "--max-rows") or 1000),
                max_wait=int(_duration_seconds(mw)) if mw else 1,
                endpoint=_flag(vtoks, "--endpoint"),
                config_path=_flag(vtoks, "--config"),
                plaintext="--plaintext" in vtoks)
            p = Pipeline(_read_fmt(spark, "json", spool, []))
            continue
        if op == "shell":
            # byte-level child process (shell.cpp:151): as the first
            # segment its stdout is the pipeline's byte stream; after a
            # 'load' the spooled bytes become its stdin (transformation
            # position). Either way a 'read <fmt>' must follow.
            from tenzir_spark.sources.shell import run_shell
            cmd = arg.strip()
            if cmd and cmd[0] in "\"'" and cmd[-1] == cmd[0]:
                cmd = cmd[1:-1]
            read_fmt_pending = run_shell(cmd, stdin_path=read_fmt_pending)
            continue
        if op == "decompress":
            # byte-stream codec between load and read
            # (compress_decompress.cpp:257; tests.yaml:1068 'load file
            # x.gz | decompress gzip | read ...')
            if read_fmt_pending is None:
                raise ValueError("'decompress' requires a preceding 'load'")
            from tenzir_spark.sources.codecs import decompress_file
            read_fmt_pending = decompress_file(
                read_fmt_pending, shlex.split(arg)[0])
            continue
        if op == "repeat" and read_fmt_pending is not None:
            # byte-position repeat (repeat.cpp works on both bytes and
            # events; golden 'Repeat' step 1): replicate the spooled
            # byte stream N times before the parser sees it.
            import os as _os
            import tempfile as _tf
            n = int(arg) if arg.strip() else 2
            data = open(read_fmt_pending, "rb").read()
            fd, spool = _tf.mkstemp(
                suffix=_os.path.splitext(read_fmt_pending)[1] or ".bin")
            with _os.fdopen(fd, "wb") as fh:
                fh.write(data * n)
            read_fmt_pending = spool
            continue
        if op == "measure" and read_fmt_pending is not None:
            # byte-position measure (measure.cpp:24 bytes mode; golden
            # measure-bytes): the loader's byte stream becomes
            # measurement events {timestamp, bytes} — one row per spooled
            # chunk. Loaders spool driver-side files, so sizing them here
            # is not a distributed-data collect.
            import glob as _glob
            import os as _os
            paths = sorted(_glob.glob(read_fmt_pending)) or [read_fmt_pending]
            sizes = [(int(_os.path.getsize(x)),) for x in paths]
            bdf = spark.createDataFrame(sizes, "bytes long")
            from pyspark.sql import functions as _F
            p = Pipeline(bdf.withColumn("timestamp", _F.current_timestamp()))
            read_fmt_pending = None
            continue
        if op == "show":
            if spark is None:
                raise ValueError("'show' requires a SparkSession")
            stoks = shlex.split(arg)
            if len(stoks) != 1:
                # reference contract ('Parse operators'): show takes
                # exactly one aspect and no flags
                raise ValueError(f"show takes exactly one aspect, got "
                                 f"{arg!r}")
            from tenzir_spark.plans.registry import show as _show
            p = Pipeline(_show(spark, stoks[0]))
            continue
        if op == "export":
            # source from a registered lake table (reference export.cpp:34;
            # bucket/stat pruning happens inside LakeTable.read via the
            # downstream filter — Catalyst pushes it into the scans).
            # BARE `export` reads the process-default node store, like
            # the reference node's implicit storage.
            etoks = _split_eq_opts(shlex.split(arg))
            # --max-events=N caps the export stream (export.cpp /
            # tenzir.yaml.example `export.max-events`; the
            # export-shutdown-behavior suite pins that a downstream
            # `head K` and the cap compose as min(K, N)). A LIMIT is
            # the exact Spark analog — the scan short-circuits.
            max_events = _flag(etoks, "--max-events")
            if max_events is not None:
                i = etoks.index("--max-events")
                del etoks[i:i + 2]
            names = [t for t in etoks if not t.startswith("-")]
            if names:
                from tenzir_spark.plans.registry import get_table
                p = Pipeline(get_table(names[0]).read())
            else:
                from tenzir_spark.plans.registry import node_store
                if spark is None:
                    raise ValueError("'export' requires a SparkSession")
                p = Pipeline(node_store().read(spark))
            if max_events is not None:
                p = p.head(int(max_events))
            continue
        if op == "fluent-bit":
            # reference surface: `fluent-bit <plugin> [key=value...]`
            # (plugins/fluent-bit/src/plugin.cpp:548, source AND sink).
            # The embedded engine links libfluent-bit (absent in this
            # environment); the `forward` plugin — the protocol agents
            # use to ship events between hosts — is implemented from the
            # public forward-protocol spec in sources/fluentbit.py, the
            # same way the zmq connector speaks ZMTP without libzmq.
            ftoks = shlex.split(arg)
            plugin_name = ftoks.pop(0) if ftoks and "=" not in ftoks[0] \
                else "forward"
            fopts = dict(t.split("=", 1) for t in ftoks if "=" in t)
            port = fopts.get("port", "24224")
            src_plugins = ("forward", "stdin", "random")
            sink_plugins = ("forward", "stdout", "null", "counter")
            known = p is None and plugin_name in src_plugins or \
                p is not None and plugin_name in sink_plugins
            if not known:
                # any other Fluent Bit plugin needs the embedded
                # libfluent-bit engine (plugin.cpp:548); its own suite
                # pins that an unknown name errors without crashing
                raise NotImplementedError(
                    f"fluent-bit plugin {plugin_name!r} needs the "
                    f"fluent-bit library; available here: sources "
                    f"{src_plugins}, sinks {sink_plugins}")
            if p is None:
                from tenzir_spark.sources import fluentbit as _fb
                if plugin_name == "forward":
                    ep = f"tcp://{fopts.get('listen', '127.0.0.1')}:{port}"
                    cnt = fopts.get("count")
                    spool = _fb.load_forward(
                        ep, n_events=int(cnt) if cnt else None,
                        timeout=float(fopts.get("timeout", "10")))
                    p = Pipeline(_read_fmt(spark, "json", spool, []))
                else:
                    # event rows per plugin.cpp:340-451: timestamp +
                    # message (metadata only when the wire carries it)
                    import json as _json
                    import os as _os
                    import tempfile as _tf
                    import time as _time
                    now = _time.time()
                    if plugin_name == "random":
                        recs = _fb.random_records(
                            int(fopts.get("count", "16")),
                            seed=int(fopts.get("seed", "0")))
                    else:  # stdin: one JSON record per line
                        import sys as _sys
                        recs = [_json.loads(ln) for ln in _sys.stdin
                                if ln.strip()]
                    fd, spool = _tf.mkstemp(prefix="tenzir_flb_",
                                            suffix=".json")
                    with _os.fdopen(fd, "w") as out:
                        for r in recs:
                            out.write(_json.dumps(
                                {"timestamp": now, "message": r}) + "\n")
                    dfb = _read_fmt(spark, "json", spool, [])
                    dfb.__dict__["_tenzir_schema"] = _fb.TABLE_SLICE_NAME
                    p = Pipeline(dfb)
            else:
                if plugin_name == "forward":
                    sink = _Sink(
                        "fluent-bit",
                        f"tcp://{fopts.get('host', '127.0.0.1')}:{port}")
                    sink.tag = fopts.get("tag", "tenzir")
                else:
                    sink = _Sink(f"fluent-bit-{plugin_name}", None)
                    sink.tag = fopts.get("tag", "tenzir")
            continue

        if p is None:
            # UDx source plugins run in first position (tenzir_spark.plugin
            # ≅ source-position operator_plugin / loader_plugin)
            from tenzir_spark import plugin
            src_fn = plugin.get_source(op)
            if src_fn is not None:
                if spark is None:
                    raise ValueError(
                        f"source plugin {op!r} requires a SparkSession")
                p = Pipeline(src_fn(spark, *shlex.split(arg)))
                continue
            raise ValueError(f"pipeline has no source before {op!r}")
        df = p.df

        # -- transforms ------------------------------------------------------
        if op == "where":
            hints = getattr(df, "_tenzir_type_hints", None)
            p = p.where(arg, type_hints=hints) if hints else p.where(arg)
        elif op == "select":
            p = p.select(*_names(arg))
        elif op == "drop":
            p = p.drop(*_names(arg))
        elif op in ("put", "extend", "replace"):
            sname = df.__dict__.get("_tenzir_schema")
            cols = {n: compile_operand(v, df, schema_name=sname)
                    for n, v in _kv_pairs(arg).items()}
            p = getattr(p, op)(**cols)
        elif op == "rename":
            p = p.rename(**_kv_pairs(arg))
        elif op == "summarize":
            # duration may be one token ('1min') or number + unit word
            # ('1 minute', tests.yaml:472)
            mres = re.search(
                r"\bresolution\s+(\S+(?:\s+[a-z]+)?)\s*$", arg)
            resolution = None
            if mres:
                resolution = mres.group(1)
                arg = arg[: mres.start()].strip()
            mby = re.search(r"\bby\b", arg)
            by: list[str] = []
            if mby:
                by = _names(arg[mby.end():])
                arg = arg[: mby.start()].strip()
            aggs = _split_top(arg, ",")
            kw = {}
            if resolution:
                # the reference floors time keys (summarize.cpp:41-95);
                # bucket the first TIME-TYPED by-key, not merely by[0]
                from pyspark.sql import types as T
                tkeys = [b for b in by if b in df.columns and isinstance(
                    df.schema[b].dataType,
                    (T.TimestampType, T.TimestampNTZType, T.DateType))]
                kw = {"resolution": _tql_duration(resolution),
                      "time_col": (tkeys or by or [None])[0]}
            p = p.summarize(aggs, by=by, **kw)
        elif op == "sort":
            toks = [t for t in shlex.split(arg) if t != "--stable"]
            field = toks[0]
            ascending = "desc" not in toks
            nulls_first = True if "nulls-first" in toks else (False if "nulls-last" in toks else None)
            p = p.sort(field, ascending=ascending, nulls_first=nulls_first)
        elif op == "unique":
            p = p.unique()
        elif op == "head":
            toks = shlex.split(arg)
            n = int(toks[0]) if toks and toks[0].isdigit() else 10
            p = p.head(n, order_by=_flag(toks, "--order-by"))
        elif op == "tail":
            toks = shlex.split(arg)
            n = int(toks[0]) if toks and toks[0].isdigit() else 10
            order = _flag(toks, "--order-by")
            if order is None:
                # the reference's tail is stream-order (tail.cpp:24); a
                # distributed engine has no stream order, and silently
                # substituting the first column was arbitrary — require
                # the flag (the Python API already does)
                raise ValueError(
                    "tail requires --order-by <field> in a distributed "
                    "pipeline (stream order does not exist here)")
            p = p.tail(n, order_by=order)
        elif op == "taste":
            toks = shlex.split(arg)
            n = int(toks[0]) if toks and toks[0].isdigit() else 10
            schema_col = _flag(toks, "--schema-col") or "_schema"
            p = p.taste(n, schema_col=schema_col)
        elif op in ("top", "rare"):
            toks = _split_eq_opts(shlex.split(arg))
            cf = _flag(toks, "-c") or _flag(toks, "--count-field") or "count"
            if not toks or toks[0].startswith("-"):
                raise ValueError(f"{op} requires a field argument")
            p = getattr(p, op)(toks[0], count_field=cf)
        elif op == "flatten":
            p = p.flatten(arg or ".")
        elif op == "unflatten":
            p = p.unflatten(arg or ".")
        elif op == "enumerate":
            toks = shlex.split(arg)
            order = _flag(toks, "--order-by")
            field = toks[0] if toks and not toks[0].startswith("--") else "#"
            p = p.enumerate(field=field, order_by=order)
        elif op == "hash":
            toks = _split_eq_opts(shlex.split(arg))
            salt = _flag(toks, "-s") or _flag(toks, "--salt")
            p = p.hash(toks[-1], salt=salt)
        elif op == "pseudonymize":
            # `pseudonymize -m "crypto-pan" -s <seed> f1, f2`
            # (pseudonymize.cpp:50). Real Crypto-PAn (AES-128 one-time
            # pad, functions/cryptopan.py) — byte-identical to the
            # reference's goldens and the node-cryptopan vectors.
            ptoks = _split_eq_opts(shlex.split(arg))
            fields, i, seed = [], 0, ""
            while i < len(ptoks):
                t = ptoks[i]
                if t in ("-m", "--method"):
                    i += 2  # method name accepted, single implementation
                    continue
                if t in ("-s", "--seed"):
                    seed = ptoks[i + 1]
                    i += 2
                    continue
                fields.append(t.rstrip(","))
                i += 1
            from tenzir_spark.functions.ip import pseudonymize as _pseudo
            fields = [f for f in fields if f]
            p = p.apply(lambda df: _pseudo(df, fields, seed))
        elif op == "measure":
            # --real-time / --cumulative change emission cadence, not
            # totals (measure.cpp:30-33; goldens pin identical sums for
            # both modes) — accepted, batch semantics unchanged
            mtoks = shlex.split(arg)
            bad = [t for t in mtoks
                   if t not in ("--real-time", "--cumulative")]
            if bad:
                raise ValueError(f"measure: unknown arguments {bad}")
            p = p.measure()
        elif op == "pass":
            pass
        elif op == "batch":
            # execution knob; pins exact boundaries for a following
            # `measure` (see operators.batch)
            from tenzir_spark.operators.transform import batch as _batch
            p = p._wrap(_batch(df, int(arg) if arg.strip() else 65536))
        elif op == "repeat":
            from tenzir_spark.operators import repeat as _repeat
            p = p._wrap(_repeat(df, int(arg) if arg else 2))
        elif op == "sigma":
            from tenzir_spark.functions.sigma import load_rules
            p = p.sigma(load_rules(shlex.split(arg)[0]))
        elif op == "decapsulate":
            from tenzir_spark.operators.packet import decapsulate
            toks = shlex.split(arg)
            vx = _flag(toks, "-v") or _flag(toks, "--vxlan")
            p = Pipeline(decapsulate(df, int(vx) if vx else None))
        # -- sinks -----------------------------------------------------------
        elif op in ("to", "save"):
            toks = shlex.split(arg)
            path = toks[0]
            if path == "zmq":
                # PUB-socket byte sink (plugins/zmq saver); default bind,
                # -c/--connect flips direction (zmq.md)
                from tenzir_spark.sources.zmq import DEFAULT_ENDPOINT
                rest = toks[1:]
                ep = DEFAULT_ENDPOINT
                if rest and not rest[0].startswith("-") \
                        and rest[0] != "write":
                    ep = rest.pop(0)
                sink = _Sink("zmq", ep)
                sink.connect = "-c" in rest or "--connect" in rest
            elif path == "kafka":
                # producer saver (plugins/kafka plugin.cpp saver_args:
                # kafka [-t topic] [-k key] [-T time] [-X k=v,..]);
                # events go out as NDJSON, one message per event
                ktoks = _split_eq_opts(toks[1:])
                xopts = _kafka_x_options(ktoks)
                sink = _Sink("kafka",
                             _flag(ktoks, "-t") or _flag(ktoks, "--topic")
                             or "tenzir")
                sink.brokers = (_flag(ktoks, "--brokers")
                                or xopts.get("bootstrap.servers",
                                             "127.0.0.1:9092"))
                sink.key = _flag(ktoks, "-k") or _flag(ktoks, "--key")
                ts = _flag(ktoks, "-T") or _flag(ktoks, "--timestamp")
                sink.timestamp = ts
            elif path in ("-", "stdout"):
                sink = _Sink("stdout")
            elif path in ("s3", "gcs") or (
                    "://" in path
                    and path.split("://", 1)[0] in ("s3", "gs", "gcs")):
                # object-store saver (s3.cpp saver / plugins/gcs):
                # `to s3 [--anonymous] s3://bucket/key [write fmt]` or a
                # bare URI. The format printer runs first into a local
                # spool; run_pipeline then streams the spool to the
                # object (the reference saver is the same bytes-out
                # tail behind any printer).
                import os as _os
                import tempfile as _tf
                otoks = toks[1:] if path in ("s3", "gcs") else toks[:]
                widx = (otoks.index("write")
                        if "write" in otoks else len(otoks))
                conn, wrest = otoks[:widx], otoks[widx:]
                anon = "--anonymous" in conn
                conn = [t for t in conn if t != "--anonymous"]
                if not conn:
                    raise ValueError(f"'to {toks[0]}' requires a URI")
                uri = conn[0]
                bare = uri.split("?", 1)[0]
                f = wrest[1] if len(wrest) >= 2 else _infer_format(bare)
                fd, spool = _tf.mkstemp(
                    prefix="tenzir_objsink_",
                    suffix=_os.path.splitext(bare)[1] or ".bin")
                _os.close(fd)
                sink = _Sink(f, spool)
                if len(wrest) >= 2:
                    sink.opts = wrest[2:]
                sink.objectstore_uri = uri
                sink.objectstore_anonymous = anon
            else:
                f = toks[2] if len(toks) >= 3 and toks[1] == "write" else _infer_format(path)
                sink = _Sink(f, path)
                if len(toks) >= 3 and toks[1] == "write":
                    sink.opts = toks[3:]
        elif op == "write":
            wtoks = shlex.split(arg)
            sink = _Sink(wtoks[0], None)
            sink.opts = wtoks[1:]
        elif op == "import":
            # sink into a registered lake table under the exactly-once
            # ledger (reference import.cpp:70); --epoch defaults to the
            # next unapplied integer epoch. BARE `import` appends to the
            # process-default node store.
            toks = shlex.split(arg)
            sink = _Sink("import", toks[0] if toks else None)
            sink.epoch = int(_flag(toks, "--epoch")) if _flag(toks, "--epoch") else None
        elif op == "discard":
            sink = _Sink("discard")
        elif op == "serve":
            # results endpoint (serve.cpp:733); the buffer id is the
            # operator argument, the endpoint is the process-wide
            # default manager's /serve port. --buffer-size mirrors
            # serve.cpp:225's per-buffer cap (default 64Ki events).
            stoks = shlex.split(arg)
            sink = _Sink("serve", stoks[0])
            bufsz = _flag(stoks, "--buffer-size")
            if bufsz:
                sink.buffer_size = int(bufsz)
        else:
            # UDx surface (tenzir_spark.plugin ≅ plugin.hpp kinds), then
            # user-defined aliases (reference: tql/parser.cpp:100-115)
            from tenzir_spark import plugin
            from tenzir_spark.plans.registry import aliases
            op_fn = plugin.get_operator(op)
            if op_fn is not None:
                p = p.apply(lambda df: op_fn(df, *shlex.split(arg)))
            elif op in aliases():
                p = p.alias(op, *shlex.split(arg))
            else:
                raise ValueError(f"unknown operator {op!r}")

    if p is None:
        raise ValueError("pipeline has no source")
    if sink is not None and sink.path is None and sink.kind == "json" \
            and not getattr(sink, "opts", None):
        # bare `write json` — tenzir exec appends `save -` (exec.cpp:
        # 32-95); the stdout sink's NDJSON IS the json printer form
        sink = _Sink("stdout")
    if sink is not None and sink.path is None \
            and sink.kind not in ("stdout", "discard", "ascii", "import",
                                  "fluent-bit-stdout", "fluent-bit-null",
                                  "fluent-bit-counter"):
        # bare `write <fmt>` with no following `save <path>` would
        # otherwise crash at run time (round-2 advice #5)
        raise ValueError(
            f"'write {sink.kind}' must be followed by 'save <path>'")
    p._pending_sink = sink
    return p


def _flag(toks: list[str], name: str) -> str | None:
    if name in toks:
        return toks[toks.index(name) + 1]
    return None


def _spool_stdin(fmt: str) -> str:
    """Spool stdin to a temp file so the distributed readers can parse it
    (the reference's `-` dash connector, connectors/dash.cpp:1-49)."""
    import sys
    import tempfile

    suffix = {"json": ".json", "csv": ".csv", "tsv": ".tsv",
              "lines": ".txt"}.get(fmt, ".json")
    fd, spool = tempfile.mkstemp(prefix="tenzir_stdin_", suffix=suffix)
    import os as _os
    with _os.fdopen(fd, "w") as out:
        out.write(sys.stdin.read())
    return spool


_DUR_SUFFIX = {"ns": "1 microsecond", "us": "1 microsecond"}  # sub-ms unsupported by F.window


def _tql_duration(d: str) -> str:
    """'1h' / '30min' / '10s' -> Spark interval string."""
    m = re.fullmatch(r"(\d+(?:\.\d+)?)\s*([a-z]+)", d.strip())
    if not m:
        return d  # already a Spark interval string
    n, unit = m.group(1), m.group(2)
    unit_map = {"s": "seconds", "sec": "seconds", "secs": "seconds",
                "second": "seconds", "seconds": "seconds",
                "min": "minutes", "mins": "minutes",
                "minute": "minutes", "minutes": "minutes",
                "h": "hours", "hr": "hours", "hrs": "hours",
                "hour": "hours", "hours": "hours",
                "d": "days", "day": "days", "days": "days",
                "w": "weeks", "week": "weeks", "weeks": "weeks",
                "ms": "milliseconds"}
    if unit not in unit_map:
        raise ValueError(f"unsupported duration unit {unit!r}")
    return f"{n} {unit_map[unit]}"


def run_pipeline(p: Pipeline):
    """Execute a parsed pipeline's sink (or return the DataFrame if it has
    none) — the ``tenzir exec`` tail."""
    sink: _Sink | None = getattr(p, "_pending_sink", None)
    if sink is None:
        return p.df
    osuri = getattr(sink, "objectstore_uri", None)
    if osuri is not None:
        # object-store saver tail: run the format printer into the local
        # spool first (recursive call with the tag cleared), then stream
        # the spool to the object (s3.cpp saver). Spark's directory
        # writers (parquet) emit a part dir — a single part uploads as
        # the object; multi-part output belongs on s3a:// Spark-native.
        import os as _os

        from tenzir_spark.sources.objectstore import objectstore_save
        sink.objectstore_uri = None
        try:
            run_pipeline(p)
            src = sink.path
            if _os.path.isdir(src):
                parts = sorted(
                    _os.path.join(src, n) for n in _os.listdir(src)
                    if not n.startswith(("_", ".")) and
                    _os.path.getsize(_os.path.join(src, n)) > 0)
                if len(parts) != 1:
                    raise ValueError(
                        f"object-store sink got {len(parts)} output parts; "
                        "coalesce to one partition or write s3a:// directly")
                src = parts[0]
            objectstore_save(
                src, osuri,
                anonymous=getattr(sink, "objectstore_anonymous", False))
        finally:
            sink.objectstore_uri = osuri
        return None
    if sink.kind == "serve":
        # handles batch AND streaming frames (foreachBatch inside)
        from tenzir_spark.serve import (DEFAULT_BUFFER_SIZE,
                                        default_manager, serve as _serve)
        mgr = default_manager()
        _serve(p.df, sink.path, mgr,
               buffer_size=getattr(sink, "buffer_size",
                                   DEFAULT_BUFFER_SIZE))
        return mgr
    if p.df.isStreaming:
        # streaming pipelines sink through writeStream; availableNow
        # drains what exists then stops (callers wanting a continuous
        # query use the streaming module directly)
        if sink.kind not in ("parquet", "json", "csv"):
            raise ValueError(f"streaming sink {sink.kind!r} unsupported")
        q = (p.df.writeStream.format(sink.kind)
             .option("path", sink.path)
             .option("checkpointLocation", sink.path.rstrip("/") + "_checkpoint")
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return None
    if sink.kind == "discard":
        p.discard()
        return None
    if sink.kind == "zmq":
        from tenzir_spark.sources.zmq import save_zmq
        # pass the iterator through: save_zmq makes one pass, so driver
        # memory stays bounded to a partition instead of the full result
        return save_zmq(p.df.toJSON().toLocalIterator(), sink.path,
                        bind=not getattr(sink, "connect", False))
    if sink.kind == "kafka":
        from tenzir_spark.sources.kafka_wire import save_kafka
        ts = getattr(sink, "timestamp", None)
        ts_ms = None
        if ts:
            from datetime import datetime, timezone
            dt = datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            ts_ms = int(dt.timestamp() * 1000)
        # one pass via toLocalIterator, same bounded-memory policy as
        # the zmq sink; NDJSON payloads, fixed key/timestamp per
        # saver_args (plugins/kafka plugin.cpp:228-236)
        return save_kafka(p.df.toJSON().toLocalIterator(), sink.path,
                          brokers=getattr(sink, "brokers", "127.0.0.1:9092"),
                          key=getattr(sink, "key", None),
                          timestamp_ms=ts_ms)
    if sink.kind in ("fluent-bit-stdout", "fluent-bit-null",
                     "fluent-bit-counter"):
        # native stand-ins for Fluent Bit's stdout/null/counter outputs
        # (its own integration suite drives them); one bounded pass —
        # debug sinks, never the bulk path
        import json as _json

        from tenzir_spark.sources import fluentbit as _fb
        vals = (_json.loads(r["value"])
                for r in fmt.ndjson_lines(p.df).toLocalIterator())
        if sink.kind == "fluent-bit-null":
            for _ in vals:
                pass
        elif sink.kind == "fluent-bit-stdout":
            for line in _fb.stdout_lines(
                    vals, tag=getattr(sink, "tag", "tenzir")):
                print(line)
        else:
            n = sum(1 for _ in vals)
            for line in _fb.counter_lines(n):
                print(line)
        return None
    if sink.kind == "fluent-bit":
        import json as _json

        from tenzir_spark.sources.fluentbit import save_forward
        # one pass over the result via toLocalIterator: driver memory
        # stays bounded to a partition, same policy as the zmq sink
        rows = (_json.loads(line) for line in p.df.toJSON().toLocalIterator())
        return save_forward(rows, sink.path,
                            tag=getattr(sink, "tag", "tenzir"))
    if sink.kind == "import":
        from pyspark.sql import functions as F

        from tenzir_spark.plans.registry import get_table, node_store
        if sink.path is None:
            df = p.df
            # the reference's catalog records every import's schema name
            # (import.cpp -> catalog); single-schema frames carry it only
            # as the _tenzir_schema attribute, which a parquet round-trip
            # through the store would lose — materialize it so `export |
            # where #schema == ...` (functional-test database.bats counts)
            # resolves on the merged multi-schema read.
            sname = df.__dict__.get("_tenzir_schema")
            if sname and "_schema" not in df.columns:
                df = df.withColumn("_schema", F.lit(str(sname)))
            node_store().append(df)
            return None
        table = get_table(sink.path)
        epoch = sink.epoch
        if epoch is None:
            applied = [int(e) for e in table.snapshot.ledger if str(e).lstrip("-").isdigit()]
            epoch = (max(applied) + 1) if applied else 0
        df = p.df
        # plain event streams lack CDC columns: default to upsert
        # semantics with a constant lsn (callers wanting ordered-replay
        # semantics provide op/lsn explicitly)
        if "op" not in df.columns:
            df = df.withColumn("op", F.lit("upsert"))
        if "lsn" not in df.columns:
            df = df.withColumn("lsn", F.lit(0).cast("long"))
        return table.merge(df, epoch)
    if sink.kind == "stdout":
        # `to -` / tenzir exec default sink: NDJSON to stdout. Driver-side
        # by nature — results only, never the bulk path.
        for line in fmt.ndjson_lines(p.df).toLocalIterator():
            print(line["value"])
        return None
    if sink.kind == "parquet":
        p.to_parquet(sink.path)
        return None
    if sink.kind == "json":
        opts = getattr(sink, "opts", [])
        known = ("-c", "--compact-output", "--omit-nulls", "--omit-empty",
                 "--omit-empty-objects", "--omit-empty-lists")
        for o in opts:
            if o not in known:
                raise ValueError(f"unknown json printer option {o!r}")
        # reference default (json.cpp printer) INCLUDES null fields;
        # --omit-nulls drops them; --omit-empty implies all three omit
        # flags (json.cpp:989-994). -c/--compact-output is accepted:
        # the output is NDJSON, already the compact form (the
        # reference's non-compact default pretty-prints multi-line).
        if any(o.startswith("--omit-empty") for o in opts):
            ea = "--omit-empty" in opts
            lines = fmt.json_pruned_lines(
                p.df,
                omit_nulls=ea or "--omit-nulls" in opts,
                omit_empty_objects=ea or "--omit-empty-objects" in opts,
                omit_empty_lists=ea or "--omit-empty-lists" in opts)
            lines.write.mode("overwrite").text(sink.path)
        else:
            fmt.write_json(p.df, sink.path,
                           ignoreNullFields=("--omit-nulls" in opts))
        return None
    if sink.kind in ("csv", "tsv", "ssv", "xsv"):
        # `write xsv <field-sep> <list-sep> <null-value>` takes the three
        # knobs positionally (xsv.cpp:385-391); csv/tsv/ssv are the
        # pre-configured aliases
        xopts = list(getattr(sink, "opts", []))
        if sink.kind == "xsv":
            if len(xopts) != 3:
                raise ValueError(
                    "write xsv requires <field-sep> <list-sep> <null-value>")
            xsep, xlist, xnull = xopts
        else:
            xsep = {"csv": ",", "tsv": "\t", "ssv": " "}[sink.kind]
            xlist = xnull = None
        fmt.write_xsv(p.df, sink.path, sep=xsep, list_sep=xlist,
                      null_value=xnull,
                      log_path=p.df.__dict__.get("_tenzir_schema", "tenzir"))
        return None
    if sink.kind == "ascii":
        # reference debug format (format/ascii.cpp): <v1, v2, ...> rows
        lines = fmt.ascii_lines(p.df)
        if sink.path in (None, "-"):
            for row in lines.toLocalIterator():
                print(row["value"])
            return None
        fmt._assemble_parts(lines, sink.path)
        return None
    if sink.kind == "zeek-tsv":
        zopts = list(getattr(sink, "opts", []))

        def _zflag(flag, default):
            if flag in zopts:
                i = zopts.index(flag)
                val = zopts[i + 1]
                del zopts[i:i + 2]
                return val
            return default

        sset = _zflag("--set-separator", ",")
        sempty = _zflag("--empty-field", "(empty)")
        sunset = _zflag("--unset-field", "-")
        kw = dict(
            disable_timestamp_tags="--disable-timestamp-tags" in zopts,
            set_separator=sset, empty_field=sempty, unset_field=sunset)
        spools = p.df.__dict__.get("_tenzir_zeek_blocks")
        if spools and len(spools) > 1:
            # a pass-through of a multi-block zeek stream prints one
            # header block PER INPUT BLOCK (the reference printer is
            # per-batch; broken_no_closing_tag golden). The attr lives
            # only on the reader's own frame — any intervening operator
            # returns a new DataFrame and falls to the unified path.
            import os as _os

            from tenzir_spark.lake.format import DEFAULT_IO
            parts = []
            for i, spool in enumerate(spools):
                bdf = fmt.read_zeek_tsv(p.df.sparkSession, spool)
                bpath = f"{sink.path}.block{i}"
                fmt.write_zeek_tsv(
                    bdf, bpath,
                    log_path=bdf.__dict__.get("_tenzir_schema", "tenzir"),
                    **kw)
                parts.append(bpath)
            with DEFAULT_IO.open_write(sink.path) as out:
                for bpath in parts:
                    with open(bpath, "rb") as fh:
                        out.write(fh.read())
                    _os.unlink(bpath)
            return None
        fmt.write_zeek_tsv(
            p.df, sink.path,
            log_path=p.df.__dict__.get("_tenzir_schema", "tenzir"),
            **kw)
        return None
    if sink.kind == "yaml":
        fmt.write_yaml(p.df, sink.path)
        return None
    if sink.kind == "arrow":
        fmt.write_arrow(p.df, sink.path)
        return None
    if sink.kind == "pcap":
        from tenzir_spark.sources.pcap import write_pcap
        write_pcap(p.df, sink.path)
        return None
    # printer_plugin surface (tenzir_spark.plugin): fn(df, path, opts)
    from tenzir_spark import plugin
    pr = plugin.get_printer(sink.kind)
    if pr is not None:
        pr(p.df, sink.path, list(getattr(sink, "opts", []) or []))
        return None
    raise ValueError(f"unsupported sink {sink.kind!r}")


SINK_OPS = frozenset({"to", "save", "write", "import", "discard", "serve"})


def parse_ends_with_sink(text: str) -> bool:
    """Lexical check used by /pipeline/launch (web.py): does the
    definition's final operator already consume events? The launch
    endpoint appends a `serve` sink only when it doesn't."""
    ops = [o.strip() for o in _split_top(text, "|") if o.strip()]
    if not ops:
        return False
    return ops[-1].split(None, 1)[0] in SINK_OPS


def exec_pipeline(text: str, spark: SparkSession | None = None,
                  source: DataFrame | Pipeline | None = None):
    """Parse + run — ``tenzir exec`` for pipeline strings."""
    return run_pipeline(parse_pipeline(text, spark=spark, source=source))
