"""Cross-implementation replay of the reference engine's OWN integration
goldens (tenzir/integration/tests.yaml + reference/*/step_NN.ref — the
recorded stdout of the reference binary). Each case runs the same
pipeline/predicate over the same input data and asserts equality with
what the reference engine actually produced, on the semantic content the
test targets (matched-row identity, counts, field values) rather than
its ascii/pretty-print rendering, which repo goldens cover separately.

Skipped wholesale when the reference tree is absent.
"""

from __future__ import annotations

import gzip
import json
import os
import re

import pytest

from tenzir_spark.plans.tql import parse_pipeline

REF = "/root/reference/tenzir/integration"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference tree not present")


def _ref_lines(case: str, step: int) -> list[str]:
    p = os.path.join(REF, "reference", case, f"step_{step:02d}.ref")
    with open(p) as f:
        return [ln for ln in f.read().splitlines() if ln.strip()]


def _ascii_uids(case: str, step: int) -> list[str]:
    """Second field of the reference ascii rendering `<ts, "uid", ...>`."""
    out = []
    for ln in _ref_lines(case, step):
        m = re.match(r'^<[^,]*, "([^"]*)"', ln)
        assert m, ln
        out.append(m.group(1))
    return sorted(out)


@pytest.fixture(scope="module")
def conn_tsv(tmp_path_factory):
    """data/zeek/conn.log.gz decompressed to a plain zeek-tsv file."""
    raw = gzip.decompress(
        open(os.path.join(REF, "data/zeek/conn.log.gz"), "rb").read())
    p = tmp_path_factory.mktemp("refdata") / "conn.log"
    p.write_bytes(raw)
    return str(p)


EVE = os.path.join(REF, "data/suricata/eve.json")


# ------------------------------------------------------- Expressions
# tests.yaml:218 — value-only predicates over zeek conn: the matched
# row set must equal the reference's export, identified by uid.

def test_expressions_bare_ip_or(spark, conn_tsv):
    df = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv"
        " | where fe80::5074:1b53:7e7:ad4d || 169.254.225.22"
        " | select uid", spark=spark).df
    assert sorted(r.uid for r in df.collect()) == \
        _ascii_uids("expressions", 1)


def test_expressions_bare_string_or_ip(spark, conn_tsv):
    df = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv"
        ' | where "OrfTtuI5G4e" || fe80::5074:1b53:7e7:ad4d'
        " | select uid", spark=spark).df
    assert sorted(r.uid for r in df.collect()) == \
        _ascii_uids("expressions", 2)


# --------------------------------------------------- Multi addr query
# tests.yaml:291 — `where :ip in [ ...20 literals... ]` from
# queries/multi_addr.txt; 5358 matched rows in the reference golden.

def test_multi_addr_query(spark, conn_tsv):
    q = open(os.path.join(REF, "queries/multi_addr.txt")).read().strip()
    assert q.startswith("where ")
    df = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv | {q} | select uid",
        spark=spark).df
    ours = sorted(r.uid for r in df.collect())
    ref = _ascii_uids("multi-addr-query", 1)
    assert len(ref) == 5358  # pin the golden itself
    assert ours == ref


# ------------------------------------------------ Extractor Predicates
# tests.yaml:377 — counts for `timestamp && :ip` / a nonexistent field,
# and bare-field existence on a nested bool (`where flow.alerted`
# exports the alerted:false row — existence, NOT truthiness).

def _eve(spark):
    return parse_pipeline(f"from {EVE} read suricata", spark=spark)


def test_extractor_count_timestamp_and_ip_type(spark):
    # DOCUMENTED DIVERGENCE: the reference records 6 — its strict
    # declared-schema import demotes the quic event (whose `pkt_src`
    # field is absent from suricata.quic in schema/types/suricata.schema)
    # to an INFERRED schema where src_ip is a plain string, so `:ip`
    # misses it. Our schema-on-read reader hints src_ip/dest_ip as ip
    # uniformly, so the quic event also matches: 7 = the reference's 6
    # + quic. The stats event (no address pair) is excluded by both.
    df = _eve(spark).where("timestamp && :ip").df
    ref = int(_ref_lines("extractor-predicates", 1)[0])
    assert ref == 6
    assert df.count() == ref + 1


def test_extractor_count_nonexistent_field(spark):
    df = _eve(spark).where("does_not_exist").df
    assert df.count() == int(_ref_lines("extractor-predicates", 2)[0])


def test_extractor_nested_bare_field_existence(spark):
    ref = json.loads(_ref_lines("extractor-predicates", 3)[0])
    rows = _eve(spark).where("flow.alerted").df.collect()
    assert len(rows) == 1
    r = rows[0].asDict(recursive=True)
    assert r["flow_id"] == ref["flow_id"]
    assert r["event_type"] == ref["event_type"] == "flow"
    assert r["src_ip"] == ref["src_ip"]
    assert int(r["dest_port"]) == ref["dest_port"]
    for k in ("pkts_toserver", "pkts_toclient", "bytes_toserver",
              "bytes_toclient", "alerted", "state", "reason"):
        assert r["flow"][k] == ref["flow"][k], k


# ------------------------------------------------------------ Patterns
# tests.yaml:638 — pattern literals with full-match `==` and the /i
# case-insensitive flag; matched rows identified by (flow_id,
# event_type).

def _pattern_rows(spark, expr):
    df = _eve(spark).where(expr).df.select("flow_id", "event_type")
    return sorted((r.flow_id, r.event_type) for r in df.collect())


def _pattern_ref(step):
    return sorted((j["flow_id"], j["event_type"])
                  for j in map(json.loads, _ref_lines("patterns", step)))


def test_patterns_case_sensitive(spark):
    assert _pattern_rows(spark, "event_type == /.*flow$/") == \
        _pattern_ref(1)


def test_patterns_case_insensitive(spark):
    assert _pattern_rows(spark, "event_type == /.*FLOW$/i") == \
        _pattern_ref(2)


# ---------------------------------------------------- Taxonomy queries
# tests.yaml:299 — concept `net.src.ip` resolved against BOTH a zeek
# and a suricata import via the reference's SHIPPED concept files;
# the total count must equal the reference's.

def test_taxonomy_concept_count_across_schemas(spark, tmp_path):
    from tenzir_spark.expr import compile_expression, load_concepts
    concepts: dict[str, list[str]] = {}
    for f in ("zeek.yaml", "suricata.yaml"):
        for name, fields in load_concepts(
                f"/root/reference/schema/concepts/{f}").items():
            concepts.setdefault(name, []).extend(fields)

    conn = tmp_path / "conn.log"
    conn.write_bytes(gzip.decompress(open(
        os.path.join(REF, "data/pcap/zeek/conn.log.gz"), "rb").read()))
    eve = tmp_path / "eve.json"
    eve.write_bytes(gzip.decompress(open(
        os.path.join(REF, "data/pcap/suricata/eve.json.gz"), "rb").read()))

    total = 0
    for p in (parse_pipeline(f"from {conn} read zeek-tsv", spark=spark),
              parse_pipeline(f"from {eve} read suricata", spark=spark)):
        pred = compile_expression("net.src.ip == 192.168.168.100", p.df,
                                  concepts=concepts,
                                  type_hints=p.df.__dict__.get(
                                      "_tenzir_type_hints"))
        total += p.df.filter(pred).count()
    assert total == int(_ref_lines("taxonomy-queries", 2)[0])


# ------------------------------------------------------ Query Operators
# tests.yaml:263 — comparison/subnet/duration predicates over zeek conn;
# matched-uid set equality per step. `conn.duration` exercises
# schema-qualified extractor resolution; duration literals compare
# against zeek `interval` (declared-duration, stored double-seconds).

def _qo_uids(spark, conn_tsv, expr):
    df = parse_pipeline(f"from {conn_tsv} read zeek-tsv | where {expr}"
                        " | select uid", spark=spark).df
    return sorted(r.uid for r in df.collect())


def _json_uids(case, step):
    return sorted(json.loads(ln)["uid"] for ln in _ref_lines(case, step))


def test_qo_qualified_duration_le(spark, conn_tsv):
    assert _qo_uids(spark, conn_tsv, "conn.duration <= 1.0s") == \
        _ascii_uids("query-operators", 1)


def test_qo_duration_range(spark, conn_tsv):
    assert _qo_uids(spark, conn_tsv,
                    "duration >= 10.0s && duration < 15s") == \
        _json_uids("query-operators", 2)


def test_qo_service_smtp(spark, conn_tsv):
    assert _qo_uids(spark, conn_tsv, 'service == "smtp"') == \
        _ascii_uids("query-operators", 4)


def test_qo_missed_bytes_ne(spark, conn_tsv):
    assert _qo_uids(spark, conn_tsv, "missed_bytes != 0") == \
        _ascii_uids("query-operators", 5)


def test_qo_not_in_subnet(spark, conn_tsv):
    assert _qo_uids(spark, conn_tsv, "id.orig_h !in 192.168.1.0/24") == \
        _ascii_uids("query-operators", 6)


def test_qo_ipv6_subnet_no_match(spark, conn_tsv):
    # fe80::5074:... addresses are NOT in fe80:5074:1b53:7e7::/64 —
    # the reference golden is empty
    assert _qo_uids(spark, conn_tsv,
                    "id.orig_h in fe80:5074:1b53:7e7::/64") == \
        _ascii_uids("query-operators", 7) == []


# ----------------------------------------------------- Conn log counting
# tests.yaml — exact counts (the reference's -e estimate step is its
# sketch machinery; exact counting replays here).

@pytest.mark.parametrize("expr,step", [
    (":ip == 192.168.1.104", 1),
    ("resp_p == 80", 3),
    ("resp_p != 80", 4),
    ("861237", 5),  # bare uint literal search over count-typed columns
])
def test_conn_log_counting(spark, conn_tsv, expr, step):
    df = parse_pipeline(f"from {conn_tsv} read zeek-tsv | where {expr}",
                        spark=spark).df
    assert df.count() == int(_ref_lines("conn-log-counting", step)[0])


# ------------------------------------------------------------ Export json
# tests.yaml — `where resp_h == 192.168.1.104`, 66 rows by uid.

def test_export_json_resp_h(spark, conn_tsv):
    assert _qo_uids(spark, conn_tsv, "resp_h == 192.168.1.104") == \
        _json_uids("export-json", 1)


# ---------------------------------------------------------- Import syslog
# tests.yaml:330 — RFC 5424 lines parse structured, the RFC 3164 line
# falls back to syslog.unknown; all 13 input lines survive.

def test_import_syslog_row_count(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/syslog/syslog.log')} read syslog",
        spark=spark).df
    assert df.count() == len(_ref_lines("import-syslog", 1)) == 13


# ------------------------------------------------------------------- CEF
# tests.yaml — three vendors' logs through the cef parser; predicate
# match counts vs the reference's exports, including bare-ip search and
# pattern/ip equality on extension-bag fields (`act`, `dvc`).

@pytest.fixture(scope="module")
def cef_frames(spark):
    return [parse_pipeline(
        f"from {os.path.join(REF, 'data/cef', f)} read cef",
        spark=spark) for f in ("cynet.log", "checkpoint.log",
                               "forcepoint.log")]


@pytest.mark.parametrize("expr,step", [
    ('cef_version >= 0 && device_vendor == "Cynet"', 3),
    ("172.31.5.93", 4),                # bare-ip reaches the extension map
    ("act == /Accept|Bypass/", 5),     # pattern on an extension field
    ("dvc == 10.1.1.8", 6),            # ip equality on an extension field
])
def test_cef_predicates(cef_frames, expr, step):
    total = sum(p.where(expr).df.count() for p in cef_frames)
    assert total == len(_ref_lines("cef", step))


# ------------------------------------------------- Node json zeek conn
# tests.yaml — zeek conn as JSON imported under a DECLARED schema
# (misc/schema/zeek-conn.schema): duration literals against the
# schema's duration field, and `:timestamp`/`:time` type extractors
# against its time field.

@pytest.fixture(scope="module")
def zeek_conn_json(tmp_path_factory):
    from tenzir_spark.schema_lib import load_schema_file
    load_schema_file(os.path.join(REF, "misc/schema/zeek-conn.schema"))
    p = tmp_path_factory.mktemp("zcj") / "conn.json"
    p.write_bytes(gzip.decompress(open(
        os.path.join(REF, "data/json/conn.log.json.gz"), "rb").read()))
    return str(p)


def _zcj_uids(spark, path, expr):
    df = parse_pipeline(
        f"from {path} read json --schema zeek.conn.custom"
        f" | where {expr} | select uid", spark=spark).df
    return sorted(r.uid for r in df.collect())


def test_zeek_json_schema_duration_gt(spark, zeek_conn_json):
    assert _zcj_uids(spark, zeek_conn_json, "duration > 6s") == \
        _ascii_uids("node-json-zeek-conn", 1)


def test_zeek_json_timestamp_type_extractor(spark, zeek_conn_json):
    assert _zcj_uids(spark, zeek_conn_json,
                     ":timestamp >= 2011-08-15T03:48") == \
        _ascii_uids("node-json-zeek-conn", 2)


def test_zeek_json_time_type_extractor(spark, zeek_conn_json):
    assert _zcj_uids(spark, zeek_conn_json, ":time >= 2011-08-15T03:48") == \
        _ascii_uids("node-json-zeek-conn", 3)


# ------------------------------------------------------ Node argus csv
# tests.yaml — argus flow records as csv under the reference's SHIPPED
# argus.record schema (Dur: duration #unit=s): duration-literal
# comparisons against the schema time unit, matched rows identified by
# the address/port/bytes tuple.

def _ascii_fields(case, step, idx):
    out = []
    for ln in _ref_lines(case, step):
        parts = ln.strip("<>").split(", ")
        out.append(tuple(parts[i].strip('"') for i in idx))
    return sorted(out)


@pytest.fixture(scope="module")
def argus_csv():
    from tenzir_spark.schema_lib import load_schema_file
    load_schema_file("/root/reference/schema/types/argus.schema")
    return os.path.join(REF, "data/csv/argus-M57-10k-pkts.csv.gz")


def _argus_rows(spark, path, expr):
    df = parse_pipeline(
        f"from {path} read csv --schema argus.record | where {expr}"
        " | select SrcAddr Sport DstAddr Dport TotBytes",
        spark=spark).df
    return sorted((r.SrcAddr, str(r.Sport), r.DstAddr, str(r.Dport),
                   str(r.TotBytes)) for r in df.collect())


def test_argus_state_and_duration(spark, argus_csv):
    assert _argus_rows(spark, argus_csv,
                       'State != "CON" && Dur > 4900ms') == \
        _ascii_fields("node-argus-csv", 1, (3, 4, 6, 7, 9))


def test_argus_cause_and_duration(spark, argus_csv):
    assert _argus_rows(spark, argus_csv, 'Cause == "Status" && Dur > 1s') == \
        _ascii_fields("node-argus-csv", 2, (3, 4, 6, 7, 9))


# -------------------------------------------------- Node suricata rrdata
# tests.yaml — dns answers with rdata lists and grouped records survive
# the suricata reader with full structure.

def test_suricata_rrdata_structure(spark):
    refs = {j["dns"]["type"]: j for j in map(
        json.loads, _ref_lines("node-suricata-rrdata", 2))}
    rows = {r["dns"]["type"]: r for r in (
        row.asDict(recursive=True) for row in parse_pipeline(
            f"from {os.path.join(REF, 'data/suricata/rrdata-eve.json')}"
            " read suricata", spark=spark).df.collect())}
    assert set(rows) == set(refs) == {"query", "answer"}
    q, a = rows["query"], rows["answer"]
    assert q["dns"]["rrname"] == refs["query"]["dns"]["rrname"]
    assert q["dns"]["id"] == refs["query"]["dns"]["id"]
    ref_a = refs["answer"]["dns"]
    assert [x["rdata"] for x in a["dns"]["answers"]] == \
        [x["rdata"] for x in ref_a["answers"]]
    assert a["dns"]["grouped"]["MX"] == ref_a["grouped"]["MX"]
    assert a["dns"]["flags"] == ref_a["flags"]
    assert a["dns"]["rcode"] == ref_a["rcode"]


# ------------------------------------------- Heterogeneous JSONL import
# tests.yaml:345 — a literal searched through :string must reach EVERY
# string leaf across heterogeneous events (sysmon + suricata), and
# pattern full-match on a sysmon field.

def test_heterogeneous_string_search(spark):
    sysmon = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/sysmon.json')} read json",
        spark=spark)
    total = (sysmon.where('"®" in :string').df.count()
             + _eve(spark).where('"®" in :string').df.count())
    assert total == len(_ref_lines("heterogeneous-jsonl-import", 2)) == 156


def test_heterogeneous_processguid_pattern(spark):
    sysmon = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/sysmon.json')} read json",
        spark=spark)
    n = sysmon.where(
        r"ProcessGuid == "
        r"/\{[0-9a-f]{8}-[0-9a-f]{4}-5ec2-7.15-[0-9a-f]{12}\}/").df.count()
    assert n == len(_ref_lines("heterogeneous-jsonl-import", 4)) == 26


# ------------------------------------------- Type mismatch in a column
# tests.yaml:681 — a column mixing strings and bool must survive the
# json reader (totality). The reference keeps heterogeneous batches and
# re-renders "120.0s" as a parsed duration ("2.0m"); Spark unifies the
# column to string — all four events survive with their source values
# (documented rendering divergence, same row survival).

def test_type_mismatch_column_totality(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/type-mismatch.json')}"
        " read json", spark=spark).df
    vals = sorted(r.a for r in df.collect())
    assert vals == ["120.0s", "20.0ns", "50.0ns", "true"]
    # the golden holds the same four events (pretty-printed)
    ref = "".join(_ref_lines("type-mismatch-in-a-column", 0))
    assert ref.count('"a":') == 4


# ---------------------------------------------------------- Batch Events
# tests.yaml — `show version | repeat 10 | batch N | measure | select
# events` reports the exact per-batch event counts (`show version` is
# the reference's canonical 1-event source).

@pytest.mark.parametrize("n,step", [(5, 0), (1, 1), (3, 2), (15, 3)])
def test_batch_events(spark, n, step):
    df = parse_pipeline(
        f"show version | repeat 10 | batch {n} | measure | select events",
        spark=spark).df
    ours = sorted(r.events for r in df.collect())
    ref = sorted(int(m) for m in re.findall(
        r'"events": (\d+)', "\n".join(_ref_lines("batch-events", step))))
    assert ours == ref


# ------------------------------------------- Node Zeek dns/http/snmp logs
# tests.yaml — per-log-type zeek-tsv imports: address equality, the
# `:port` type extractor (3565 port-53 rows), `:uint64` reaching ports
# (the reference declares `type port = uint64`), `#schema` resolution
# from the #path header, and interval comparisons.

def _zeek_log(tmp_path_factory, name):
    raw = gzip.decompress(open(
        os.path.join(REF, f"data/zeek/{name}.log.gz"), "rb").read())
    p = tmp_path_factory.mktemp("zl") / f"{name}.log"
    p.write_bytes(raw)
    return str(p)


@pytest.fixture(scope="module")
def dns_tsv(tmp_path_factory):
    return _zeek_log(tmp_path_factory, "dns")


def test_zeek_dns_resp_h(spark, dns_tsv):
    df = parse_pipeline(
        f"from {dns_tsv} read zeek-tsv | where resp_h == 192.168.1.104"
        " | select uid", spark=spark).df
    assert sorted(r.uid for r in df.collect()) == \
        _ascii_uids("node-zeek-dns-log", 1)


def test_zeek_dns_port_type_extractor(spark, dns_tsv):
    df = parse_pipeline(f"from {dns_tsv} read zeek-tsv | where :port == 53",
                        spark=spark).df
    assert df.count() == int(_ref_lines("node-zeek-dns-log", 3)[0]) == 3565


def test_zeek_dns_uint64_and_schema_meta(spark, dns_tsv):
    df = parse_pipeline(
        f'from {dns_tsv} read zeek-tsv'
        ' | where :uint64 == 53 && #schema == "zeek.dns"', spark=spark).df
    assert df.count() == int(_ref_lines("node-zeek-dns-log", 4)[0])


def test_zeek_http_resp_h(spark, tmp_path_factory):
    p = _zeek_log(tmp_path_factory, "http")
    df = parse_pipeline(
        f"from {p} read zeek-tsv | where resp_h == 216.240.189.196"
        " | select uid", spark=spark).df
    assert sorted(r.uid for r in df.collect()) == \
        _ascii_uids("node-zeek-http-log", 1)


def test_zeek_snmp_duration(spark, tmp_path_factory):
    p = _zeek_log(tmp_path_factory, "snmp")
    df = parse_pipeline(
        f"from {p} read zeek-tsv | where duration >= 3s | select uid",
        spark=spark).df
    assert sorted(r.uid for r in df.collect()) == \
        _ascii_uids("node-zeek-snmp-log", 1)


# -------------------------------------- Read from zeek json / tshark json
# tests.yaml — reader totality on heterogeneous zeek streaming JSON (36
# events incl. a _path-less line) and tshark's deeply nested export.

def test_read_zeek_json_file_totality(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/zeek/zeek.json')} read zeek-json",
        spark=spark).df
    ref_events = sum(1 for ln in _ref_lines("read-from-zeek-json-file", 0)
                     if ln.startswith("{"))
    assert df.count() == ref_events == 36


def test_read_tshark_json(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/pcap/tshark.json')} read json",
        spark=spark).df
    ref_events = sum(
        1 for ln in _ref_lines("read-json-from-tshark-output", 0)
        if '"_index":' in ln)
    assert df.count() == ref_events == 46


# --------------------------------------------------- Node argus ssv/tsv
# tests.yaml — the same argus schema over a space-separated file with
# an EXTRA undeclared column (kept as string) and a tab-separated file
# with REORDERED columns: header-name binding in both axes. Matched
# against the reference's csv export golden.

def _csv_ref_rows(case, idx):
    import csv as _csv
    rows = list(_csv.reader(_ref_lines(case, 1)))
    # the reference's csv printer emits a header line — data rows carry
    # the schema name in column 0
    return sorted(tuple(r[i] for i in idx) for r in rows
                  if r and r[0] == "argus.record")


def test_argus_ssv_extra_column(spark):
    from tenzir_spark.schema_lib import load_schema_file
    load_schema_file("/root/reference/schema/types/argus.schema")
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/csv/argus-additional-fields.ssv')}"
        " read ssv --schema argus.record"
        " | select SrcAddr Sport DstAddr TotBytes UnknownField Cause",
        spark=spark).df
    ours = sorted((r.SrcAddr, str(r.Sport), r.DstAddr, str(r.TotBytes),
                   r.UnknownField, r.Cause) for r in df.collect())
    assert ours == _csv_ref_rows("node-argus-ssv", (4, 5, 7, 10, 13, 14))


def test_argus_tsv_reordered_columns(spark):
    from tenzir_spark.schema_lib import load_schema_file
    load_schema_file("/root/reference/schema/types/argus.schema")
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/csv/argus-reordered.tsv')}"
        " read tsv --schema argus.record"
        " | select SrcAddr Sport DstAddr TotBytes Cause",
        spark=spark).df
    ours = sorted((r.SrcAddr, str(r.Sport), r.DstAddr, str(r.TotBytes),
                   r.Cause) for r in df.collect())
    assert ours == _csv_ref_rows("node-argus-tsv", (4, 5, 7, 10, 13))


# ------------------------------------------------ Top and Rare Operators
# tests.yaml — value/count pairs against the reference's export, the
# --count-field rename, and the argument-error contract (missing field,
# empty field, count-field colliding with the grouped field).

def _top_ref(step):
    txt = "\n".join(_ref_lines("top-and-rare-operators", step))
    pairs = re.findall(r'"id\.orig_h": "([^"]+)",\s*"(?:count|amount)": (\d+)',
                       txt)
    return {h: int(n) for h, n in pairs}


def test_top_rare_values_and_count_field(spark, conn_tsv):
    for op, cf, step in (("top", None, 2), ("rare", None, 3),
                         ("top", "amount", 4), ("rare", "amount", 5)):
        q = f"from {conn_tsv} read zeek-tsv | {op} id.orig_h"
        if cf:
            q += f" --count-field={cf}"
        df = parse_pipeline(q, spark=spark).df
        ours = {getattr(r, "id.orig_h"): r[cf or "count"]
                for r in df.collect()}
        assert ours == _top_ref(step), (op, cf)


@pytest.mark.parametrize("q", [
    "top count",                        # count-field collides (default)
    "top uid --count-field=uid",        # count-field collides (explicit)
    "rare uid -c uid",
    "rare",                             # missing field
    "top",
    'top ""',                           # empty field
])
def test_top_rare_error_contract(spark, conn_tsv, q):
    src = parse_pipeline(f"from {conn_tsv} read zeek-tsv", spark=spark)
    with pytest.raises(ValueError):
        parse_pipeline(q, source=src.df)


# ------------------------------------------- Empty Record in Pipeline
# tests.yaml:766 — `{"a": {}}` survives the json reader. DOCUMENTED
# DIVERGENCE: the reference preserves the empty record field; Spark's
# json inference prunes fieldless structs, so the row survives with an
# empty schema.

def test_empty_record_survives(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/empty-record.json')}"
        " read json", spark=spark).df
    ref_objs = "".join(
        _ref_lines("empty-record-in-pipeline", 0)).count('"a"')
    assert df.count() == ref_objs == 1


# ------------------------------------------------- Node suricata alert
# tests.yaml — import-time filter mixing a meta extractor with a field
# predicate; the reference's final export carries 6 of the 8 events.

def test_suricata_import_filter_meta_and_field(spark):
    df = _eve(spark).where(
        '#schema != "suricata.stats" && event_type != "flow"').df
    assert df.count() == len(_ref_lines("node-suricata-alert", 4)) == 6


# --------------------------------------------------- Read from JSON File
# tests.yaml — records nested in a list survive the json reader with
# full structure.

def test_record_in_list_structure(spark):
    rows = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/record-in-list.json')}"
        " read json", spark=spark).df.collect()
    assert len(rows) == 1
    r = rows[0].asDict(recursive=True)
    ref = json.loads("".join(_ref_lines("read-from-json-file", 0)))
    assert r == ref == {"a": [{"b": "123", "c": 456}], "d": 789}


# --------------------------------------------------- Parse basic/operators
# tests.yaml:212/:225 — parser totality on the reference's own parse
# strings: blank / comment-only / shebang inputs reduce to the empty
# pipeline, parseable forms parse, error forms raise ValueError (never
# crash the parser).

@pytest.mark.parametrize("q", [" ", "// comment", "#!/usr/bin/env tenzir"])
def test_parse_basic_reduces_to_empty(spark, q):
    with pytest.raises(ValueError, match="empty pipeline"):
        parse_pipeline(q, spark=spark)


def test_parse_operators_contract(spark):
    # parseable forms (--dump-ast steps): these must not raise at parse
    parse_pipeline("show version", spark=spark)
    parse_pipeline("head 42",
                   source=spark.createDataFrame([(1,)], "x int"))
    parse_pipeline("local remote local pass",
                   source=spark.createDataFrame([(1,)], "x int"))
    parse_pipeline("where :ip == 1.2.3.4",
                   source=spark.createDataFrame([("a",)], "x string"))
    # error forms (expected_result: error in the reference)
    with pytest.raises(ValueError):
        parse_pipeline("show version --tev", spark=spark)
    with pytest.raises(ValueError):
        parse_pipeline("show version 42", spark=spark)


# ------------------------------------------------ Measure Events / Bytes
# tests.yaml:742/:750 — event-position measure reports the reader's
# declared schema name (the json reader stamps `tenzir.json`);
# byte-position measure totals the loader's stream (the reference
# harness gunzips .gz inputs before piping them to stdin, so the golden
# byte count is the DECOMPRESSED size). --real-time changes emission
# cadence only; the goldens pin identical sums for both modes.

def _gunzipped(tmp_path_factory, rel):
    raw = gzip.decompress(
        open(os.path.join(REF, rel), "rb").read())
    p = tmp_path_factory.mktemp("mz") / os.path.basename(rel)[:-3]
    p.write_bytes(raw)
    return str(p)


@pytest.mark.parametrize("flags,step", [("", 0), (" --real-time", 1)])
def test_measure_events_schema_name(spark, tmp_path_factory, flags, step):
    p = _gunzipped(tmp_path_factory, "data/json/files.log.json.gz")
    df = parse_pipeline(
        f"from {p} read json | measure{flags}"
        " | summarize events=sum(events) by schema", spark=spark).df
    ref = json.loads("".join(_ref_lines("measure-events", step)))
    assert [r.asDict() for r in df.collect()] == \
        [{"schema": "tenzir.json", "events": 2}] == [ref]


@pytest.mark.parametrize("flags,step", [("", 0), (" --real-time", 1)])
def test_measure_bytes_total(spark, tmp_path_factory, flags, step):
    p = _gunzipped(tmp_path_factory, "data/json/conn.log.json.gz")
    df = parse_pipeline(
        f"load file {p} | measure{flags} | summarize bytes=sum(bytes)",
        spark=spark).df
    ref = json.loads("".join(_ref_lines("measure-bytes", step)))
    assert df.collect()[0].bytes == ref["bytes"] == 255960


# ---------------------------------------------------------------- Repeat
# tests.yaml:777 — repeat in BYTE position (between load and read)
# replicates the loader's stream before the parser sees it; in EVENT
# position it replicates rows; measure after either reports the cef
# parser's declared `cef.event` schema riding on the frame.

FORCEPOINT = os.path.join(REF, "data/cef/forcepoint.log")


def test_repeat_byte_position(spark):
    df = parse_pipeline(
        f"load file {FORCEPOINT} | repeat 5 | read cef", spark=spark).df
    ref_events = "\n".join(_ref_lines("repeat", 1)).count('"cef_version":')
    assert df.count() == ref_events == 50
    # replicated parses stay identical to the unreplicated golden
    # (to_json: the cef extension MAP column bars a native distinct)
    from pyspark.sql import functions as F
    one = "\n".join(_ref_lines("repeat", 0)).count('"cef_version":')
    assert df.select(
        F.to_json(F.struct(*df.columns))).distinct().count() == one == 10


@pytest.mark.parametrize("q,step", [
    ("read cef | measure", 3),
    ("repeat 5 | read cef | measure", 4),
    ("read cef | repeat 5 | measure", 5),
])
def test_repeat_measure_schema(spark, q, step):
    df = parse_pipeline(
        f"load file {FORCEPOINT} | {q}"
        " | summarize total=sum(events) by schema", spark=spark).df
    ref = json.loads("".join(_ref_lines("repeat", step)))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].schema == ref["schema"] == "cef.event"
    assert rows[0].total == ref["sum(events)"]


# ------------------------------------------------------------------ Sort
# tests.yaml — sort over zeek-tsv: timestamp ascending, string
# descending, and explicit null placement (reference default is
# nulls-last ascending). The ts golden renders the reference's float64
# microsecond rounding (.800932 for a file value of .800933); we assert
# on row ORDER (by uid), which is unaffected.

@pytest.fixture(scope="module")
def merge_tsv():
    return os.path.join(REF, "data/zeek/merge.log")


def _ref_field(case, step, key):
    pat = rf'"{key}": (null|"[^"]*")'
    return [None if v == "null" else v.strip('"')
            for v in re.findall(pat, "\n".join(_ref_lines(case, step)))]


def test_sort_ts_ascending(spark, merge_tsv):
    df = parse_pipeline(
        f"from {merge_tsv} read zeek-tsv | select ts, uid | sort ts",
        spark=spark).df
    assert [r.uid for r in df.collect()] == _ref_field("sort", 0, "uid")


def test_sort_string_desc(spark, merge_tsv):
    df = parse_pipeline(
        f"from {merge_tsv} read zeek-tsv | select uid | sort uid desc",
        spark=spark).df
    assert [r.uid for r in df.collect()] == _ref_field("sort", 1, "uid")


@pytest.mark.parametrize("flags,step", [("", 2), (" nulls-first", 3)])
def test_sort_null_placement(spark, conn_tsv, flags, step):
    df = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv | head | select service"
        f" | sort service{flags}", spark=spark).df
    assert [r.service for r in df.collect()] == \
        _ref_field("sort", step, "service")


# --------------------------------------------------------- Summarize Dot
# tests.yaml — count(.) counts whole events across schemas; any other
# aggregate (and grouping) rejects the `.` extractor at parse time.

def test_summarize_count_dot(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/zeek/zeek.json')} read zeek-json"
        " | summarize x=count(.)", spark=spark).df
    ref = json.loads("".join(_ref_lines("summarize-dot", 0)))
    assert df.collect()[0].x == ref["x"] == 36


@pytest.mark.parametrize("q", [
    "summarize x=distinct(.)",
    "summarize x=count(_path) by .",
])
def test_summarize_dot_error_contract(spark, q):
    src = parse_pipeline(
        f"from {os.path.join(REF, 'data/zeek/zeek.json')} read zeek-json",
        spark=spark)
    with pytest.raises(ValueError):
        parse_pipeline(q, source=src.df).df.collect()


# ------------------------------------------------------ Flatten Operator
# tests.yaml — flatten turns nested records into dotted names, fully
# concatenates nested lists, and transposes records-inside-lists into
# per-field lists. Each case is pinned to the reference's own output.

JD = os.path.join(REF, "data/json")


def _one_row(spark, q):
    rows = parse_pipeline(q, spark=spark).df.collect()
    assert len(rows) == 1
    return rows[0].asDict(recursive=True)


def test_flatten_nested_object(spark):
    got = _one_row(spark, f"from {JD}/nested-object.json read json | flatten")
    ref = json.loads("".join(_ref_lines("flatten-operator", 1)))
    assert got == ref == {"a.b.c": 42, "a.d": True, "a.e": False, "f.g": ""}


def test_flatten_record_in_list_transposes(spark):
    got = _one_row(spark, f"from {JD}/record-in-list.json read json | flatten")
    ref = json.loads("".join(_ref_lines("flatten-operator", 3)))
    assert got == ref == {"a.b": ["123"], "a.c": [456], "d": 789}


def test_flatten_nested_lists_concatenate(spark):
    # nested-structure.json: uid is a 6-deep ragged list holding 42,
    # 43, null; desktop_height a list-of-lists — both concatenate flat
    # (reference golden step 2; reads concatenated pretty JSON)
    rows = parse_pipeline(
        f"from {JD}/nested-structure.json read json | flatten",
        spark=spark).df.collect()
    assert len(rows) == 2
    for r in rows:
        d = r.asDict(recursive=True)
        assert d["uid"] == [42, 43, None]
        assert d["desktop_height"] == [2, 3, 2, 3, 4]
        assert d["desktop_width.amount"] == 10
    ref = "\n".join(_ref_lines("flatten-operator", 2))
    assert ref.count('"desktop_width.amount": 10') == 2


def test_flatten_suricata_dotted_alert(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/suricata/eve.json')} read suricata"
        " | flatten", spark=spark).df
    row = [r.asDict(recursive=True) for r in df.collect()
           if r.asDict().get("pcap_cnt") == 83]
    assert len(row) == 1
    ref_txt = "\n".join(_ref_lines("flatten-operator", 4))
    assert row[0]["alert.signature_id"] == 2017318
    assert '"alert.signature_id": 2017318' in ref_txt
    assert row[0]["alert.category"] == "Potentially Bad Traffic"


# ---------------------------------------------------- Unflatten Operator
# tests.yaml — dotted names rebuild records, recursing into records
# nested in lists; a name whose before-last-dot prefix is itself a
# field stays flat (reference conflict rule, table_slice.cpp).

@pytest.mark.parametrize("fixture,step", [
    ("record-in-list-in-record.json", 0),
    ("records-in-nested-lists.json", 1),
    ("records-in-nested-record-lists.json", 2),
    ("record-in-list2.json", 7),
    ("record-with-multiple-unflattened-values.json", 8),
    ("record-with-multi-nested-field-names.json", 9),
])
def test_unflatten_fixture(spark, fixture, step):
    got = _one_row(spark, f"from {JD}/{fixture} read json | unflatten")
    ref = json.loads("".join(_ref_lines("unflatten-operator", step)))
    assert got == ref


@pytest.mark.parametrize("fixture,step", [
    ("record-in-list.json", 3),
    ("nested-object.json", 4),
    ("nested-structure.json", 5),
])
def test_flatten_unflatten_roundtrip(spark, fixture, step):
    rows = parse_pipeline(
        f"from {JD}/{fixture} read json | flatten | unflatten",
        spark=spark).df.collect()
    ref_objs = []
    dec = json.JSONDecoder()
    txt, i = "\n".join(_ref_lines("unflatten-operator", step)), 0
    while i < len(txt):
        while i < len(txt) and txt[i] in " \t\r\n":
            i += 1
        if i >= len(txt):
            break
        v, i = dec.raw_decode(txt, i)
        ref_objs.append(v)
    assert len(rows) == len(ref_objs)
    if fixture != "nested-structure.json":
        assert [r.asDict(recursive=True) for r in rows] == ref_objs
    else:
        # ts microsecond float rendering differs (see sort note);
        # compare everything except ts
        for r, ref in zip(rows, ref_objs):
            d = r.asDict(recursive=True)
            d.pop("ts", None), ref.pop("ts", None)
            assert d == ref


# ------------------------------------------------- Slice Regression Test
# tests.yaml — select of a nested (map-key) path followed by head/tail
# and an extend reading the same path: row identity vs the golden.

def test_slice_regression_head_tail(spark):
    # our tail requires an explicit order (stream order does not exist
    # in a distributed pipeline), so the tail leg carries an enumerate
    # index through the select and drops it after slicing
    for q, step in (
            ("select extension.dvc | head 8", 0),
            ("enumerate idx | select idx, extension.dvc"
             " | tail 3 --order-by idx | drop idx", 1)):
        df = parse_pipeline(
            f"load file {FORCEPOINT} | read cef | {q}"
            " | extend foo=extension.dvc", spark=spark).df
        rows = [r.asDict(recursive=True) for r in df.collect()]
        ref_foo = _ref_field("slice-regression-test", step, "foo")
        assert [r["foo"] for r in rows] == ref_foo
        assert [r["extension"]["dvc"] for r in rows] == ref_foo


# -------------------------------------------- Summarize All None Some
# tests.yaml — distinct()/group-by over columns that are present in All,
# None, or Some of the heterogeneous zeek.json schemas: absent
# aggregation columns yield null (not []), absent group keys put every
# row in the null group. IP lists compare as sets (the reference sorts
# them as ip values, we as strings).

def _ref_objs(case, step):
    txt, i, out = "\n".join(_ref_lines(case, step)), 0, []
    dec = json.JSONDecoder()
    while i < len(txt):
        while i < len(txt) and txt[i] in " \t\r\n":
            i += 1
        if i >= len(txt):
            break
        try:
            v, i = dec.raw_decode(txt, i)
        except ValueError:
            break  # trailing warning lines
        out.append(v)
    return out


def _zjson(spark, q):
    return parse_pipeline(
        f"from {os.path.join(REF, 'data/zeek/zeek.json')} read zeek-json"
        f" | {q}", spark=spark).df


def _norm(v):
    return tuple(sorted(v)) if isinstance(v, list) else v


@pytest.mark.parametrize("q,step", [
    ("summarize x=distinct(_path) by _path", 0),    # AA
    ("summarize x=distinct(y) by z", 1),            # NN
    ("summarize x=distinct(y) by _path", 2),        # NA
    ("summarize x=distinct(_path) by z", 3),        # AN
    ("summarize x=distinct(id.orig_h) by z", 5),    # SN
    ("summarize x=distinct(id.orig_h) by _path", 7),  # SA
    ("summarize x=distinct(_path)", 9),             # A
    ("summarize x=distinct(id.orig_h)", 10),        # S
    ("summarize x=distinct(y)", 11),                # N
])
def test_summarize_all_none_some(spark, q, step):
    rows = _zjson(spark, q).collect()
    ours = sorted((tuple(_norm(v) for v in r) for r in rows),
                  key=repr)
    key = [k for k in rows[0].asDict() if k != "x"]
    ref = sorted(
        (tuple(_norm(o[k]) for k in (key + ["x"])) for o in
         _ref_objs("summarize-all-none-some", step)), key=repr)
    assert ours == ref


# --------------------------------------------------------- Enumerate
# tests.yaml — `select uid | enumerate index` over a 10-event import:
# dense 0-based indices per schema. The reference interleaves its conn
# and dns imports in one export; we replay each log separately and
# check both (index, uid) sequences appear exactly in the golden.

def test_enumerate_dense_index_per_schema(spark, tmp_path_factory):
    ref_pairs = [(o["index"], o["uid"])
                 for o in _ref_objs("enumerate", 2)]
    seen = []
    for log in ("conn", "dns"):
        p = _zeek_log(tmp_path_factory, log)
        df = parse_pipeline(
            f"from {p} read zeek-tsv | head 10 | select uid"
            " | enumerate index", spark=spark).df
        ours = [(r["index"], r.uid) for r in df.collect()]
        assert [i for i, _ in ours] == list(range(10)), log
        for pair in ours:
            assert pair in ref_pairs, (log, pair)
        seen.extend(ours)
    assert sorted(seen, key=repr) == sorted(ref_pairs, key=repr)


# ---------------------------------------------- Read JSON (list cases)
# tests.yaml — json inference over records nested in lists: a field
# missing from one element backfills null; duplicate keys inside one
# object keep the last value; conflicting value types across rows
# unify (DOCUMENTED DIVERGENCE: the reference keeps per-row schemas, so
# 42 stays a number next to "qux"; Spark unifies the column to string).

def test_read_json_new_field_in_record_list(spark):
    df = parse_pipeline(
        f"from {JD}/record-list-new-field.json read json", spark=spark).df
    ref = _ref_objs("read-json-with-new-field-in-record-list", 0)
    assert [r.asDict(recursive=True) for r in df.collect()] == ref


def test_read_json_different_fields_in_record_list(spark):
    df = parse_pipeline(
        f"from {JD}/record-list-different-fields.json read json",
        spark=spark).df
    ref = _ref_objs("read-json-with-differents-fields-in-one-record-list", 0)
    assert [r.asDict(recursive=True) for r in df.collect()] == ref


def test_read_json_duplicate_key_last_wins(spark):
    df = parse_pipeline(
        f"from {JD}/record-list-conflict-field-overwrite.json read json",
        spark=spark).df
    ref = _ref_objs("read-json-with-list-config-in-overwritten-field", 0)
    assert [r.asDict(recursive=True) for r in df.collect()] == ref \
        == [{"foo": [{"bar": "qux"}]}]


def test_read_json_null_conflict(spark):
    df = parse_pipeline(
        f"from {JD}/record-list-with-null-conflict.json read json",
        spark=spark).df
    ref = _ref_objs("read-json-record-list-with-nulls-and-conflict", 0)
    # type-unified column: compare bar as strings; foo ([{},null,{}])
    # is pruned by Spark's fieldless-struct inference (same documented
    # divergence as the empty-record case)
    assert [r.bar for r in df.collect()] == [str(o["bar"]) for o in ref]


def test_read_json_tshark_output(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/pcap/tshark.json')} read json",
        spark=spark).df
    ref = _ref_objs("read-json-from-tshark-output", 0)
    assert df.count() == len(ref) == 46
    row = df.limit(1).collect()[0].asDict(recursive=True)
    assert row["_type"] == ref[0]["_type"]
    assert row["_source"]["layers"]["frame"]["frame.encap_type"] == \
        ref[0]["_source"]["layers"]["frame"]["frame.encap_type"]


# ------------------------------------------------------ Lines (counts)
# tests.yaml — the lines reader counts raw lines; -s skips empties.

@pytest.mark.parametrize("flags,step", [("", 0), (" -s", 1)])
def test_lines_count_golden(spark, flags, step):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/cef/checkpoint.log')}"
        f" read lines{flags} | summarize n=count(.)", spark=spark).df
    ref = json.loads("".join(_ref_lines("lines", step)))
    assert df.collect()[0].n == ref["n"]


# ------------------------------------------------------- Compression
# tests.yaml — gzip byte-stream decompression between load and read;
# the zeek json export has no _path, demoting to the unknown schema.

def test_compression_gzip_count(spark):
    df = parse_pipeline(
        f"load file {os.path.join(REF, 'data/json/conn.log.json.gz')}"
        " | decompress gzip | read zeek-json"
        " | summarize num_events=count(.)", spark=spark).df
    ref = json.loads("".join(_ref_lines("compression", 0)))
    assert df.collect()[0].num_events == ref["num_events"] == 729


# --------------------------------------------------------- JSON Printer
# tests.yaml — the json printer's --omit-nulls / --omit-empty-objects /
# --omit-empty-lists / --omit-empty flags over one suricata event.
# Normalizations: our timestamps carry an explicit +0000 offset, and
# keys that are null in EVERY row of the file exist only in the
# reference's declared suricata schema (schema-on-read divergence) —
# such keys must be null in the golden.

def _printer_ours(spark, on=False, oo=False, ol=False, flat=False):
    from tenzir_spark.sources import formats as fmt
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/suricata/rrdata-eve.json')}"
        " read suricata | head 1", spark=spark).df.drop("_schema")
    if flat:
        from tenzir_spark.operators.transform import flatten as _fl
        df = _fl(df)
    ln = fmt.json_pruned_lines(df, on, oo, ol).collect()[0].value

    def fix(v):
        if isinstance(v, dict):
            return {k: fix(x) for k, x in v.items()}
        if isinstance(v, list):
            return [fix(x) for x in v]
        if isinstance(v, str) and "T" in v and v.endswith("+0000"):
            return v[:-5]
        return v
    return fix(json.loads(ln))


@pytest.mark.parametrize("step,kw", [
    (0, {}),                                    # default: nulls kept
    (1, {}),                                    # --compact-output
    (2, dict(on=True)),                         # --omit-nulls
    (3, dict(oo=True)),                         # --omit-empty-objects
    (4, dict(ol=True)),                         # --omit-empty-lists
    (5, dict(on=True, oo=True, ol=True)),       # --omit-empty
    (7, dict(on=True, oo=True, ol=True, flat=True)),  # flatten+omit
])
def test_json_printer_flags(spark, step, kw):
    ours = _printer_ours(spark, **kw)
    ref = json.loads("\n".join(_ref_lines("json-printer", step)))

    def reconcile(o, r):
        # drop declared-schema padding: keys (at any depth) absent from
        # ours must be null in the golden
        if isinstance(r, dict) and isinstance(o, dict):
            out = {}
            for k, v in r.items():
                if k not in o:
                    assert v is None, k
                    continue
                out[k] = reconcile(o[k], v)
            return out
        if isinstance(r, list) and isinstance(o, list) and len(o) == len(r):
            return [reconcile(a, b) for a, b in zip(o, r)]
        return r

    assert ours == reconcile(ours, ref)


# --------------------------------------- Zeek TSV Pipeline Format
# tests.yaml:792 — the FULL 16-step suite: read zeek-tsv through the
# zeek-tsv / csv / json printers. Steps 2-12 replay BYTE-IDENTICAL
# (9-10 modulo the reference's trailing stderr warning lines); 0-1
# compare parsed objects (the reference pretty-prints nested records
# where our zeek frames keep flat dotted columns — documented reader
# divergence); 13-15 are the reference's error contracts.

_ZTPF = [  # step, input (data/-relative), TQL between from and save
    (2, "zeek/dns.log.gz",
     "read zeek-tsv | head 300 | write zeek-tsv --disable-timestamp-tags"),
    (3, "zeek/dns.log.gz", "read zeek-tsv | head 300 | write csv"),
    (4, "zeek/whitespace_start.log",
     'read zeek-tsv | write zeek-tsv --disable-timestamp-tags'
     ' --set-separator ";" --empty-field "empty" --unset-field "NULLVAL"'),
    (5, "json/snmp.log.json.gz",
     "read json | write zeek-tsv --disable-timestamp-tags"),
    (6, "zeek/empty.log",
     "read zeek-tsv | write zeek-tsv --disable-timestamp-tags"),
    (7, "zeek/broken_no_separator_header.log",
     "read zeek-tsv | write zeek-tsv --disable-timestamp-tags"),
    (8, "zeek/broken_no_set_separator_header.log",
     "read zeek-tsv | write zeek-tsv --disable-timestamp-tags"),
    (9, "zeek/broken_no_separator_value.log",
     "read zeek-tsv | write zeek-tsv --disable-timestamp-tags"),
    (10, "zeek/broken_no_empty_and_unset_fields.log",
     "read zeek-tsv | write zeek-tsv --disable-timestamp-tags"),
    (11, "zeek/broken_no_closing_tag.log",
     "read zeek-tsv | write zeek-tsv --disable-timestamp-tags"),
    (12, "zeek/broken_no_data_after_open.log",
     "read zeek-tsv | write zeek-tsv --disable-timestamp-tags"),
]


def _ztpf_input(tmp_path, rel):
    src = os.path.join(REF, "data", rel)
    if rel.endswith(".gz"):
        import gzip as _gz
        p = tmp_path / os.path.basename(rel)[:-3]
        p.write_bytes(_gz.decompress(open(src, "rb").read()))
        return str(p)
    return src


@pytest.mark.parametrize("step,rel,pipe", _ZTPF,
                         ids=[f"step_{s:02d}" for s, _, _ in _ZTPF])
def test_zeek_tsv_pipeline_bytes(spark, tmp_path, step, rel, pipe):
    from tenzir_spark.plans.tql import exec_pipeline
    src = _ztpf_input(tmp_path, rel)
    out = tmp_path / f"out_{step:02d}"
    exec_pipeline(f"from {src} {pipe} | save {out}", spark=spark)
    got = out.read_text().splitlines()
    ref = _ref_file_lines("zeek-tsv-pipeline-format", step)
    # steps 9/10: the golden captured the reference's stderr warnings
    # after the data — the byte contract covers the document itself
    ref = [ln for ln in ref
           if not (ln.startswith("warning:") or ln.startswith(" = note:"))]
    assert got == ref


def _ref_file_lines(case, step):
    p = os.path.join(REF, "reference", case, f"step_{step:02d}.ref")
    return open(p).read().splitlines()


@pytest.mark.parametrize("step,rel", [
    (0, "zeek/merge.log"),
    (1, "zeek/merge_with_whitespace_separation.log"),
], ids=["merge", "merge_whitespace"])
def test_zeek_tsv_pipeline_write_json(spark, tmp_path, step, rel):
    """Steps 0-1: multi-block zeek stream through the json printer.
    The reference nests dotted zeek fields into records; our frames
    keep the dotted flat columns (documented divergence) — compare on
    the flattened objects."""
    from tenzir_spark.plans.tql import exec_pipeline
    src = _ztpf_input(tmp_path, rel)
    out = tmp_path / "out.json"
    exec_pipeline(f"from {src} read zeek-tsv | write json | save {out}",
                  spark=spark)

    def flat(o, prefix=""):
        items = {}
        for k, v in o.items():
            if isinstance(v, dict):
                items.update(flat(v, f"{prefix}{k}."))
            else:
                items[f"{prefix}{k}"] = v
        return items

    import glob
    lines = []
    for p in sorted(glob.glob(str(out) + "/part-*")):
        lines += open(p).read().splitlines()
    ref = [flat(o) for o in _ref_objs("zeek-tsv-pipeline-format", step)]
    ours = [json.loads(ln) for ln in lines]
    assert len(ours) == len(ref)
    # FULL non-null-content equality modulo the two documented
    # divergences: nesting (the golden flattens above) and layout —
    # Spark UNIFIES the heterogeneous stream into one frame whose
    # sibling-schema columns are null, where the reference keeps
    # per-schema records (plus our _schema demux column). Every actual
    # value — adaptive durations, ISO µs timestamps, counts, lists —
    # must match exactly.
    def nn(d):
        return {k: v for k, v in d.items()
                if v is not None and k != "_schema"}
    for o, r in zip(sorted((nn(x) for x in ours), key=repr),
                    sorted((nn(x) for x in ref), key=repr)):
        assert o == r, (o, r)


@pytest.mark.parametrize("step,rel,msg", [
    (13, "zeek/broken_unequal_fields_types_length.log",
     "mismatching number #fields and #types"),
    (14, "zeek/broken_duplicate_close_tag.log", "missing #path"),
    (15, "zeek/broken_data_after_close_tag.log", "missing #path"),
], ids=["unequal_fields_types", "dup_close", "data_after_close"])
def test_zeek_tsv_pipeline_errors(spark, tmp_path, step, rel, msg):
    """Steps 13-15 (expected_result: error): the reference rejects the
    document; the golden records its error text — ours must raise with
    the same diagnostic."""
    from tenzir_spark.plans.tql import exec_pipeline
    src = _ztpf_input(tmp_path, rel)
    ref_err = "\n".join(_ref_file_lines("zeek-tsv-pipeline-format", step))
    assert msg in ref_err
    with pytest.raises(ValueError, match=re.escape(msg)):
        exec_pipeline(
            f"from {src} read zeek-tsv | write zeek-tsv"
            f" --disable-timestamp-tags | save {tmp_path}/x", spark=spark)


# --------------------------------------------- Local Pipeline Execution
# tests.yaml:659 — stdin/stdout connector aliases: `from stdin`,
# `from file -`, `from -`, bare `read json`, `save stdout`, `to stdout`,
# `to -`. Each step echoes a zeek json log through the engine; rows and
# values must match the reference's pretty-printed export.

_LPE = [
    (0, "sip", "from stdin read json | write json | save stdout"),
    (1, "sip", "from file - read json | to stdout write json"),
    (2, "files", "read json | write json"),
    (3, "irc", "from - read json | to - write json"),
    (4, "irc", "from file - read json | to - write json"),
]


def _norm_ts(v):
    if isinstance(v, str):
        m = re.match(r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?)"
                     r"(Z|[+-]\d{2}:?\d{2})?$", v)
        if m:
            return m.group(1).rstrip("0").rstrip(".")
    return v


@pytest.mark.parametrize("step,log,pipe", _LPE,
                         ids=[f"step_{s:02d}" for s, _, _ in _LPE])
def test_local_pipeline_execution(spark, monkeypatch, capsys, step, log,
                                  pipe):
    import gzip as _gz
    import io as _io

    from tenzir_spark.plans.tql import exec_pipeline
    raw = _gz.decompress(open(
        os.path.join(REF, f"data/json/{log}.log.json.gz"), "rb").read())
    monkeypatch.setattr("sys.stdin", _io.StringIO(raw.decode()))
    exec_pipeline(pipe, spark=spark)
    ours = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    ref = _ref_objs("local-pipeline-execution", step)
    assert len(ours) == len(ref)
    # FULL-object equality; the only normalization is null keys — our
    # NDJSON omits them where the golden prints them explicitly
    for o, r in zip(ours, ref):
        assert o == {k: v for k, v in r.items() if v is not None}, (o, r)


# ------------------------------------------------------------- Comments
# tests.yaml:647 — block comments in pipeline strings: a second `/*`
# inside a comment is fine (non-nested, first `*/` ends it); an operator
# that is ONLY a comment errors; a stray `*/` errors.

def test_comments_block_in_operator(spark, capsys):
    from tenzir_spark.plans.tql import exec_pipeline
    exec_pipeline(
        f"from {EVE} read suricata"
        " | select timestamp /*double beginning /* is valid */ | to -",
        spark=spark)
    # EXACT value equality — suricata timestamps parse typed and
    # render in the reference's µs-UTC form
    ours = sorted(json.loads(ln)["timestamp"]
                  for ln in capsys.readouterr().out.strip().splitlines())
    ref = sorted(o["timestamp"] for o in _ref_objs("comments", 1))
    assert ours == ref and len(ours) == 8


@pytest.mark.parametrize("tail", [
    "select timestamp | /**/",           # comment-only operator
    "select timestamp /*double ending*/ slash*/",  # stray closer
])
def test_comments_errors(spark, tail):
    from tenzir_spark.plans.tql import exec_pipeline
    with pytest.raises(ValueError):
        exec_pipeline(f"from {EVE} read suricata | {tail} | to -",
                      spark=spark)


# ----------------------------------------- Empty Record in Pipeline
# tests.yaml:771 csv/xsv steps — a stream of empty records prints the
# (empty) header line plus one (empty) line per event; `write xsv`
# takes <field-sep> <list-sep> <null-value> positionally.

@pytest.mark.parametrize("step,w", [
    (1, "write csv"),
    (2, 'write xsv " " ; NULL'),
], ids=["csv", "xsv"])
def test_empty_record_xsv(spark, tmp_path, step, w):
    from tenzir_spark.plans.tql import exec_pipeline
    src = os.path.join(REF, "data/json/empty-record.json")
    out = tmp_path / "out"
    exec_pipeline(f"from {src} read json | {w} | save {out}", spark=spark)
    ref = open(os.path.join(
        REF, "reference/empty-record-in-pipeline",
        f"step_{step:02d}.ref")).read()
    assert out.read_text() == ref


# ------------------------------------------------- Node Zeek conn log
# tests.yaml:92 — suffix extractors, SI magnitude literals (1k=1000 vs
# 1Ki=1024), type extractors and #schema meta queries over zeek conn;
# matched rows pinned by uid against the reference's ascii exports.

def _conn_uids(spark, conn_tsv, where):
    df = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv | where {where} | select uid",
        spark=spark).df
    return sorted(r.uid for r in df.collect())


def test_node_zeek_conn_resp_h(spark, conn_tsv):
    assert _conn_uids(spark, conn_tsv, "resp_h == 192.168.1.104") == \
        _ascii_uids("node-zeek-conn-log", 1)


def test_node_zeek_conn_si_literals(spark, conn_tsv):
    assert _conn_uids(
        spark, conn_tsv, "orig_bytes > 1k && orig_bytes < 1Ki") == \
        _ascii_uids("node-zeek-conn-log", 2)


def test_node_zeek_conn_type_extractor_disjunction(spark, conn_tsv):
    assert _conn_uids(
        spark, conn_tsv,
        ':string == "OrfTtuI5G4e" || :port == 67 || :uint64 == 67') == \
        _ascii_uids("node-zeek-conn-log", 3)


def test_node_zeek_conn_schema_meta_and(spark, conn_tsv):
    assert _conn_uids(
        spark, conn_tsv,
        '#schema == "zeek.conn" && resp_h == 192.168.1.104') == \
        _ascii_uids("node-zeek-conn-log", 4)


def test_node_zeek_conn_schema_meta_mismatch(spark, conn_tsv):
    # every event is zeek.conn -> a != filter on it exports nothing
    df = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv"
        ' | where #schema != "zeek.conn" && #schema != "tenzir.metrics"',
        spark=spark).df
    assert df.count() == len(_ref_lines("node-zeek-conn-log", 5)) == 0


def test_node_zeek_conn_schema_meta_negated_passthrough(spark, conn_tsv):
    assert _conn_uids(
        spark, conn_tsv,
        '#schema != "foobar" && resp_h == 192.168.1.104') == \
        _ascii_uids("node-zeek-conn-log", 6)


# -------------------------------------------- Node Zeek multiple imports
# tests.yaml:104 / :191 (server variant) — conn + dns in ONE store;
# suffix and fully-qualified (zeek.conn.id.resp_h) extractors across
# the heterogeneous set, and meta/type count queries.

@pytest.fixture(scope="module")
def conn_dns(spark, conn_tsv, tmp_path_factory):
    import gzip as _gz
    dns = tmp_path_factory.mktemp("cd") / "dns.log"
    dns.write_bytes(_gz.decompress(open(
        os.path.join(REF, "data/zeek/dns.log.gz"), "rb").read()))
    both = tmp_path_factory.mktemp("cd") / "both.log"
    both.write_bytes(open(conn_tsv, "rb").read() + dns.read_bytes())
    return str(both)


def test_multi_import_suffix_resp_h(spark, conn_dns):
    df = parse_pipeline(
        f"from {conn_dns} read zeek-tsv"
        " | where resp_h == 192.168.1.104 | select uid", spark=spark).df
    ours = sorted(r.uid for r in df.collect())
    ref = sorted(_ascii_uids("node-zeek-multiple-imports", 2))
    assert ours == ref


def test_multi_import_qualified_resp_h(spark, conn_dns):
    # zeek.conn.id.resp_h binds only the conn schema's column
    df = parse_pipeline(
        f"from {conn_dns} read zeek-tsv"
        " | where zeek.conn.id.resp_h == 192.168.1.104 | select uid _schema",
        spark=spark).df
    rows = df.collect()
    assert all(r._schema == "zeek.conn" for r in rows)
    assert sorted(r.uid for r in rows) == \
        _ascii_uids("node-zeek-multiple-imports", 3)

def test_qualified_then_bare_no_gate_leak(spark, conn_dns):
    """A qualified extractor's schema gate is scoped to its own
    comparison: a bare suffix over the same column in the SAME
    expression still reaches every schema (regression: the gate dict
    leaked across resolutions within one compile)."""
    bare = parse_pipeline(
        f"from {conn_dns} read zeek-tsv"
        " | where resp_h == 192.168.1.104", spark=spark).df.count()
    mixed = parse_pipeline(
        f"from {conn_dns} read zeek-tsv"
        " | where zeek.conn.id.resp_h == 8.8.8.8"
        "      || id.resp_h == 192.168.1.104", spark=spark).df.count()
    assert mixed == bare > 0



def test_multi_import_timestamp_type_count(spark, conn_dns):
    df = parse_pipeline(
        f"from {conn_dns} read zeek-tsv"
        ' | where :timestamp >= 1970-01-01 && #schema != "tenzir.metrics"',
        spark=spark).df
    assert df.count() == int(_ref_lines("node-zeek-multiple-imports", 4)[0])


def test_multi_import_schema_count(spark, conn_dns):
    df = parse_pipeline(
        f"from {conn_dns} read zeek-tsv"
        ' | where #schema == "zeek.conn"', spark=spark).df
    assert df.count() == int(_ref_lines("node-zeek-multiple-imports", 5)[0])


# --------------------------------------------------- Type query (-n 20)
# tests.yaml:227/:234 — `import -n 20 zeek | export ascii`: exactly the
# first 20 conn events come back (schema-filtered in the server form).

@pytest.mark.parametrize("case,step", [
    ("node-type-query", 1), ("type-query", 1)])
def test_type_query_first_20(spark, conn_tsv, case, step):
    df = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv | head 20"
        ' | where #schema == "zeek.conn" | select uid', spark=spark).df
    assert sorted(r.uid for r in df.collect()) == _ascii_uids(case, step)


# ------------------------------------------------------ Malformed query
# tests.yaml:169 — garbage pipeline text is a parse error, not a crash.

@pytest.mark.parametrize("q", [
    "yo that is not a query", "and that is not a command"])
def test_malformed_query_errors(spark, q):
    from tenzir_spark.plans.tql import exec_pipeline
    with pytest.raises(ValueError):
        exec_pipeline(f"from /dev/null read json | where {q} | to -",
                      spark=spark)


# --------------------------------------- Schema time unit (#unit=ms)
# tests.yaml:771 'Use schema time unit when converting from a double to
# a duration' — selector-routed json binds the argus.record schema:
# SIntPkt is `duration #unit=ms`, so the bare double 20.0 means 20ms
# while the string "20ns" carries its own unit; the json printer
# renders typed durations adaptively.

def test_schema_time_unit_double_to_duration(spark, capsys):
    from tenzir_spark.plans.tql import exec_pipeline
    from tenzir_spark.schema_lib import load_schema_file
    load_schema_file("/root/reference/schema/types/argus.schema")
    exec_pipeline(
        f"from {os.path.join(REF, 'data/json/double-to-duration-cast.json')}"
        " read json --selector=schema:argus | select SIntPkt | to -",
        spark=spark)
    ours = [json.loads(ln)["SIntPkt"]
            for ln in capsys.readouterr().out.strip().splitlines()]
    ref = [o["SIntPkt"] for o in _ref_objs(
        "use-schema-time-unit-when-converting-from-a-double-to-a-duration",
        0)]
    assert ours == ref == ["20.0ns", "20.0ms"]


# ------------------------------------------------------- Arrow IPC
# tests.yaml:309-337 — `export arrow` / `import arrow`. The goldens
# print the reference's INTERNAL extension-typed schemas (vast.address
# fixed_size_binary[16]) via its print-arrow.py harness; the replayable
# contract is the wire interop: our reader consumes the reference's OWN
# exported artifact (data/suricata/arrow_ipc.bin, 8 concatenated
# streams), and our writer emits streams stock pyarrow reads back with
# the golden's row counts.

ARROW_BIN = os.path.join(REF, "data/suricata/arrow_ipc.bin")


def test_arrow_import_total_count(spark):
    df = parse_pipeline(f"from {ARROW_BIN} read arrow", spark=spark).df
    assert df.count() == int(_ref_lines("arrow-import", 3)[-1]) == 8469


def test_arrow_import_schema_filter(spark):
    p = parse_pipeline(
        f'from {ARROW_BIN} read arrow | where #schema == "zeek.conn"'
        " | head 10", spark=spark)
    assert any(ln.endswith("rows: 10")
               for ln in _ref_lines("arrow-import", 1))
    assert p.df.count() == 10
    # the reference's ip extension columns decode to our string-ip form
    import pyspark.sql.functions as _F
    row = p.df.filter(_F.col("uid") == "Pii6cUUq1v4").collect()
    assert row and row[0]["id.orig_h"] == "192.168.1.102"


def test_arrow_import_suricata_http(spark):
    df = parse_pipeline(
        f'from {ARROW_BIN} read arrow | where #schema == "suricata.http"',
        spark=spark).df
    assert any(ln.endswith("rows: 1")
               for ln in _ref_lines("arrow-import", 2))
    assert df.count() == 1


def test_arrow_export_roundtrip(spark, conn_tsv, tmp_path):
    """`read zeek-tsv | head 10 | write arrow` — stock pyarrow must read
    the output back with the arrow-export golden's row count."""
    import pyarrow as pa

    from tenzir_spark.plans.tql import exec_pipeline
    out = tmp_path / "out.arrow"
    exec_pipeline(
        f"from {conn_tsv} read zeek-tsv | head 10 | write arrow"
        f" | save {out}", spark=spark)
    rows = 0
    with pa.input_stream(str(out)) as stream:
        while True:
            try:
                r = pa.ipc.RecordBatchStreamReader(stream)
            except (pa.ArrowInvalid, OSError):
                break
            rows += r.read_all().num_rows
    assert any(ln.endswith("rows: 10")
               for ln in _ref_lines("arrow-export", 1))
    assert rows == 10


# ---------------------------- Export pipeline operator parsing suites
# tests.yaml 'Export pipeline operator parsing ...' — multi-line
# pipeline strings with interleaved /* */ comments, comma-separated
# select operands, hash --salt, rename new=old, pseudonymize. Values
# compare exactly — including pseudonymized ips (real Crypto-PAn,
# functions/cryptopan.py) — except hash's digest column: the reference
# hashes with xxh3 over its internal serialization, ours is sha256
# (documented divergence), so that digest checks determinism +
# grouping, not byte equality.

def _eve_rows(spark, tql):
    df = parse_pipeline(f"from {EVE} read suricata | {tql}",
                        spark=spark).df.drop("_schema")
    return df


def test_export_parsing_multiline_comments(spark):
    df = _eve_rows(spark, """pass
      /* a comment here */
      | select /* and a comment there /**/ timestamp, flow_id, src_ip, dest_ip, src_port
      /**/ /*foo*/
      """)
    ref = _ref_objs(
        "export-pipeline-operator-parsing-everything-but-summarize", 2)
    assert df.columns == list(ref[0].keys())
    assert sorted((r.flow_id for r in df.collect()), key=repr) == \
        sorted((o.get("flow_id") for o in ref), key=repr)


def test_export_parsing_drop_and_hash(spark):
    df = _eve_rows(spark, 'pass | select timestamp, flow_id, src_ip,'
                   ' dest_ip, src_port | drop timestamp'
                   ' | hash --salt="abcdefghij12" flow_id')
    ref = _ref_objs(
        "export-pipeline-operator-parsing-everything-but-summarize", 4)
    assert df.columns == list(ref[0].keys())
    rows = df.collect()
    # the digest column groups identically: equal flow_id -> equal
    # digest, distinct -> distinct (algorithm is a documented
    # divergence; 16-hex xxh3 there, sha256 here)
    ours = {r.flow_id: r.flow_id_hashed for r in rows}
    theirs = {o.get("flow_id"): o.get("flow_id_hashed") for o in ref}
    assert sorted(ours, key=repr) == sorted(theirs, key=repr)
    assert len(set(ours.values())) == len(set(theirs.values()))


def test_export_parsing_pseudonymize_rename(spark):
    df = _eve_rows(spark, 'pass'
                   ' | select timestamp, flow_id, src_ip, dest_ip, src_port'
                   ' | drop timestamp | hash --salt="abcdefghij12" flow_id'
                   ' | drop flow_id'
                   ' | pseudonymize -m "crypto-pan" -s "123456abcdef"'
                   ' src_ip, dest_ip | rename source_ip=src_ip')
    ref = _ref_objs(
        "export-pipeline-operator-parsing-everything-but-summarize", 7)
    assert df.columns == list(ref[0].keys())
    rows = df.collect()
    assert len(rows) == len(ref)
    # real Crypto-PAn: pseudonymized ips match the golden byte-exactly
    # (the stats event carries no ips -> None; sort via repr)
    assert sorted(((r.source_ip, r.dest_ip) for r in rows), key=repr) == \
        sorted(((o.get("source_ip"), o.get("dest_ip")) for o in ref),
               key=repr)


def test_export_parsing_after_expression(spark):
    df = _eve_rows(spark,
                   "where src_ip==147.32.84.165 &&"
                   " (src_port==1181 || src_port == 138)\n"
                   "       | pass\n"
                   "       | select timestamp, flow_id, src_ip, dest_ip,"
                   " src_port\n       | drop timestamp")
    ref = _ref_objs(
        "export-pipeline-operator-parsing-after-expression", 4)
    assert df.columns == list(ref[0].keys())
    assert sorted((r.flow_id for r in df.collect()), key=repr) == \
        sorted((o.get("flow_id") for o in ref), key=repr)


def test_export_parsing_only_summarize(spark):
    """sysmon NetworkConnection: `summarize usercount=count(User),
    initiated=all(Initiated) by ProcessId` — aggregate values equal the
    reference's."""
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/sysmon.json')} read json"
        " | summarize usercount=count(User), initiated=all(Initiated)"
        " by ProcessId", spark=spark).df
    ref = _ref_objs("export-pipeline-operator-parsing-only-summarize", 3)
    # the reference types ProcessId uint64 via the declared
    # sysmon.NetworkConnection schema; our inference keeps the json
    # string form — compare as ints
    ours = {int(r.ProcessId): r.usercount for r in df.collect()
            if r.ProcessId is not None}
    theirs = {int(o["ProcessId"]): o["usercount"]
              for o in ref if o.get("ProcessId") is not None}
    assert ours == theirs


# ------------------------------------- Skip attribute (zeek.radius)
# tests.yaml:563 — a value query over the heterogeneous zeek.json
# stream reaches the radius event's username field (#skip only
# suppresses INDEXING in the reference; matching still works).

def test_skip_attribute_value_query(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/zeek/zeek.json')} read zeek-json"
        ' | where username == "steve"', spark=spark).df
    ref = json.loads("\n".join(_ref_lines(
        "process-query-for-field-with-skip-attribute", 1)))
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.username == ref["username"] == "steve"
    assert r.uid == ref["uid"]
    assert r.result == ref["result"]


# --------------------------------------------------- Export in Pipeline
# tests.yaml — BARE `import` / `export`: the node's implicit store.
# Two cef imports accumulate; each `export | to stdout` shows the total
# so far (our store is write-through, so the pre- and post-flush
# exports are the same count — flush is a durability barrier we don't
# defer).

def test_export_in_pipeline_node_store(spark, capsys):
    from tenzir_spark.plans.registry import node_store
    from tenzir_spark.plans.tql import exec_pipeline
    node_store().__init__()  # fresh store for the test
    exec_pipeline("export | to stdout", spark=spark)
    assert capsys.readouterr().out.strip() == ""
    assert len(_ref_lines("export-in-pipeline", 0)) == 0

    cynet = os.path.join(REF, "data/cef/cynet.log")
    checkpoint = os.path.join(REF, "data/cef/checkpoint.log")
    exec_pipeline(f"from {cynet} read cef | import", spark=spark)
    exec_pipeline("export | to stdout", spark=spark)
    n1 = len(capsys.readouterr().out.strip().splitlines())
    assert n1 == len(_ref_objs("export-in-pipeline", 4))

    exec_pipeline(f"from {checkpoint} read cef | import", spark=spark)
    exec_pipeline("export | to stdout", spark=spark)
    n2 = len(capsys.readouterr().out.strip().splitlines())
    assert n2 == len(_ref_objs("export-in-pipeline", 8))


# ------------------------------------------- Sort with Remote Operators
# tests.yaml — `export | sort signature_id asc | write json` over an
# imported cef log: the sorted key sequence equals the reference's.

def test_sort_with_remote_operators(spark, capsys):
    from tenzir_spark.plans.registry import node_store
    from tenzir_spark.plans.tql import exec_pipeline
    node_store().__init__()
    fp = os.path.join(REF, "data/cef/forcepoint.log")
    exec_pipeline(f"from {fp} read cef | import", spark=spark)
    exec_pipeline("export | sort signature_id asc | to -", spark=spark)
    ours = [json.loads(ln).get("signature_id") for ln in
            capsys.readouterr().out.strip().splitlines()]
    ref = [o.get("signature_id")
           for o in _ref_objs("sort-with-remote-operators", 2)]
    assert [str(v) for v in ours] == [str(v) for v in ref]


# ------------------------------------------------------- Export json
# tests.yaml:149 — typed zeek import exported as json, with and without
# --omit-nulls. The reference's `import zeek` binds the library schema
# (nested conn_id record, declared-but-absent columns as typed nulls);
# the same semantics compose here from existing operators — unflatten +
# cast to the declared zeek.conn — and the json printer output is then
# BYTE-IDENTICAL to the reference's export (66 rows, adaptive
# durations, µs timestamps, null padding).

@pytest.mark.parametrize("step,omit", [(1, False), (2, True)],
                         ids=["with-nulls", "omit-nulls"])
def test_export_json_typed_import_bytes(spark, conn_tsv, step, omit):
    from tenzir_spark.operators.cast import cast_to
    from tenzir_spark.operators.transform import unflatten
    from tenzir_spark.schema_lib import get_schema
    from tenzir_spark.sources import formats as fmt

    p = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv | where resp_h == 192.168.1.104",
        spark=spark)
    hints = p.df.__dict__.get("_tenzir_type_hints") or {}
    st, declared_hints = get_schema("zeek.conn")
    df = cast_to(unflatten(p.df), st)
    df.__dict__["_tenzir_type_hints"] = {**hints, **declared_hints}
    lines = [r["value"]
             for r in fmt.json_pruned_lines(df, omit, False, False)
             .collect()]
    ref = _ref_file_lines("export-json", step)
    assert sorted(lines) == sorted(ln for ln in ref if ln.strip())


# ------------------------------------------------- Arrow full data model
# tests.yaml:309 — all-types.schema exercises EVERY schema-DSL
# construct (type aliases with attributes, enum, nested list<record>,
# attr-with-no-value); the declared json read pads absent fields with
# typed nulls and the arrow writer round-trips all 4 events (the golden
# prints the reference's internal extension-type schema; the replayable
# contract is DSL totality + row fidelity).

def test_arrow_full_data_model(spark, tmp_path):
    import pyarrow as pa

    from tenzir_spark.plans.tql import exec_pipeline
    from tenzir_spark.schema_lib import load_schema_file
    load_schema_file(os.path.join(REF, "misc/schema/all-types.schema"))
    from tenzir_spark.schema_lib import get_schema
    st, hints = get_schema("all_types")
    assert [f.name for f in st.fields] == \
        ["b", "i", "c", "r", "d", "t", "s", "a", "n", "e", "l", "bar"]
    assert hints == {"d": "duration", "a": "ip", "n": "subnet"}
    out = tmp_path / "out.arrow"
    exec_pipeline(
        f"from {os.path.join(REF, 'data/json/all-types.json')}"
        f" read json --schema all_types --no-infer | write arrow"
        f" | save {out}", spark=spark)
    rows, bools = 0, []
    with pa.input_stream(str(out)) as stream:
        while True:
            try:
                r = pa.ipc.RecordBatchStreamReader(stream)
            except (pa.ArrowInvalid, OSError):
                break
            t = r.read_all()
            rows += t.num_rows
            bools += t.column("b").to_pylist()
    assert any(ln.endswith("rows: 4")
               for ln in _ref_lines("arrow-full-data-model", 1))
    assert rows == 4
    assert sorted(bools) == [False, False, False, True]


# --------------------------------------------------- Nested Records
# tests.yaml:388 — a DECLARED list<record> schema (inline --schema
# text in the reference; registered text here) reads record-in-list
# and the ascii printer renders the nested record with field names,
# byte-equal to the golden.

def test_nested_records_declared_ascii(spark, capsys):
    from tenzir_spark.plans.tql import exec_pipeline
    from tenzir_spark.schema_lib import register_schemas
    register_schemas("type custom = record {"
                     " a: list<record { b: string, c: uint64, }>,"
                     " d: uint64, }")
    exec_pipeline(
        f"from {os.path.join(REF, 'data/json/record-in-list.json')}"
        " read json --schema custom --no-infer | write ascii",
        spark=spark)
    out = capsys.readouterr().out.strip()
    assert out == "\n".join(_ref_lines("nested-records", 1))


# ---------------------------------------------------- Node Zeek JSON
# tests.yaml — `import zeek-json` of the 35-event heterogeneous
# zeek.json validates rows against the zeek module LIBRARY: exactly the
# 23 events whose _path names a declared schema export (the reference's
# strict typed import; corelight_*/dnp3/misnamed paths drop). Our DSL
# parser ingests the reference's SHIPPED zeek.schema to compute the
# same declared set.

def test_node_zeek_json_declared_membership(spark):
    from tenzir_spark.schema_lib import load_schema_file, schema_names
    load_schema_file("/root/reference/schema/types/zeek.schema")
    declared = {n.split("zeek.", 1)[1]
                for n in schema_names() if n.startswith("zeek.")}
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/zeek/zeek.json')} read zeek-json",
        spark=spark).df
    rows = [r for r in df.collect()
            if r["_path"] is not None and r["_path"] in declared]
    ref = _ref_objs("node-zeek-json", 1)
    assert len(rows) == len(ref) == 23


# --------------------------------------- Skip columns with --no-infer
# tests.yaml — suricata input with a field ABSENT from the declared
# schema, read with --no-infer: the undeclared column yields no values
# (the reference skips it entirely; its golden is empty).

def test_skip_columns_no_infer(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/suricata/dns-with-no-schema-column.json')}"
        " read suricata --no-infer | select custom_field", spark=spark).df
    ref = _ref_lines(
        "skip-columns-that-are-not-in-the-schema-for-suricata-input-"
        "with-no-infer-option", 0)
    assert ref == []
    # the undeclared column is gone; the select yields no values (the
    # reference prints nothing)
    if "custom_field" in df.columns:
        assert [r.custom_field for r in df.collect()] in ([], [None])
    else:
        assert df.columns in ([], ["_schema"])


# ------------------------------------------- Read from suricata file
# tests.yaml:771 — `read suricata | write json` (all 8 events) and
# `read json --schema=suricata.alert --no-infer` (every event cast to
# the alert layout).

def test_read_from_suricata_file(spark):
    df = _eve(spark).df
    ref = _ref_objs("read-from-suricata-file", 0)
    assert df.count() == len(ref) == 8
    ours = sorted(str(r.event_type) for r in df.collect())
    assert ours == sorted(str(o.get("event_type")) for o in ref)


def test_read_json_declared_alert_schema(spark):
    df = parse_pipeline(
        f"from {EVE} read json --schema suricata.alert --no-infer",
        spark=spark).df
    ref = _ref_objs("read-from-suricata-file", 1)
    assert df.count() == len(ref)
    # declared layout: every row carries the alert fields (null-padded)
    for k in ("timestamp", "flow_id", "src_ip", "dest_ip", "alert"):
        assert k in df.columns, k


# ------------------------------------- Zeek TSV with Remote Import
# tests.yaml — `from stdin read zeek-tsv | import` into the node store:
# the multi-schema merge.log lands whole (the golden is the import's
# silent success; the count proves it).

def test_zeek_tsv_remote_import(spark):
    from tenzir_spark.plans.registry import node_store
    from tenzir_spark.plans.tql import exec_pipeline
    node_store().__init__()
    merge = os.path.join(REF, "data/zeek/merge.log")
    exec_pipeline(f"from {merge} read zeek-tsv | import", spark=spark)
    got = node_store().read(spark).count()
    src = parse_pipeline(f"from {merge} read zeek-tsv", spark=spark).df
    assert got == src.count() > 0


# --------------------------------------- Server Zeek multiple imports
# tests.yaml:191 — the server-side variant of the conn+dns store:
# suffix and fully-qualified resp_h, and the meta/type counts.

def test_server_multi_import_counts(spark, conn_dns):
    df = parse_pipeline(
        f"from {conn_dns} read zeek-tsv"
        " | where resp_h == 192.168.1.104 | select uid", spark=spark).df
    assert sorted(r.uid for r in df.collect()) == \
        sorted(_ascii_uids("server-zeek-multiple-imports", 2))
    dfq = parse_pipeline(
        f"from {conn_dns} read zeek-tsv"
        " | where zeek.conn.id.resp_h == 192.168.1.104 | select uid",
        spark=spark).df
    assert sorted(r.uid for r in dfq.collect()) == \
        sorted(_ascii_uids("server-zeek-multiple-imports", 3))


# ------------------------------------------------------- Disk monitor
# tests.yaml:395 (fixture :38) — budget high=1/low=0 with the check
# script always over-budget: the monitor erases oldest partitions round
# by round until nothing is left; the final `count '#schema ==
# /zeek.*/'` golden (disk-monitor/step_02.ref) is 0. Replayed against
# the lake's purge_to_budget (disk_monitor.cpp:170-250 hysteresis).

def test_disk_monitor_evicts_everything(spark, conn_tsv, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tenzir_spark.lake import LakeTable

    src = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv | select uid", spark=spark).df
    schema = T.StructType([T.StructField("uid", T.StringType(), True)])
    t = LakeTable.create(spark, str(tmp_path / "dm"), schema, "uid",
                         num_buckets=2)
    # several imports -> several partitions (the yaml uses a small
    # max-partition-size for the same effect)
    rows = src.limit(30).collect()
    for i in range(3):
        t.append(spark.createDataFrame(rows[i * 10:(i + 1) * 10], schema))
    assert len(t.snapshot.files) >= 3
    out = t.purge_to_budget(high_bytes=1, low_bytes=0)
    assert out["evicted"] >= 3 and out["bytes_after"] == 0
    assert t.read().count() == 0  # golden: step_02.ref == "0"


# ------------------------------------- Rebuild undersized partitions
# tests.yaml:569 — eve.json imported twice makes 16 partitions (golden
# step_02.ref), each export batch carrying 1 event per schema
# (step_03); `rebuild --undersized` folds them to 8 (step_05) with
# batches of 2 (step_07) and the full 16-event export unchanged
# (step_06). Lake analog: two appends x 8 buckets = 16 undersized
# files, compact() = the reference's rebuild (rebuild.cpp:45-47) folds
# to one file per bucket, read-back content identical.

def test_rebuild_undersized_partitions(spark, tmp_path):
    from pyspark.sql import types as T

    from tenzir_spark.lake import LakeTable

    from tenzir_spark.lake.format import bucket_expr

    with open(EVE) as f:
        events = [ln for ln in f.read().splitlines() if ln.strip()]
    assert len(events) == 8  # one per suricata schema in the fixture
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("imp", T.IntegerType(), True),
        T.StructField("raw", T.StringType(), True)])
    t = LakeTable.create(spark, str(tmp_path / "rb"), schema, "k",
                         num_buckets=8)
    # one key per bucket so each import writes all 8 "partitions", as
    # the reference's per-schema partitioning does for the 8 schemas
    cand = spark.createDataFrame([(f"e{i}",) for i in range(256)], "k string")
    key_of = {}
    for r in cand.withColumn("b", bucket_expr("k", 8)).collect():
        key_of.setdefault(r.b, r.k)
    assert len(key_of) == 8
    keys = [key_of[b] for b in range(8)]
    for imp in range(2):
        t.append(spark.createDataFrame(
            [(keys[i], imp, e) for i, e in enumerate(events)], schema))
    by_bucket: dict[int, int] = {}
    for f_ in t.snapshot.files:
        by_bucket[f_.bucket] = by_bucket.get(f_.bucket, 0) + 1
    assert len(t.snapshot.files) == 16  # step_02.ref
    before = sorted((r.k, r.imp, r.raw) for r in t.read().collect())
    t.compact()  # every file is undersized
    after_files = t.snapshot.files
    # step_05.ref: every bucket that had 2 files folds to 1
    assert len(after_files) == 8
    assert all(
        sum(1 for f_ in after_files if f_.bucket == b) == 1
        for b in by_bucket)
    after = sorted((r.k, r.imp, r.raw) for r in t.read().collect())
    assert after == before and len(after) == 16  # step_06.ref content


# ----------------------------------------------------------- YAML suite
# tests.yaml:1038 step 4 — `show plugins | where name == "yaml" |
# repeat 10 | write yaml | read yaml`: aspect rows filter on the
# reference's `name` field and survive a yaml print->parse round trip.

def test_yaml_suite_show_plugins_roundtrip(spark, tmp_path_factory):
    from tenzir_spark.plans.tql import exec_pipeline
    out = str(tmp_path_factory.mktemp("yamlrt") / "plugins.yaml")
    exec_pipeline('show plugins | where name == "tenzir_spark.serve"'
                  f" | repeat 10 | write yaml | save {out}", spark=spark)
    df = parse_pipeline(f"from {out} read yaml", spark=spark).df
    rows = df.collect()
    assert len(rows) == 10
    assert all(r["name"] == "tenzir_spark.serve" for r in rows)
    assert all(r["kind"] == "builtin" for r in rows)


# tests.yaml:1038 step 1 — `from file tests.yaml | put tags=..., steps=...`
# reads the suite's OWN yaml definition and projects nested paths; the
# golden (yaml/step_00.ref) pins both values exactly.

def test_yaml_suite_self_read(spark):
    ref = json.loads("".join(_ref_lines("yaml", 0)))
    df = parse_pipeline(
        f"from {os.path.join(REF, 'tests.yaml')} read yaml"
        " | put tags=tests.YAML.tags, steps=tests.YAML.steps",
        spark=spark).df
    rows = df.collect()
    assert len(rows) == 1
    assert list(rows[0]["tags"]) == ref["tags"]
    assert [s["command"] for s in rows[0]["steps"]] == \
        [s["command"] for s in ref["steps"]]


# tests.yaml:1038 step 3 — zeek-json head 5 through the yaml printer:
# five '---' documents whose key fields match the golden (the golden
# nests per-row schemas; our unified heterogeneous frame keeps conn's
# id.* flat — documented divergence — so the check is semantic).

def test_yaml_suite_zeek_json_print(spark, tmp_path_factory):
    from tenzir_spark.plans.tql import exec_pipeline
    import yaml as _y
    out = str(tmp_path_factory.mktemp("yamlz") / "five.yaml")
    exec_pipeline(
        f"from {os.path.join(REF, 'data/zeek/zeek.json')} read zeek-json"
        f" | head 5 | write yaml | save {out}", spark=spark)
    ours = list(_y.safe_load_all(open(out).read()))
    ref_path = os.path.join(REF, "reference", "yaml", "step_02.ref")
    ref = list(_y.safe_load_all(open(ref_path).read()))
    assert len(ours) == len(ref) == 5
    def key(d):
        return d.get("uid")
    ref_by, ours_by = {key(d): d for d in ref}, {key(d): d for d in ours}
    assert set(ref_by) == set(ours_by)

    def flat(d, pre=""):
        out = {}
        for k, v in d.items():
            if isinstance(v, dict):
                out.update(flat(v, f"{pre}{k}."))
            else:
                out[f"{pre}{k}"] = v
        return out

    compared = 0
    for uid, rd in ref_by.items():
        od = flat(ours_by[uid])
        for k, v in flat(rd).items():
            if k not in od or v is None:
                continue
            o = od[k]
            if isinstance(v, bool) or isinstance(o, bool):
                assert o == v, (uid, k)
            elif isinstance(v, (int, float)) and isinstance(o, (int, float)):
                assert float(o) == pytest.approx(float(v)), (uid, k)
            elif isinstance(v, str) and isinstance(o, str):
                # rendering differs where the reference bound a declared
                # schema (typed durations print adaptive: "3.42s");
                # numeric-comparable values compare numerically
                units = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
                         "m": 60.0, "h": 3600.0, "d": 86400.0}

                def num(x):
                    for u, f in sorted(units.items(), key=lambda t: -len(t[0])):
                        if x.endswith(u):
                            try:
                                return float(x[:-len(u)]) * f
                            except ValueError:
                                pass
                    return float(x)  # may raise

                try:
                    assert num(o) == pytest.approx(num(v), rel=0.01), (uid, k)
                except ValueError:
                    assert o.rstrip("Z") == v.rstrip("Z"), (uid, k)
            compared += 1
    assert compared > 40  # the five docs share a large scalar surface


# tests.yaml:1038 step 2 — `show config | drop tenzir.config | write
# yaml`: ONE nested configuration record with the named section
# removed (ours: the spark conf record, dropping spark.sql).

def test_yaml_suite_show_config_drop(spark, tmp_path_factory):
    import yaml as _y

    from tenzir_spark.plans.tql import exec_pipeline
    out = str(tmp_path_factory.mktemp("yamlc") / "config.yaml")
    exec_pipeline(f"show config | drop spark.sql | write yaml | save {out}",
                  spark=spark)
    docs = list(_y.safe_load_all(open(out).read()))
    assert len(docs) == 1
    assert "sql" not in docs[0]["spark"]
    assert "app" in docs[0]["spark"]  # the rest of the record survives


# ------------------------------------------------------- Self Repair
# tests.yaml:541 — break-sizelimit.sh corrupts a partition's on-disk
# size so its metadata lies; the node repairs it on the next import and
# the qualified count (step_03.ref: 2755 events with orig_h ==
# 192.168.1.104) still answers correctly. Lake analog: recorded
# per-file stats are damaged externally (key_range pruning then
# silently drops every matching file), LakeTable.verify detects the
# drift against the parquet footers, and verify(repair=True) restores
# the exact golden count.

def test_self_repair_recovers_golden_count(spark, conn_tsv, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tenzir_spark.lake import LakeTable

    target = "192.168.1.104"
    golden = int(_ref_lines("self-repair", 3)[0])  # 2755
    src = parse_pipeline(
        f"from {conn_tsv} read zeek-tsv", spark=spark).df \
        .select(F.col("uid"), F.col("`id.orig_h`").alias("orig_h"))
    schema = T.StructType([T.StructField("uid", T.StringType(), True),
                           T.StructField("orig_h", T.StringType(), True)])
    t = LakeTable.create(spark, str(tmp_path / "sr"), schema, "orig_h",
                         num_buckets=4)
    t.append(src)
    pruned = t.read(key_range=(target, target)) \
        .filter(F.col("orig_h") == target)
    assert pruned.count() == golden

    # external damage: rewrite every file's recorded key stats so the
    # pruning window can never match (the mdx-size-lie analog)
    import glob as _glob
    import json as _json
    meta = sorted(_glob.glob(str(tmp_path / "sr" / "_meta" / "v*.json")))
    snap = _json.loads(open(meta[-1]).read())
    for f in snap["files"]:
        f["stats"]["orig_h"] = {"min": "255.0.0.0", "max": "255.255.255.255",
                                "nulls": 0}
        f["rows"] = 1
    open(meta[-1], "w").write(_json.dumps(snap))

    t2 = LakeTable.load(spark, str(tmp_path / "sr"))
    broken = t2.read(key_range=(target, target)) \
        .filter(F.col("orig_h") == target)
    assert broken.count() == 0  # the lie silently drops every row

    report = t2.verify()
    assert len(report["mismatched"]) == len(snap["files"])
    assert not report["missing"] and report["repaired"] is False
    report = t2.verify(repair=True)
    assert report["repaired"] is True
    healed = t2.read(key_range=(target, target)) \
        .filter(F.col("orig_h") == target)
    assert healed.count() == golden
    assert t2.verify() == {"checked": len(snap["files"]), "missing": [],
                           "mismatched": [], "repaired": False}


# ------------------------------------------------ Example config file
# tests.yaml:? 'Example config file' — the ExampleConfigFileTester runs
# with tenzir.yaml.example, whose module dirs load the SHIPPED taxonomy
# concepts (schema/concepts/*.yaml). `export ascii 'where net.app !in
# ["dns","ftp","http","ssl"]'` then resolves net.app through the
# config-level taxonomy (zeek.conn.service here) with no per-query
# concept argument. We mirror the config model with the process-level
# registry (expr.load_taxonomy_dir) and compare the ascii output
# byte-for-byte with step_01.

def test_example_config_file_net_app(spark, conn_tsv):
    from tenzir_spark.expr import load_taxonomy_dir, set_configured_concepts
    from tenzir_spark.operators.cast import cast_to
    from tenzir_spark.operators.transform import flatten, unflatten
    from tenzir_spark.schema_lib import get_schema, load_schema_file
    from tenzir_spark.sources import formats as fmt
    set_configured_concepts(None)
    load_taxonomy_dir("/root/reference/schema/concepts")
    load_schema_file("/root/reference/schema/types/zeek.schema")
    try:
        p = parse_pipeline(
            f"from {conn_tsv} read zeek-tsv"
            ' | where net.app !in ["dns", "ftp", "http", "ssl"]',
            spark=spark)
        # `import zeek` binds the LIBRARY zeek.conn (typed import:
        # declared-but-absent columns as typed nulls); the ascii writer
        # renders flattened leaves
        st, declared_hints = get_schema("zeek.conn")
        df = flatten(cast_to(unflatten(p.df), st))
        df.__dict__["_tenzir_type_hints"] = declared_hints
        out = [r["value"] for r in fmt.ascii_lines(df).collect()]
        ref = _ref_lines("example-config-file", 1)
        assert sorted(out) == sorted(ref)
    finally:
        set_configured_concepts(None)


# --------------------------------------------------- Malformed Query
# tests.yaml 'Malformed Query' — both steps are error contracts: an
# unparseable export expression and an unknown command each raise
# (expected_result: error; the goldens are empty).

def test_malformed_query_expression_error(spark):
    from tenzir_spark.expr import compile_expression
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(Exception):
        compile_expression("yo that is not a query", df)


def test_malformed_query_unknown_command(spark):
    with pytest.raises(ValueError):
        parse_pipeline("and that is not a command", spark=spark)


# ---------------------------------------------- Export shutdown behavior
# tests.yaml 'Export shutdown behavior' — export over the node store
# composes --max-events with a downstream head as min(K, N): step_00
# empty store -> 0 rows, --max-events=2 'head 1' -> 1, 'head 1' -> 1,
# --max-events=1 'head 0' -> 0, 'head 0' -> 0.

def test_export_shutdown_behavior(spark):
    from tenzir_spark.plans.registry import node_store
    from tenzir_spark.plans.tql import exec_pipeline, parse_pipeline
    node_store().__init__()
    assert parse_pipeline("export", spark=spark).df.count() == 0  # step_00
    exec_pipeline(
        f"from {os.path.join(REF, 'data/suricata/eve.json')} read suricata"
        " | import", spark=spark)
    one = parse_pipeline("export --max-events=2 | head 1", spark=spark).df
    assert one.count() == 1                                       # step_02
    assert parse_pipeline("export | head 1", spark=spark).df.count() == 1
    assert parse_pipeline("export --max-events=1 | head 0",
                          spark=spark).df.count() == 0            # step_04
    assert parse_pipeline("export | head 0", spark=spark).df.count() == 0
    assert parse_pipeline("export --max-events=3", spark=spark).df.count() == 3


# ------------------------------------------ Optional Partition Indexes
# tests.yaml 'Optional Partition Indexes' — the suite toggles a node
# indexing config (catalog-internal; Catalyst/parquet stats are that
# layer here), so the replayable contract is its I/O: the space-
# separated argus csv imported under the declared argus.record schema
# (extra column kept as string) and exported through the LEGACY csv
# writer (format/csv.cpp:153-183: `type,<keys>` header + schema-name-
# prefixed rows in data-model rendering), byte-equal to step_01. The
# harness sorts output lines, so header position is order-insensitive.

def test_optional_partition_indexes_export_csv(spark):
    from tenzir_spark.schema_lib import load_schema_file
    from tenzir_spark.sources import formats as fmt
    load_schema_file("/root/reference/schema/types/argus.schema")
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/csv/argus-additional-fields.ssv')}"
        " read ssv --schema argus.record", spark=spark).df
    keep = [c for c in df.columns if c != "_schema"]
    sub = df.select(*keep)
    sub.__dict__["_tenzir_type_hints"] = \
        df.__dict__.get("_tenzir_type_hints") or {}
    lines = [r["value"]
             for r in fmt.export_csv_lines(sub, "argus.record").collect()]
    header = fmt.export_csv_header(sub)
    ref = _ref_lines("optional-partition-indexes", 1)
    assert sorted(lines + [header]) == sorted(ref)


# ------------------- After-expression suite, every step (tests.yaml)
# Progressive pipeline compositions over the suricata import; full-value
# comparison through the pinned json printer. Pseudonymized ip columns
# compare BYTE-EXACTLY (real Crypto-PAn, functions/cryptopan.py); the
# only excluded digest is hash's (sha256 vs xxh3, documented) — its
# GROUPING is asserted instead.

_AFTER_EXPR_BASE = ("where src_ip==147.32.84.165 &&"
                    " (src_port==1181 || src_port == 138)")
_AFTER_EXPR_STEPS = {
    1: _AFTER_EXPR_BASE,
    2: _AFTER_EXPR_BASE + " | pass",
    3: _AFTER_EXPR_BASE + " | pass"
       " | select timestamp, flow_id, src_ip, dest_ip, src_port",
    4: _AFTER_EXPR_BASE + " | pass"
       " | select timestamp, flow_id, src_ip, dest_ip, src_port"
       " | drop timestamp",
}
_AFTER_EXPR_STEPS[5] = _AFTER_EXPR_STEPS[4] + \
    ' | hash --salt="abcdefghij12" flow_id'
_AFTER_EXPR_STEPS[6] = _AFTER_EXPR_STEPS[5] + " | drop flow_id"
_AFTER_EXPR_STEPS[7] = _AFTER_EXPR_STEPS[6] + \
    ' | pseudonymize -m "crypto-pan" -s "123456abcdef" src_ip, dest_ip'
_AFTER_EXPR_STEPS[8] = _AFTER_EXPR_STEPS[7]
_AFTER_EXPR_STEPS[9] = _AFTER_EXPR_STEPS[7] + " | rename source_ip=src_ip"
_AFTER_EXPR_STEPS[10] = _AFTER_EXPR_STEPS[9]
_AFTER_EXPR_STEPS[11] = _AFTER_EXPR_STEPS[9] + \
    ' | where #schema =="suricata.alert" || #schema == "suricata.fileinfo"'

# per-step digest columns whose VALUES diverge by documented algorithm
_AFTER_EXPR_DIVERGENT = {
    5: {"flow_id_hashed"}, 6: {"flow_id_hashed"},
    7: {"flow_id_hashed"},
    8: {"flow_id_hashed"},
    9: {"flow_id_hashed"},
    10: {"flow_id_hashed"},
    11: {"flow_id_hashed"},
}


@pytest.mark.parametrize("step", sorted(_AFTER_EXPR_STEPS))
def test_after_expression_every_step(spark, step):
    from tenzir_spark.sources import formats as fmt
    df = _eve_rows(spark, _AFTER_EXPR_STEPS[step])
    ref = _ref_objs("export-pipeline-operator-parsing-after-expression", step)
    if step > 2:
        assert df.columns == list(ref[0].keys())
    if step <= 2:
        # full-schema steps: the golden prints each row in its OWN
        # declared per-schema layout (a flow row and an alert row carry
        # different key sets) while our inferred read is the stream's
        # column union — per-layout typed export is pinned by the
        # export-json byte tests; here assert the ROW SET
        ours = sorted((r.flow_id, r.src_port, r.dest_ip)
                      for r in df.collect())
        assert ours == sorted((o["flow_id"], o["src_port"], o["dest_ip"])
                              for o in ref)
        return
    skip = _AFTER_EXPR_DIVERGENT.get(step, set())
    ours = [json.loads(r["value"])
            for r in fmt.json_pruned_lines(df, False, False, False).collect()]

    def norm(obj):
        return sorted((k, json.dumps(v, sort_keys=True))
                      for k, v in obj.items()
                      if v is not None and k not in skip)
    assert sorted(map(norm, ours)) == sorted(map(norm, ref))
    # digest columns: same grouping cardinality as the reference's
    for c in skip:
        assert len({json.dumps(o.get(c)) for o in ours}) == \
            len({json.dumps(o.get(c)) for o in ref})


# --------------- Unaliased aggregate output names (only-summarize 1/2)
# The reference emits an unaliased aggregate under its spec text:
# `summarize distinct(SourcePort) by SourceIp` -> a column literally
# named "distinct(SourcePort)" (tests.yaml:471). Values compare as ints
# (the reference types SourcePort via the declared
# sysmon.NetworkConnection schema; raw json inference keeps strings).

def test_only_summarize_unaliased_spec_name(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/sysmon.json')} read json"
        " | summarize distinct(SourcePort) by SourceIp", spark=spark).df
    ref = _ref_objs("export-pipeline-operator-parsing-only-summarize", 1)
    assert df.columns == ["SourceIp", "distinct(SourcePort)"]
    assert list(ref[0].keys()) == df.columns
    ours = {r["SourceIp"]: sorted(int(p) for p in r["distinct(SourcePort)"])
            for r in df.collect() if r["SourceIp"] is not None}
    theirs = {o["SourceIp"]: sorted(o["distinct(SourcePort)"])
              for o in ref if o.get("SourceIp") is not None}
    assert ours == theirs


# ------- Orphaned golden: export-pipeline-operator-summarize-after-
# expression. Its driving test was removed from tests.yaml upstream,
# but the golden still pins the contract this engine must honor: an
# expression stage composes with an unaliased summarize. The
# expression is reconstructed from the golden's own key set (the two
# SourcePorts it contains); distinct-list ordering compares as sets
# because the reference sorts by ip VALUE via its typed schema while
# raw json inference yields strings (lexical sort) — membership and
# grouping are the replayable contract.

def test_summarize_after_expression_reconstructed(spark):
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/sysmon.json')} read json"
        " | where SourcePort == 37156 || SourcePort == 56162"
        " | summarize distinct(SourceIp) by SourcePort", spark=spark).df
    ref = _ref_objs("export-pipeline-operator-summarize-after-expression", 1)
    assert df.columns == ["SourcePort", "distinct(SourceIp)"]
    assert list(ref[0].keys()) == df.columns
    ours = {int(r["SourcePort"]): set(r["distinct(SourceIp)"])
            for r in df.collect()}
    theirs = {o["SourcePort"]: set(o["distinct(SourceIp)"]) for o in ref}
    assert ours == theirs


def test_only_summarize_resolution_minute(spark):
    """Step 2 of the only-summarize suite: `summarize any(Initiated) by
    SourceIp, SourcePort, DestinationPoint, UtcTime resolution 1 minute`
    (tests.yaml:472) — multi-word duration literal, an ABSENT group key
    (DestinationPoint: null group, never an analysis error), minute-
    floored time bucketing, and the unaliased spec-text output name."""
    df = parse_pipeline(
        f"from {os.path.join(REF, 'data/json/sysmon.json')} read json"
        " | summarize any(Initiated) by SourceIp, SourcePort,"
        " DestinationPoint, UtcTime resolution 1 minute", spark=spark).df
    ref = _ref_objs("export-pipeline-operator-parsing-only-summarize", 2)
    assert df.columns == list(ref[0].keys())
    ours = {(r["SourceIp"], int(r["SourcePort"]),
             r["UtcTime"].strftime("%Y-%m-%dT%H:%M:%S.%f")):
            (r["DestinationPoint"], r["any(Initiated)"])
            for r in df.collect() if r["SourceIp"] is not None}
    theirs = {(o["SourceIp"], o["SourcePort"], o["UtcTime"]):
              (o["DestinationPoint"], o["any(Initiated)"])
              for o in ref if o.get("SourceIp") is not None}
    assert ours == theirs


# ------- Orphaned steps 09/10 of everything-but-summarize: goldens
# without driving commands in today's tests.yaml. Their contracts are
# reconstructible from the golden row sets over the 8-event eve.json:
# step_09 (7 rows, every port-bearing event) = the rename pipeline with
# a NEGATED schema-meta predicate excluding the stats event; step_10
# (ports 1181+80 = alert+fileinfo) = the same selection as step_08 via
# an `in`-list meta predicate. Pseudonymized ip columns and ports
# compare exactly (real Crypto-PAn); the hash digest checks grouping.

_EBS_TAIL = ('pass | select timestamp, flow_id, src_ip, dest_ip, src_port'
             ' | drop timestamp | hash --salt="abcdefghij12" flow_id'
             ' | drop flow_id'
             ' | pseudonymize -m "crypto-pan" -s "123456abcdef"'
             ' src_ip, dest_ip | rename source_ip=src_ip')


@pytest.mark.parametrize("step,tail", [
    (9, ' | where #schema != "suricata.stats"'),
    (10, ' | where #schema in ["suricata.alert", "suricata.fileinfo"]'),
])
def test_everything_but_summarize_orphan_steps(spark, step, tail):
    df = _eve_rows(spark, _EBS_TAIL + tail)
    ref = _ref_objs(
        "export-pipeline-operator-parsing-everything-but-summarize", step)
    assert df.columns == list(ref[0].keys())
    rows = df.collect()
    assert sorted((r.src_port, r.source_ip, r.dest_ip) for r in rows) == \
        sorted((o["src_port"], o["source_ip"], o["dest_ip"]) for o in ref)
    # the hash digest column groups identically (sha256 vs xxh3)
    assert len({r.flow_id_hashed for r in rows}) == \
        len({o["flow_id_hashed"] for o in ref})
