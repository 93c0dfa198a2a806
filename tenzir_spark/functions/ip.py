"""IP / subnet column functions.

The reference has first-class ip/subnet types (Arrow extension types over
fixed(16) bytes; libtenzir/include/tenzir/type.hpp:703-810,
python/pytenzir/utils/arrow.py:14-48). Spark has no ip type, so the
engine's convention is canonical-string columns + these helpers:

- IPv4 ops are pure Column arithmetic (JVM, codegen'd);
- full IPv4+IPv6 ops go through Arrow-batched pandas UDFs on stdlib
  `ipaddress` (no per-row Python API calls from the driver);
- `pseudonymize` is the reference's `pseudonymize` operator
  (pseudonymize.cpp:50): real Crypto-PAn — AES-128-ECB one-time pad,
  seed parsed as hex into 32 bytes exactly like parse_seed_string
  (pseudonymize.cpp:141-152) — byte-identical to the reference's
  outputs and to the public node-cryptopan vectors replayed by
  libtenzir/test/ip.cpp (see functions/cryptopan.py and
  tests/test_cast_ip.py).
"""

from __future__ import annotations

import ipaddress

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --------------------------------------------------------------- ipv4 (JVM)

def ipv4_to_long(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    p = F.split(c, r"\.")
    return (p.getItem(0).cast("long") * 16777216 + p.getItem(1).cast("long") * 65536
            + p.getItem(2).cast("long") * 256 + p.getItem(3).cast("long"))


def long_to_ipv4(col: Column) -> Column:
    return F.concat_ws(
        ".",
        (col / 16777216).cast("long") % 256,
        (col / 65536).cast("long") % 256,
        (col / 256).cast("long") % 256,
        col.cast("long") % 256,
    )


# ------------------------------------------------------- v4+v6 (pandas UDF)

@F.pandas_udf(T.StringType())
def canonicalize_ip_udf(s: pd.Series) -> pd.Series:
    """Canonical textual form for v4+v6 (e.g. collapses v6 zeros)."""
    def one(v):
        if v is None:
            return None
        try:
            return str(ipaddress.ip_address(v))
        except ValueError:
            return None
    return s.map(one)


@F.pandas_udf(T.BinaryType())
def ip_to_bytes16_udf(s: pd.Series) -> pd.Series:
    """16-byte big-endian form, v4-mapped — the reference's storage layout
    (arrow.py:14 fixed(16))."""
    def one(v):
        if v is None:
            return None
        try:
            a = ipaddress.ip_address(v)
        except ValueError:
            return None
        if a.version == 4:
            return bytes(12) + a.packed
        return a.packed
    return s.map(one)


def make_in_subnet_udf(cidr: str):
    """v4+v6 containment as a vectorized UDF (v6 falls outside the JVM
    fast path)."""
    net = ipaddress.ip_network(cidr, strict=False)

    @F.pandas_udf(T.BooleanType())
    def _in(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return False
            try:
                return ipaddress.ip_address(v) in net
            except ValueError:
                return False
        return s.map(one)

    return _in


# ------------------------------------------------- prefix-preserving pseudo

def make_pseudonymize_udf(seed: str):
    """pseudonymize -m crypto-pan -s <seed> <fields> (reference:
    pseudonymize.cpp:50). Real Crypto-PAn: the hex seed expands to 32
    bytes (AES-128 key + pad source) and each Arrow batch is
    pseudonymized with the vectorized AES pad in
    functions/cryptopan.py — byte-identical to the reference. The
    CryptoPan table setup runs once per executor (closure capture),
    not per batch."""
    from tenzir_spark.functions.cryptopan import CryptoPan, parse_seed

    seed_bytes = parse_seed(seed)

    @F.pandas_udf(T.StringType())
    def _pp(s: pd.Series) -> pd.Series:
        cp = make_pseudonymize_udf._cache.get(seed_bytes)
        if cp is None:
            cp = CryptoPan(seed_bytes)
            make_pseudonymize_udf._cache[seed_bytes] = cp
        return pd.Series(cp.pseudonymize_batch(list(s)), index=s.index)

    return _pp


make_pseudonymize_udf._cache = {}


def pseudonymize(df, fields: list[str], seed: str):
    """Apply prefix-preserving pseudonymization to the listed ip columns."""
    udf = make_pseudonymize_udf(seed)
    out = df
    for f in fields:
        out = out.withColumn(f, udf(F.col(f)))
    return out
