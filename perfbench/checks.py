"""Correctness checks, run off the clock. Each returns a list of failure
messages (empty when the check passes)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stats import state_hash


def _digests(df: DataFrame, cols: list[str]) -> list[int]:
    h = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("h"))
    return h.toArrow().column("h").to_pylist()


def cdc_state(table, log: DataFrame) -> tuple[list[str], int]:
    """Whole-table row count and order-insensitive hash against an
    independent recomputation from the raw log: a window-function
    max-lsn per url, deletes dropped, ``text`` derived by the extraction
    function the engine's contract names. Columns the log never carries
    (added by schema directives) are null. Returns (failures, rows in the
    table)."""
    from tenzir_spark.cdc.extract import extract_text_udf

    fields = table.snapshot.schema.fields
    cols = [f.name for f in fields]
    w = Window.partitionBy("url").orderBy(F.col("lsn").desc())
    last = (log.filter(F.col("op") != "schema")
            .withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("op") != "delete")))
    expected = last.select(*[
        (extract_text_udf(F.col("html")) if f.name == "text"
         else F.col(f.name) if f.name in log.columns
         else F.lit(None)).cast(f.dataType).alias(f.name) for f in fields])
    want = state_hash(_digests(expected, cols))
    got = state_hash(_digests(table.read(), cols))
    if want != got:
        return [f"table state (rows, hash) {got} != recomputed {want}"], got[0]
    return [], got[0]


def cdc_bucket_replay(table, log: DataFrame, bucket: int) -> list[str]:
    """One bucket, every column byte for byte (``text`` included),
    against the pure-Python reference replay of that bucket's changes."""
    from tenzir_spark.cdc.replay import replay
    from tenzir_spark.lake.format import bucket_expr

    nb = table.snapshot.num_buckets
    rows = log.filter((F.col("op") == "schema")
                      | (bucket_expr("url", nb) == F.lit(bucket))).collect()
    want, columns = replay([r.asDict() for r in rows])
    got = {r["url"]: r.asDict() for r in table.read(buckets=[bucket]).collect()}
    if set(want) != set(got):
        return [f"bucket {bucket}: {len(got)} urls, replay has {len(want)}"]
    bad = [u for u in want
           if any(want[u].get(c) != got[u].get(c) for c in columns)]
    if bad:
        return [f"bucket {bucket}: {len(bad)} rows differ from replay, e.g. {bad[0]}"]
    return []


def cdc_ledger(table, epochs) -> list[str]:
    """The ledger holds exactly the published epochs."""
    got = set(table.refresh().snapshot.ledger)
    want = {str(e) for e in epochs}
    if got != want:
        return [f"ledger has {len(got)} epochs, {len(got - want)} unexpected, "
                f"{len(want - got)} missing"]
    return []


def query_oracles(spark, queries: dict, oracles: dict, sf_dir: str,
                  leaves) -> list[str]:
    """Each leaf against its ``oracle_sql()`` on DuckDB, compared the way
    tools/check_oracle.py compares them: row count, sorted column names
    and order-insensitive normalised values."""
    import duckdb
    from check_oracle import TABLES, norm

    failures = []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for leaf in leaves:
            sdf = queries[leaf](spark, sf_dir)
            srows = sdf.collect()
            cols = sorted(sdf.columns)
            ddf = con.sql(oracles[leaf]).df()
            if sorted(ddf.columns) != cols:
                failures.append(f"{leaf}: columns {cols} != {sorted(ddf.columns)}")
                continue
            s = sorted((tuple(norm(r[c]) for c in cols) for r in srows), key=repr)
            d = sorted((tuple(norm(v) for v in row) for row in
                        ddf[cols].itertuples(index=False, name=None)), key=repr)
            if s != d:
                failures.append(f"{leaf}: {len(s)} rows differ from the oracle's {len(d)}")
    finally:
        con.close()
    return failures
