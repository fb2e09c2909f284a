"""Output checks over a committed sink, read with DuckDB straight from
the parquet files (no Spark job, so the checks cannot share a cache or
a bug with the run they check).

Sink layout written by ``plans.checkpoint.run_resumable``:
``{sink}/run_id=<id>/subj_bucket=<b>/*.parquet`` for the triples and
``{sink}_processed/*.parquet`` (url, run_id) for the manifest.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import pandas as pd


def _triples(sink: str) -> str:
    return (f"read_parquet('{sink}/run_id=*/*/*.parquet', "
            f"hive_partitioning = true, union_by_name = true)")


def sink_problems(sink: str, input_urls: set[str], commits: dict[str, int]) -> list[str]:
    """Checks every workload runs on each sink: the manifest lists each
    input url exactly once, each run_id holds exactly the triples its
    call reported, and no (subj, pred, obj, url) row sits under two
    run_ids. ``commits`` maps run_id -> n_new_triples."""
    problems = []
    con = duckdb.connect()
    try:
        man = con.sql(f"SELECT url, count(*) AS n FROM read_parquet('{sink}_processed/*.parquet') "
                      f"GROUP BY url").df()
        if int((man["n"] != 1).sum()):
            problems.append(f"manifest lists {int((man['n'] != 1).sum())} urls more than once")
        listed = set(man["url"])
        if listed != input_urls:
            problems.append(f"manifest/input mismatch: {len(input_urls - listed)} input urls "
                            f"missing, {len(listed - input_urls)} extra")
        if not glob.glob(f"{sink}/run_id=*/*/*.parquet"):
            got = {}
        else:
            got = dict(con.sql(f"SELECT run_id, count(*) FROM {_triples(sink)} "
                               f"GROUP BY run_id").fetchall())
        want = {k: v for k, v in commits.items() if v}
        if got != want:
            problems.append(f"per-run_id triple counts {sorted(got.items())} != "
                            f"reported {sorted(want.items())}")
        if got:
            dup = con.sql(f"SELECT count(*) FROM (SELECT subj, pred, obj, url "
                          f"FROM {_triples(sink)} GROUP BY ALL "
                          f"HAVING count(DISTINCT run_id) > 1)").fetchone()[0]
            if dup:
                problems.append(f"{dup} triples committed under two run_ids")
    finally:
        con.close()
    return problems


def canon_hash(pdf: pd.DataFrame) -> tuple[int, str, str]:
    """(rows, dtype kinds, content hash) of a frame canonicalized the
    way the oracle gate does it: lower-case columns sorted by name,
    rows sorted by every column, values hashed raw."""
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    cols = sorted(pdf.columns)
    pdf = pdf[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    kinds = "".join(pdf[c].dtype.kind for c in cols)
    digest = hashlib.sha256(pd.util.hash_pandas_object(pdf, index=False).values.tobytes())
    return len(pdf), ",".join(cols) + ":" + kinds, digest.hexdigest()


def oracle_problems(spark, sink: str, run_id: str, documents: str, oracle_sql: str) -> list[str]:
    """Hash-compare one committed batch (``run_id``) against the DuckDB
    oracle of the same query over the batch's documents table. The
    Spark side applies the projection the ``kg_triples`` query applies
    (warc_ts as epoch seconds, prob rounded to 6 places)."""
    from pyspark.sql import functions as F

    got = (spark.read.parquet(os.path.join(sink, f"run_id={run_id}"))
           .select("subj", "pred", "obj", "url",
                   F.col("warc_ts").cast("long").alias("warc_ts"),
                   F.round(F.col("prob").cast("double"), 6).alias("prob"))
           .toPandas())
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents}'")
        want = con.sql(oracle_sql).df()
    finally:
        con.close()
    a, b = canon_hash(got), canon_hash(want)
    if a != b:
        return [f"oracle mismatch: spark rows={a[0]} schema={a[1]} vs "
                f"duckdb rows={b[0]} schema={b[1]}"]
    return []


def increment_problems(sink: str, run_id: str, documents: str, oracle_sql: str) -> list[str]:
    """The (subj, pred, obj, url) set committed under ``run_id`` must
    equal the oracle's over the increment's documents file: a commit
    that marks urls processed but writes fewer (or other) triples than
    their documents yield loses data for good, and the shared checks
    cannot see it when the call itself reported the short count."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents}'")
        con.execute(f"CREATE TEMP TABLE want AS SELECT DISTINCT subj, pred, obj, url "
                    f"FROM ({oracle_sql})")
        files = glob.glob(f"{sink}/run_id={run_id}/*/*.parquet")
        got = (f"(SELECT DISTINCT subj, pred, obj, url FROM read_parquet({files!r}))"
               if files else "(SELECT * FROM want WHERE false)")
        missing = con.sql(f"SELECT count(*) FROM (SELECT * FROM want EXCEPT SELECT * FROM {got})").fetchone()[0]
        extra = con.sql(f"SELECT count(*) FROM (SELECT * FROM {got} EXCEPT SELECT * FROM want)").fetchone()[0]
        n_want = con.sql("SELECT count(*) FROM want").fetchone()[0]
    finally:
        con.close()
    if missing or extra:
        return [f"run_id {run_id}: {missing} of {n_want} oracle triples missing, {extra} extra"]
    return []
