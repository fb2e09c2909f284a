"""Local stand-in for the driver's correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB over the
same sf dir, then compare THE WAY THE DRIVER DOES — both sides to
pandas, columns sorted by name, rows sorted by all columns, values
hashed raw. Strictness notes (r01 postmortem):

  * dtype KIND must match (DuckDB HUGEINT -> float64 silently differs
    from Spark BIGINT -> int64 even when numerically equal);
  * float values must be bit-identical (no rounding here) — queries
    must round/cast identically on both sides;
  * array columns crash pandas sort_values, exactly like the driver
    (multimodal r01) — that crash is a FAIL here, not an exception.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from qizner_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    return pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)


def compare_frames(s: pd.DataFrame, d: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(c.lower() for c in s.columns) != sorted(c.lower() for c in d.columns):
        return [f"cols spark={sorted(s.columns)} duck={sorted(d.columns)}"]
    if len(s) != len(d):
        problems.append(f"rowcount spark={len(s)} duck={len(d)}")
    try:
        sc, dc = canon_frame(s), canon_frame(d)
    except TypeError as e:  # unhashable list column — same crash as the driver
        return [f"canonicalize crash (driver would error): {e}"]
    for c in sc.columns:
        sk, dk = sc[c].dtype.kind, dc[c].dtype.kind
        if sk != dk:
            problems.append(f"dtype kind mismatch col={c} spark={sc[c].dtype} duck={dc[c].dtype}")
    if problems:
        return problems
    for c in sc.columns:
        a, b = sc[c].to_numpy(), dc[c].to_numpy()
        if a.dtype.kind == "f" and b.dtype.kind == "f":
            eq = (a == b) | (np.isnan(a.astype("float64")) & np.isnan(b.astype("float64")))
        else:
            eq = np.array([x == y for x, y in zip(a, b)])
        if not bool(eq.all()):
            bad = int(np.argmin(eq))
            problems.append(
                f"values differ col={c}: {int((~eq).sum())} cells, "
                f"e.g. row {bad}: spark={a[bad]!r} duck={b[bad]!r}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.ui.enabled": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            df = fn(spark, sf_dir)
            spark_pdf = df.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if sql is None:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows, cols={list(spark_pdf.columns)})")
            continue
        try:
            duck_pdf = con.sql(sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        problems = compare_frames(spark_pdf, duck_pdf)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows match oracle (dtype-strict)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
