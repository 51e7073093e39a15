"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables; compare row count, column names, and an order-insensitive value
hash (columns sorted by name, floats pre-rounded by the queries
themselves).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def dtype_kinds(pdf) -> dict:
    """Column -> numpy dtype kind ('i' int, 'f' float, 'b' bool, 'O'
    object, 'M' datetime).  The driver's value hash is TYPE-AWARE: a
    value-identical BIGINT-vs-DOUBLE (or DuckDB HUGEINT) column pair
    hash-mismatches, so the local gate must compare dtype kinds too.
    'u' (unsigned) folds into 'i'."""
    out = {}
    for c in pdf.columns:
        k = pdf[c].dtype.kind
        out[c] = "i" if k == "u" else k
    return out


def value_hash(pdf) -> str:
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if str(col.dtype).startswith("datetime"):
            try:
                col = col.dt.tz_localize(None)
            except TypeError:
                pass
            # normalize to ns first: DuckDB .df() returns datetime64[us]
            # while Spark toPandas gives datetime64[ns] — a raw
            # astype(int64)//1e9 would bucket us-resolution columns into
            # 1000-second units and ns ones into seconds
            pdf[c] = col.astype("datetime64[ns]").astype("int64") // 10**9

    def norm(v):
        if isinstance(v, bool):
            return str(v)
        if isinstance(v, (int, float)) or type(v).__module__ == "numpy":
            try:
                f = float(v)
            except (TypeError, ValueError):
                return str(v)
            if f != f:
                return "nan"
            if f == int(f) and abs(f) < 2**53:
                return str(int(f))
            return repr(round(f, 6))
        return str(v)

    rows = sorted(
        tuple(norm(v) for v in row) for row in pdf.itertuples(index=False)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as e
    from medical_ocr_pipeline_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark(app="check_oracle", shuffle_partitions=8)
    qs = e.queries()
    oracles = e.oracle_sql()

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows ({time.time() - t0:.1f}s) [no oracle]")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            continue
        problems = []
        if len(got) != len(want):
            problems.append(f"rows {len(got)} != {len(want)}")
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(want.columns)}")
        else:
            gk, wk = dtype_kinds(got), dtype_kinds(want)
            mism = {c: (gk[c], wk[c]) for c in gk if gk[c] != wk[c]}
            if mism:
                problems.append(f"dtype kinds differ {mism}")
            if value_hash(got) != value_hash(want):
                problems.append("value hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
            if "value hash mismatch" in problems:
                try:
                    merged = got.merge(
                        want, how="outer", indicator=True,
                        on=list(got.columns),
                    )
                    diff = merged[merged["_merge"] != "both"]
                    print(diff.head(6).to_string())
                except Exception as ex:
                    # diff printing is best-effort (dtype-mismatched
                    # columns make pandas merge raise); never let it
                    # abort the remaining checks
                    print(f"  (diff unavailable: {ex})")
        else:
            print(f"OK    {name}: {len(got)} rows ({time.time() - t0:.1f}s)")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
