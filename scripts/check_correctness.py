"""Local replica of the driver's correctness gate.

For every declared query: run the Spark implementation and the DuckDB
oracle at sf0.01, compare row count, column names, and order-insensitive
values. Exit nonzero on any mismatch.

Usage: python scripts/check_correctness.py [query ...]

With no names, every query runs in sorted order; given names run in the
given order, and an unknown name exits 2 before any query runs. A seeded
shuffled sweep is therefore one command over a shuffled name list.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def duck_connection() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount {len(spark_pdf)} != oracle {len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns {s_cols} != oracle {o_cols}")
        return problems
    if problems:
        return problems
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    # The driver's value hash is dtype-sensitive: DuckDB HUGEINT (from a
    # bare SUM over ints) converts to float64/object while Spark's bigint
    # stays int64, so identical values can still hash apart. Flag any
    # numeric-class divergence as a failure so it never reaches the driver.
    import re as _re

    for c in s.columns:
        sd, od = str(s[c].dtype), str(o[c].dtype)
        if _re.sub(r"\d+", "", sd) != _re.sub(r"\d+", "", od):
            # A NULL on only one side makes pandas widen that side's
            # int64 to float64 even when values are identical; that is a
            # pandas artifact, not an engine divergence. Reconcile
            # int-vs-float pairs by coercing both to float64 — skip the
            # flag only when a null is present AND values then agree.
            classes = {_re.sub(r"\d+", "", sd), _re.sub(r"\d+", "", od)}
            if classes <= {"int", "uint", "float", "Int", "Float"}:
                try:
                    sa, oa = s[c].astype("float64"), o[c].astype("float64")
                    has_null = pd.isna(sa).any() or pd.isna(oa).any()
                    eq = ((sa == oa) | (pd.isna(sa) & pd.isna(oa))).all()
                    if has_null and eq:
                        continue
                except (TypeError, ValueError):
                    pass
            problems.append(f"col {c}: dtype divergence spark={sd} oracle={od}")
    for c in s.columns:
        sv, ov = s[c], o[c]
        if str(sv.dtype).startswith("float") or str(ov.dtype).startswith("float"):
            import numpy as np

            sa = sv.astype(float).to_numpy()
            oa = ov.astype(float).to_numpy()
            both_nan = pd.isna(sa) & pd.isna(oa)
            eq = (sa == oa) | both_nan
            if not eq.all():
                bad = (~eq).sum()
                diffs = abs(sa[~eq & ~pd.isna(sa) & ~pd.isna(oa)] - oa[~eq & ~pd.isna(sa) & ~pd.isna(oa)])
                problems.append(
                    f"col {c}: {bad} value mismatches, max abs diff "
                    f"{diffs.max() if len(diffs) else float('nan')}"
                )
        else:
            eq = (sv == ov) | (pd.isna(sv) & pd.isna(ov))
            if not eq.all():
                idx = (~eq).idxmax()
                problems.append(
                    f"col {c}: {(~eq).sum()} mismatches, first at row {idx}: "
                    f"{sv[idx]!r} != {ov[idx]!r}"
                )
    return problems


def main() -> int:
    from iceberg_catalog_migrator_spark.queries import all_queries
    from iceberg_catalog_migrator_spark.session import get_spark

    queries = all_queries()
    names = sys.argv[1:] or sorted(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="check-correctness")
    con = duck_connection()
    failures = 0
    for name in names:
        qd = queries[name]
        t0 = time.time()
        try:
            spark_pdf = qd.fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        if qd.oracle is None:
            print(f"OK?   {name}: rows={len(spark_pdf)} (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            oracle_pdf = con.sql(qd.oracle).df()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {ex}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      - {p}")
        else:
            print(f"PASS  {name}: rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")
    print(f"\n{failures} failures / {len(names)} queries run")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
