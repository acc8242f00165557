"""Local differential harness mimicking the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given sf_dir, runs
the matching ``oracle_sql()`` in DuckDB over the same parquet tables,
and compares row count, column names/dtypes, and order-insensitive
values. Queries without an oracle get a rows-only check.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...] [--extra]

``--extra`` adds the queries outside the registry. A named query
that is not in the checked set exits non-zero before any check runs.
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from batchprocessingetl_spark.catalog import TABLES
from batchprocessingetl_spark.session import get_spark


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            dt = df[c]
            if getattr(dt.dtype, "tz", None) is not None:
                dt = dt.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = dt.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns spark={s_cols} oracle={o_cols}")
        return problems
    s, o = canon(spark_pdf), canon(oracle_pdf)
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            problems.append(f"dtype[{c}] spark={s[c].dtype} oracle={o[c].dtype}")
    if problems:
        return problems
    if len(s) == len(o):
        for c in s.columns:
            a, b = s[c], o[c]
            if pd.api.types.is_float_dtype(a):
                eq = np.isclose(a.fillna(np.nan), b.fillna(np.nan), rtol=0, atol=1e-9, equal_nan=True)
            else:
                eq = (a == b) | (a.isna() & b.isna())
            eq = np.asarray(eq)
            if not eq.all():
                bad = int(np.argmax(~eq))
                problems.append(
                    f"values[{c}] {int((~eq).sum())} diffs, first at row {bad}: "
                    f"spark={a.iloc[bad]!r} oracle={b.iloc[bad]!r}"
                )
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--extra"]
    include_extra = "--extra" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as ent

    qs, oracles = ent.queries(), ent.oracle_sql()
    if include_extra:
        # the queries not in workload._REGISTERED (outside the ~50-entry
        # CORRECTNESS registry) still get local differential evidence here
        from batchprocessingetl_spark.workload import (
            collect_extra_oracle,
            collect_extra_queries,
        )

        qs = {**qs, **collect_extra_queries()}
        oracles = {**oracles, **collect_extra_oracle()}
    unknown = sorted(only - set(qs))
    if unknown:
        hint = "" if include_extra else " (non-registered queries need --extra)"
        sys.exit(f"unknown queries: {unknown}{hint}")
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"     - {p}")
        else:
            n_pass += 1
            print(f"PASS {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
