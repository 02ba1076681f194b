"""Local replica of the driver's correctness harness.

Runs every ``queries()`` entry on Spark at sf0.01 and, where an
``oracle_sql()`` entry exists, the same query in DuckDB; compares row
count, column names, and values (columns sorted by name, rows sorted,
exact equality — floats compared bitwise after normalizing NaN).

Usage: python tools/check_oracle.py [query ...]
Env:   GREATEX_ORACLE_SF_DIR (default /root/testdata/sf0.01) — run at a
       second scale factor (e.g. sf0.1) to catch partition-count-
       dependent nondeterminism the single-partition fixtures hide;
       GREATEX_ORACLE_JSON — also write per-query results to this path.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from greatex_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("GREATEX_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    """Dtype-strict: an int on one side and a float on the other is a
    mismatch even when numerically equal (the driver's value hash
    stringifies per dtype — ``0`` vs ``0.0`` hash-differ; DuckDB HUGEINT
    sums landing as float64 caused exactly this in round 1)."""
    a_float = isinstance(a, (float, np.floating))
    b_float = isinstance(b, (float, np.floating))
    a_int = isinstance(a, (int, np.integer)) and not isinstance(a, bool)
    b_int = isinstance(b, (int, np.integer)) and not isinstance(b, bool)
    if (a_float and b_int) or (a_int and b_float):
        return False
    if a_float or b_float:
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    s, d = norm(spark_df), norm(duck_df)
    for c in s.columns:
        ks, kd = s[c].dtype.kind, d[c].dtype.kind
        if ks != kd and {ks, kd} <= {"i", "u", "f"} and "f" in {ks, kd}:
            problems.append(
                f"dtype mismatch col={c}: spark={s[c].dtype} duck={d[c].dtype}"
            )
    if problems:
        return problems
    n_bad = 0
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c], d[c])):
            if not values_equal(x, y):
                n_bad += 1
                if n_bad <= 3:
                    problems.append(f"value mismatch col={c} row={i}: spark={x!r} duck={y!r}")
    if n_bad > 3:
        problems.append(f"... {n_bad} total value mismatches")
    return problems


def main() -> int:
    only = set(sys.argv[1:])
    # The oracle-SQL builders in __spark_entry__ (bronze fixture path,
    # DSIR LM literals) size themselves from SPARK_GRAFT_ORACLE_SF_DIR
    # when oracle_sql() runs.  Propagate this harness's scale factor
    # first, or a second-scale run silently compares a Spark query at
    # sf0.1 against a DuckDB twin built for sf0.01.  Setting it here,
    # not at import, keeps ``compare`` importable without side effects.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark raised {type(ex).__name__}: {ex}")
            report[name] = {"match": False, "err": f"spark {type(ex).__name__}: {ex}"}
            failures += 1
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(sdf)} rows)")
            report[name] = {"match": True, "rows": len(sdf), "rows_only": True}
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb raised {type(ex).__name__}: {ex}")
            report[name] = {"match": False, "err": f"duckdb {type(ex).__name__}: {ex}"}
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL  {name}:")
            for p in problems:
                print(f"      {p}")
            report[name] = {"match": False, "rows": len(sdf), "problems": problems}
        else:
            print(f"OK    {name}: {len(sdf)} rows match")
            report[name] = {"match": True, "rows": len(sdf)}
    print(f"\n{failures} failures")
    json_path = os.environ.get("GREATEX_ORACLE_JSON")
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(
                {"sf_dir": SF_DIR, "failures": failures, "queries": report},
                f, indent=2,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
