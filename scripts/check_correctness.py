#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every queries()
entry at sf0.01 and diff against its oracle_sql() through DuckDB
(row count, column names, order-insensitive values)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    if len(got) != len(want):
        return f"ROWS {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"COLS {sorted(got.columns)} vs {sorted(want.columns)}"
    g, w = normalize(got), normalize(want)
    inexact_col = None
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        # the driver's value-hash is dtype-sensitive: Spark int64 vs oracle
        # float64 (DuckDB HUGEINT->pandas float) hash-mismatches even when
        # every value is equal — treat cross-kind numeric columns as failures
        if (
            np.issubdtype(gv.dtype, np.integer) != np.issubdtype(wv.dtype, np.integer)
            and (np.issubdtype(gv.dtype, np.number) and np.issubdtype(wv.dtype, np.number))
        ):
            return f"DTYPE col={c} {gv.dtype} vs {wv.dtype}"
        if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(wv.dtype, np.floating):
            if not np.allclose(
                gv.astype(float), wv.astype(float), rtol=1e-9, atol=1e-12, equal_nan=True
            ):
                return f"VALUES col={c}"
            gf, wf = gv.astype(float), wv.astype(float)
            if inexact_col is None and not (
                (gf == wf) | (np.isnan(gf) & np.isnan(wf))
            ).all():
                inexact_col = c  # keep checking the REMAINING columns
        else:
            if not (pd.Series(gv).astype(str) == pd.Series(wv).astype(str)).all():
                return f"VALUES col={c}"
    return f"OK~ (float-inexact col={inexact_col})" if inexact_col else "OK"


def main(
    sf_dir: str = "/root/testdata/sf0.01",
    only: list[str] | None = None,
    json_out: str | None = None,
) -> int:
    import __spark_entry__ as E
    from rasteret_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, os_ = E.queries(), E.oracle_sql()
    failures = 0
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"{name:36s} SPARK-ERROR {type(ex).__name__}: {str(ex)[:120]}")
            record[name] = {"verdict": f"SPARK-ERROR {type(ex).__name__}", "rows": None}
            failures += 1
            continue
        dt = time.time() - t0
        if name not in os_:
            print(f"{name:36s} rows-only   rows={len(got):7d}  {dt:6.1f}s")
            record[name] = {"verdict": "rows-only", "rows": len(got)}
            continue
        try:
            want = con.execute(os_[name]).df()
        except Exception as ex:
            print(f"{name:36s} SQL-ERROR   {str(ex)[:140]}")
            record[name] = {"verdict": f"SQL-ERROR: {str(ex)[:120]}", "rows": len(got)}
            failures += 1
            continue
        verdict = compare(got, want)
        tag = "ok" if verdict.startswith("OK") else "MISMATCH"
        if tag == "MISMATCH":
            failures += 1
        record[name] = {"verdict": verdict, "rows": len(got)}
        print(f"{name:36s} {verdict:22s} rows={len(got):7d}  {dt:6.1f}s")
    spark.stop()
    print("FAILURES:", failures)
    if json_out:
        import datetime as _dt
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "generated": _dt.datetime.now(_dt.timezone.utc).isoformat(),
                    "failures": failures,
                    "queries": record,
                },
                f, indent=1,
            )
            f.write("\n")
    return 1 if failures else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 == len(args):
            print("usage: check_correctness.py [QUERY ...] [--json FILE]", file=sys.stderr)
            sys.exit(2)
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sys.exit(main(only=args or None, json_out=json_out))
