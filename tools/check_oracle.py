#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify
output against DuckDB oracles and compare (rows, schema, dtypes, value
hash).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Each oracle executes in DuckDB exactly once, before its Spark output is
read, and gets exactly one verdict line on stdout, first match wins:

  DUCKERR  <name>: the oracle fails to parse, bind or execute in DuckDB
  TYPELINT <name>: an output column types in the HUGEINT family
  MISSING  <name>: no Spark output directory
  ERROR    <name>: the Spark output cannot be read
  PASS     <name> (<rows> rows)
  FAIL     <name>: rows, columns, dtypes or value hash differ
           (indented detail lines may follow)

The exit code is 1 when any oracle is not PASS. graft.OracleContractSpec
asserts on these lines and on the exit code.

Hardened after round 13: the old value_hash used DataFrame.iterrows(),
which upcasts each row to a common dtype before repr() — an int64
Spark column and a HUGEINT-derived object/float64 DuckDB column hashed
identically, so local PASS coexisted with a driver FAIL (q212, rounds
12-13). This version:
  * compares pandas dtypes column-by-column and fails on mismatch;
  * hashes per-column numpy arrays (no cross-column coercion);
  * lints every oracle's DuckDB output types for the HUGEINT family
    (the one group pandas cannot materialize with a Spark-matching
    dtype), so a HUGEINT sneaking into an oracle is a named error.
"""
import sys, os, json, hashlib
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# DuckDB output types that pandas CANNOT materialize as a fixed-width
# dtype matching any Spark parquet output: HUGEINT lands as
# object/float64 while Spark emits int64, so the driver's
# dtype-sensitive hash fails even when values are numerically
# identical (the q212 rounds-12/13 failure). INTEGER/DECIMAL are fine:
# they map to int32/float64, which match Spark's int/double outputs —
# 52 registry oracles use them and are driver-green.
FORBIDDEN_DUCK_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT"}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize datetimes to naive UTC for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
    return df


def value_hash(df: pd.DataFrame) -> str:
    """Row-major hash over per-column numpy arrays — each value keeps
    its column's dtype (no iterrows() row-Series upcast)."""
    h = hashlib.sha256()
    cols = [df[c].to_numpy() for c in df.columns]
    for i in range(len(df)):
        for a in cols:
            v = a[i]
            if isinstance(v, (float, np.floating)):
                h.update(repr(float(v)).encode())
            elif isinstance(v, (int, np.integer)):
                h.update(repr(int(v)).encode())
            elif isinstance(v, (np.ndarray, list)):
                h.update(repr(list(v)).encode())
            else:
                h.update(repr(v).encode())
        h.update(b"\x00")
    return h.hexdigest()


def lint_types(rel) -> list:
    """(column, duck_type) for each output column outside the allowlist."""
    return [(c, str(t)) for c, t in zip(rel.columns, rel.types)
            if str(t).split("(")[0].strip() in FORBIDDEN_DUCK_TYPES]


def run_duck(con, sql):
    """Execute one oracle: (frame, bad types, None) or (None, None, error)."""
    try:
        rel = con.sql(sql)
        return canon(rel.df()), lint_types(rel), None
    except Exception as e:
        return None, None, str(e).split("\n")[0]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_lint = 0
    for name, sql in sorted(oracles.items()):
        want, bad_types, duck_error = run_duck(con, sql)
        if duck_error is not None:
            print(f"DUCKERR  {name}: {duck_error}")
            n_fail += 1
            continue
        if bad_types:
            print(f"TYPELINT {name}: oracle output types {bad_types} "
                  f"(HUGEINT-family lands as pandas object/float64 vs "
                  f"Spark int64 and breaks the driver's value hash)")
            n_lint += 1
            continue
        spark_path = f"{out_dir}/{name}"
        if not os.path.isdir(spark_path):
            print(f"MISSING  {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = canon(pd.read_parquet(spark_path))
        except Exception as e:
            print(f"ERROR    {name}: {e}")
            n_fail += 1
            continue
        ok_rows = len(got) == len(want)
        ok_cols = list(got.columns) == list(want.columns)
        dt_got = [str(d) for d in got.dtypes]
        dt_want = [str(d) for d in want.dtypes]
        ok_dtypes = ok_cols and dt_got == dt_want
        ok_hash = (ok_rows and ok_cols and ok_dtypes
                   and value_hash(got) == value_hash(want))
        if ok_hash:
            print(f"PASS     {name} ({len(got)} rows)")
            n_pass += 1
        else:
            print(f"FAIL     {name}: rows {len(got)}/{len(want)} "
                  f"cols_ok={ok_cols} dtypes_ok={ok_dtypes}")
            if ok_cols and not ok_dtypes:
                for c, a, b in zip(got.columns, dt_got, dt_want):
                    if a != b:
                        print(f"  dtype {c}: spark={a} duck={b}")
            elif ok_cols and ok_rows:
                try:
                    merged = got.compare(want) \
                        if got.shape == want.shape else None
                    if merged is not None and not merged.empty:
                        print(merged.head(5))
                except Exception:
                    pass
            else:
                print(f"  spark cols: {list(got.columns)}")
                print(f"  duck  cols: {list(want.columns)}")
            n_fail += 1
    # lints are hard failures (they gate the exit code), not warnings
    print(f"\n{n_pass} pass, {n_fail} fail, {n_lint} type-lint errors")
    sys.exit(1 if (n_fail or n_lint) else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
