"""Output checks for the benchmark, computed apart from the program.

Registry queries (`star_olap`, `corpus_dedup`): each result of the
checking pass is compared with the query's `SparkEntry.oracleSql` run
in DuckDB over the same parquet, by the rule of `tools/check_oracle.py`
(row count, column names, pandas dtypes, value hash).

`lake_ingest`: every snapshot and time-travel read must equal a DuckDB
per-`event_type` count and exact-decimal sum over the batches it
covers; the fact after all upserts must equal a DuckDB full-outer
merge of the same batches (the `q55` oracle's semantics) and hold each
merge key once; `maintain` must leave exactly `keepLast` manifests;
an upsert must leave every partition it did not touch byte-identical.

Each check returns {operation name: failure message} for the
operations whose output is wrong.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
from check_oracle import TABLES, canon, value_hash  # noqa: E402


def connect(data: Path):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data / (t + '.parquet')}')")
    return con


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """None when equal by the check_oracle rule, else the reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    dg, dw = [str(d) for d in got.dtypes], [str(d) for d in want.dtypes]
    if dg != dw:
        return f"dtypes {dg} != {dw}"
    if value_hash(got) != value_hash(want):
        return "value hash differs"
    return None


def check_registry(data: Path, out: Path, names) -> dict:
    con = connect(data)
    oracles = json.loads((out / "oracle_sql.json").read_text())
    bad = {}
    for name in names:
        path = out / "check" / name
        if not path.is_dir():
            bad[name] = "no output written"
            continue
        try:
            why = compare(pd.read_parquet(path), con.sql(oracles[name]).df())
        except Exception as e:  # a failing oracle is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[name] = why
    return bad


def check_lake(data: Path, lake: dict) -> dict:
    con = connect(data)
    seed, batches = lake["seed"], lake["batches"]
    bad = {}

    def fail(op, why):
        bad.setdefault(op, why)

    for f in lake["facts"]:
        op = f["op"]
        if f["kind"] == "read":
            want = con.sql(
                "SELECT event_type, count(*) AS n, "
                "CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total "
                f"FROM events WHERE (event_id * 7919 + {seed}) % {batches} "
                f"< {f['batches']} GROUP BY 1 ORDER BY 1").fetchall()
            got = [tuple(r) for r in f["rows"]]
            if got != [tuple(r) for r in want]:
                fail(op, f"read of {f['batches']} batches: {got} != {want}")
        elif f["kind"] == "maintain":
            if f["manifests"] != f["keep_last"]:
                fail(op, f"{f['manifests']} manifests kept, "
                         f"keepLast={f['keep_last']}")
        elif f["kind"] == "upsert":
            if f["untouched_changed"]:
                fail(op, f"{f['untouched_changed']} untouched partitions "
                         "changed bytes")
        elif f["kind"] == "fact":
            why = check_fact(con, f)
            if why:
                fail(op, why)
    return bad


def check_fact(con, f) -> str:
    got = (f"read_parquet('{f['path']}/part_year=*/part_month=*/*.parquet', "
           "hive_partitioning = true)")
    n, distinct = con.sql(
        f"SELECT count(*), count(DISTINCT o_orderkey) FROM {got}").fetchone()
    if n != distinct:
        return f"{n - distinct} duplicate merge keys in the fact"
    want = f"""
      WITH base AS (
        SELECT o_orderkey,
          CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_key,
          year(o_orderdate) AS y, month(o_orderdate) AS m,
          o_totalprice, o_orderstatus FROM orders),
      first AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
      inc AS (
        SELECT o_orderkey, date_key,
          o_totalprice + CAST(100.0 AS DOUBLE) AS o_totalprice,
          'RELOADED' AS o_orderstatus
        FROM base WHERE y = {f['year']} AND m BETWEEN 1 AND {f['months']})
      SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        CASE WHEN t.o_orderkey IS NOT NULL THEN t.date_key
             ELSE s.date_key END AS date_key,
        CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
             ELSE t.o_totalprice END AS o_totalprice,
        CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
             ELSE t.o_orderstatus END AS o_orderstatus
      FROM first t FULL OUTER JOIN inc s ON t.o_orderkey = s.o_orderkey"""
    cols = "o_orderkey, date_key, o_totalprice, o_orderstatus"
    diff = con.sql(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL "
        f"SELECT {cols} FROM ({want}))), (SELECT count(*) FROM (SELECT "
        f"{cols} FROM ({want}) EXCEPT ALL SELECT {cols} FROM {got}))"
    ).fetchone()
    if diff != (0, 0):
        return (f"fact differs from the DuckDB merge: {diff[0]} extra, "
                f"{diff[1]} missing rows")
    return None
