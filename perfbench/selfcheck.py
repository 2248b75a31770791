"""Fast self-check of the benchmark.

Runs one timed pass of every workload at sf 0.001 and requires every
output check to pass, then shows the checks can fail: a perturbed
copy of one registry result and perturbed lake facts (a read's count,
the retained-manifest count, a fact row) must each be flagged.

Usage: python3 perfbench/selfcheck.py     (exit 0 when all hold)
"""
import copy
import shutil
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))
import check  # noqa: E402
import run  # noqa: E402

SEED = 7


def perturb_registry(work: Path, name: str) -> dict:
    """Copy `name`'s checked result, change one value, re-check it."""
    out, bad = work / "out", work / "perturbed"
    shutil.copytree(out / "check" / name, bad / "check" / name)
    shutil.copy(out / "oracle_sql.json", bad / "oracle_sql.json")
    part = sorted((bad / "check" / name).glob("*.parquet"))[0]
    df = pd.read_parquet(part)
    col = df.columns[-1]
    if pd.api.types.is_numeric_dtype(df[col]):
        df.loc[0, col] = df[col].iloc[0] + 1
    else:
        df.loc[0, col] = str(df[col].iloc[0]) + "x"
    df.to_parquet(part, index=False)
    return check.check_registry(work / "data", bad, [name])


def perturb_lake(work: Path, lake: dict) -> list:
    """Each perturbation must make check_lake flag its operation."""
    flagged = []
    for kind, field in (("read", "rows"), ("maintain", "manifests")):
        facts = copy.deepcopy(lake)
        f = next(x for x in facts["facts"] if x["kind"] == kind)
        if kind == "read":
            f["rows"][0][1] += 1
        else:
            f["manifests"] += 1
        flagged.append((kind, f["op"] in check.check_lake(work / "data",
                                                          facts)))
    fact = next(x for x in lake["facts"] if x["kind"] == "fact")
    victim = sorted(Path(fact["path"]).glob("part_year=*/part_month=*/"
                                            "*.parquet"))[0]
    tmp = victim.with_name("perturbed.tmp")
    duckdb.connect().sql(
        f"COPY (SELECT * REPLACE (o_totalprice + 1 AS o_totalprice) FROM "
        f"read_parquet('{victim}')) TO '{tmp}' (FORMAT parquet)")
    tmp.replace(victim)
    flagged.append(("fact", fact["op"] in check.check_lake(work / "data",
                                                           lake)))
    return flagged


def main() -> int:
    ok = True
    for workload, spec in run.WORKLOADS.items():
        seen = {}

        def keep(work, result):
            seen["work"], seen["result"] = work, result
        try:
            summary = run.run(workload, SEED, 0, False, sf=0.001,
                              warmups=0, min_ops=1, keep=keep)
            work = seen["work"]
            good = summary["correct"] and summary["failed"] == 0
            print(f"selfcheck {workload}: {summary['attempted']} operations, "
                  f"failed {summary['failed']}, correct {summary['correct']}")
            if spec["ops"]:
                name = spec["ops"][0]
                caught = [(name, name in perturb_registry(work, name))]
            else:
                caught = perturb_lake(work, seen["result"]["lake"])
            for what, hit in caught:
                print(f"selfcheck {workload}: perturbed {what} "
                      f"{'flagged' if hit else 'NOT flagged'}")
            ok = ok and good and all(hit for _, hit in caught)
        finally:
            if "work" in seen:
                shutil.rmtree(seen["work"], ignore_errors=True)
    print("selfcheck", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
