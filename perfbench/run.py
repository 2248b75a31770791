"""Benchmark of the graft engine: one workload per call, one JVM.

    python3 perfbench/run.py --workload star_olap --seed 1 --seconds 20 \
        --trace 0

Builds the program and the harness from source (`build.py`), makes the
inputs from the seed (`gen.py`), runs the workload at local[N] with
N = min(4, cpus) as a closed loop with one client, checks every output
against DuckDB (`check.py`) and prints, as the last line, one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`). See README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
if not (HERE.parent / "src" / "main" / "scala").is_dir():
    raise SystemExit("perfbench: no program sources next to perfbench/")
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# Scale of the generated corpus (lineitem rows = 6M * SF).
SF = 0.01

STAR_OLAP = [
    # star pricing, revenue and top-N
    "q01_pricing_summary", "q02_revenue_by_nation", "q05_top_customers",
    # events roll-up with outliers
    "q07_monthly_outliers",
    # quality: completeness report
    "q13_completeness",
    # cube and pivot
    "q159_cube", "q50_pivot",
    # agro-climatic: growing degree days, dry spells, last spring frost
    "q266_gdd", "q267_dry_spells", "q294_last_frost",
]

CORPUS_DEDUP = [
    "q08_exact_dedup", "q20_minhash_lsh", "q21_simhash",
    "q23_cosine_topk", "q46_ivf_topk", "q103_semantic_dedup",
    "q105_bpe_pairs", "q108_lm_perplexity", "q68_decontaminate",
    "q165_seeded_pagerank",
]

# ops: the fixed operation list (None: the harness's lake pass);
# warmups: untimed passes after the checking pass.
WORKLOADS = {
    "star_olap": dict(ops=STAR_OLAP, warmups=2),
    "lake_ingest": dict(ops=None, warmups=2),
    "corpus_dedup": dict(ops=CORPUS_DEDUP, warmups=1),
}
# Operations a run times at least, and the percentile op_tail_s
# reports: the highest with at least 10 samples beyond it at MIN_OPS.
MIN_OPS = 40
TAIL = 0.75

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
              "op_tail_s": "s", "peak_rss_mb": "MB"}
# per-layer metric -> unit; totals per timed pass of the traced run
PER_LAYER = {
    "operators.build_s": "s", "operators.build_jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s", "plans.final_plan_s": "s",
    "executor.execute_s": "s", "executor.run_s": "s",
    "executor.cpu_s": "s", "executor.gc_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.stage_busy_s": "s",
    "scheduler.idle_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "tables.input_rows": "count", "tables.input_bytes": "bytes",
    "warehouse.commit_s": "s", "warehouse.maintain_s": "s",
    "warehouse.upsert_s": "s", "warehouse.read_s": "s",
    "warehouse.bytes_written": "bytes", "warehouse.files_written": "count",
    "warehouse.bytes_per_input_byte": "ratio",
}
JVM_TIMEOUT_S = 160


def jvm_command(classpath, args, tmp: Path):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect",
             "java.io", "java.net", "java.nio", "java.util",
             "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action",
             "sun.util.calendar"]
    cmd = [build.java()]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [
        # the serial collector sizes the heap from what is live, so
        # VmHWM follows the program (see README.md)
        "-XX:+UseSerialGC", "-Xms64m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", ":".join(classpath), "graftbench.PerfBench"] + args


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def run(workload, seed, seconds, trace, sf=SF, warmups=None, min_ops=None,
        keep=None):
    """Run one workload and return its summary. `keep(work, result)`, when
    given, sees the work directory before the checks and then owns it."""
    spec = WORKLOADS[workload]
    classpath = build.build()
    work = build.OUT / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data, out, tmp = work / "data", work / "out", work / "tmp"
    tmp.mkdir(parents=True)
    try:
        gen.generate(str(data), seed, sf)
        cores = min(4, os.cpu_count() or 1)
        args = ["--workload", workload, "--data", str(data),
                "--out", str(out), "--seconds", str(seconds),
                "--warmups", str(spec["warmups"] if warmups is None
                                 else warmups),
                "--min-ops", str(MIN_OPS if min_ops is None else min_ops),
                "--seed", str(seed), "--trace", "1" if trace else "0",
                "--cores", str(cores),
                "--ops", ",".join(shuffled(spec["ops"], seed))
                if spec["ops"] else "-"]
        log = work / "jvm.log"
        with open(log, "w") as fh:
            try:
                proc = subprocess.run(jvm_command(classpath, args, tmp),
                                      stdout=fh, stderr=subprocess.STDOUT,
                                      timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.stderr.write(log.read_text()[-4000:])
                raise SystemExit("perfbench: JVM timed out")
        result_file = out / "result.json"
        if proc.returncode != 0 or not result_file.exists():
            sys.stderr.write(log.read_text()[-4000:])
            raise SystemExit(f"perfbench: JVM exit {proc.returncode}")
        result = json.loads(result_file.read_text())
        if keep is not None:
            keep(work, result)
        return summarize(workload, spec, result, data, out, trace)
    finally:
        if keep is None:
            keep_trace(work, workload, seed, trace)
            shutil.rmtree(work, ignore_errors=True)


def shuffled(ops, seed):
    ops = list(ops)
    random.Random(seed).shuffle(ops)
    return ops


def keep_trace(work, workload, seed, trace):
    spans = work / "out" / "spans.json"
    if trace and spans.exists():
        dest = build.OUT / "trace"
        dest.mkdir(parents=True, exist_ok=True)
        shutil.copy(spans, dest / f"{workload}-seed{seed}.json")


def output_failures(spec, result, data, out):
    if spec["ops"]:
        ok = [n for n in spec["ops"] if n not in result["failed_ops"]]
        return check.check_registry(data, out, ok)
    return check.check_lake(data, result["lake"])


def summarize(workload, spec, result, data, out, trace):
    wrong = output_failures(spec, result, data, out)
    for name, why in list(result["failed_ops"].items()) + list(wrong.items()):
        print(f"perfbench: {workload} {name} failed: {why}", file=sys.stderr)
    failing = set(result["failed_ops"]) | set(wrong)
    ops = result["ops"]
    latencies = [o["s"] for o in ops]
    summary = {"correct": not wrong, "attempted": len(ops),
               "failed": sum(1 for o in ops if o["name"] in failing)}
    if trace:
        layers = result["layers"]
        rows, scanned = layers["tables.input_rows"], layers["tables.input_bytes"]
        # a parquet row of these tables takes several bytes on disk
        if rows and scanned < rows:
            raise SystemExit(f"perfbench: {scanned:.0f} bytes scanned for "
                             f"{rows:.0f} input rows is not plausible")
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        print(f"perfbench: traced {workload} wall_s "
              f"{statistics.median(result['pass_s']):.4f}", file=sys.stderr)
    else:
        values = {
            "setup_s": result["setup_s"],
            "wall_s": statistics.median(result["pass_s"]),
            "op_p50_s": statistics.median(latencies),
            "op_tail_s": percentile(latencies, TAIL),
            "peak_rss_mb": result["peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    print(f"perfbench: {workload} set-ups "
          f"{[round(x, 2) for x in result['setups_s']]} s, "
          f"check pass {result['check_pass_s']:.2f} s, "
          f"warm-up passes {[round(x, 2) for x in result['warmup_pass_s']]} s,"
          f" timed passes {[round(x, 2) for x in result['pass_s']]} s",
          file=sys.stderr)
    summary["metrics"] = metrics
    return summary


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace == 1)))


if __name__ == "__main__":
    main()
