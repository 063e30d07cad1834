#!/usr/bin/env python3
"""Repository benchmark: times the program's public entry points from a
harness next to it, checks their outputs, and prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0

Workloads:
  pipeline        the reference workflow: PipelineRunner.run for the five
                  source tables on day 1, then again on day 2 with a seeded
                  change set, into a fresh catalog
  operator_suite  14 extension queries, one per operator object
  star_queries    the 50 relational ParityQueries (not in BENCHMARK.json:
                  a run costs more than the benchmark's time budget holds)

Each run starts a new JVM with one Spark session; its timed window runs
whole passes until --seconds is spent, at least one. --trace 0 prints the
end-to-end metrics; --trace 1 runs one traced pass and prints the
per-layer metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.

Other options: --data DIR (parquet tables; default perfbench/data/sf0.01),
--limit N (first N tables or queries: smoke runs), --keep-result PATH
(copy the harness's raw record there).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("pipeline", "operator_suite", "star_queries")
HEAP = "3g"
TIME_LIMIT_S = 170  # per run, after the build
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def dir_bytes(p):
    return sum(f.stat().st_size for f in Path(p).rglob("*") if f.is_file())


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests so far (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def commit():
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=str(HERE / "data" / "sf0.01"))
    ap.add_argument("--limit", type=int, default=0)
    ap.add_argument("--keep-result")
    return ap.parse_args(argv)


def run_jvm(args, classes, work, inputs_dir, cores, deadline):
    plan = {"workload": args.workload, "data": os.path.abspath(args.data),
            "inputs": str(inputs_dir or ""), "work": str(work), "seconds": args.seconds, "trace": args.trace, "cores": cores,
            "limit": args.limit}
    (work / "plan.properties").write_text(
        "".join(f"{k}={v}\n" for k, v in plan.items()).replace("\\", "\\\\"))
    cmd = (["java", "-XX:-UsePerfData"] + JVM_OPENS
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
              "perfbench.Harness", str(work / "plan.properties"), str(work / "result.json")])
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                              timeout=max(10, deadline - time.time()),
                              env={**os.environ, "SPARK_LOCAL_DIRS": str(work / "spark-local")})
    if proc.returncode != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        raise RuntimeError("harness failed:\n" + "\n".join(tail))
    return json.loads((work / "result.json").read_text())


def check_outputs(args, result):
    """Wrong outputs: {"passes": {pass: reason}} for the pipeline,
    {"queries": {query: reason}} for the query workloads."""
    if args.workload == "pipeline":
        want = checks.pipeline_expectations(args.data, result["tables"])
        errs = {p["pass"]: checks.check_pipeline(p["checks"], want) for p in result["passes"]}
        return {"passes": {p: "; ".join(e) for p, e in errs.items() if e}}
    threw = sorted({s["tags"]["query"] for s in metrics.op_spans(result) if "error" in s["tags"]})
    return {"queries": checks.check_queries(str(ROOT), args.data, result["out_dir"],
                                            result["queries"], result["oracle_sql"], threw)}


def main(argv=None):
    args = parse(argv)
    load_start, steal_start = os.getloadavg()[0], cpu_steal_s()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "dev" / "check_oracles.py").is_file():
        print("perfbench: run from a checkout of the repository (program sources "
              "and dev/check_oracles.py not found)", file=sys.stderr)
        return 2
    classes = build.build()
    t0 = time.time()
    deadline = t0 + TIME_LIMIT_S
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        changed, inputs_dir = {}, None
        if args.workload == "pipeline":
            inputs_dir = work / "inputs"
            changed = inputs.generate(args.data, inputs_dir, args.seed,
                                      metrics.TABLES[:args.limit or None])
        t_inputs = time.time()
        result = run_jvm(args, classes, work, inputs_dir, cores, deadline)
        t_jvm = time.time()
        tmp_left = dir_bytes(work / "tmp")
        window = min(s["start"] for s in result["spans"] if s["name"] == "pass") / 1000
        setup_s = window - t0
        bad = check_outputs(args, result)
        phases = {"inputs_s": t_inputs - t0, "jvm_s": t_jvm - t_inputs,
                  "checks_s": time.time() - t_jvm}
        if args.keep_result:
            shutil.copy(work / "result.json", args.keep_result)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = metrics.op_spans(result)
    failed_ops = [s for s in ops if "error" in s["tags"]
                  or s["pass"] in bad.get("passes", {})
                  or s["tags"].get("query") in bad.get("queries", {})]
    env = {"seed": args.seed, "workload": args.workload, "commit": commit(),
           "source": classes.name, "nproc": cores, "heap": HEAP,
           **{k: result["env"][k] for k in ("spark", "scala", "java", "max_heap_mb")},
           "confs": result["env"]["confs"], "data": os.path.relpath(args.data, ROOT),
           "limit": args.limit, "load1_start": load_start, "load1_end": os.getloadavg()[0],
           "cpu_steal_s": None if steal_start is None else cpu_steal_s() - steal_start,
           "passes": len(result["passes"]), "tmp_bytes_left": tmp_left, "phases": phases,
           "changed_rows": changed, "latency_tail": metrics.latency_tail(result),
           "failed_frac": len(failed_ops) / max(len(ops), 1),
           "failures": {**{str(k): v for k, v in bad.get("passes", {}).items()},
                        **bad.get("queries", {}),
                        **{s["name"]: s["tags"]["error"] for s in ops if "error" in s["tags"]}}}
    print(json.dumps({"env": env}, sort_keys=True))
    print(f"failed_frac: {env['failed_frac']:.4f} ({len(failed_ops)}/{len(ops)} operations)")
    if args.trace:
        values = metrics.per_layer(result, cores, tmp_left)
        units = {n: u for n, u, _ in metrics.PER_LAYER}
    else:
        values = metrics.end_to_end(result, setup_s)
        units = {n: u for n, u, _ in metrics.END_TO_END}
    for name, v in values.items():
        print(f"{name}: {v:.6g} {units[name]}")
    print(json.dumps({
        "correct": not failed_ops, "attempted": len(ops), "failed": len(failed_ops),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
