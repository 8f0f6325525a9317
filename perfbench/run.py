#!/usr/bin/env python3
"""Layered benchmark of the graft engine: construct / plan / execute.

Usage (from the repository root):

    python3 perfbench/run.py --workload scan_queries --seed 1 --seconds 20 --trace 0

One closed-loop client on one local Spark session (`local[<cores>]`, shuffle
partitions = cores). Each query is built through
`SparkEntry.queries(name)(spark, dir)` (construct), planned by forcing
`queryExecution.executedPlan` (plan), and materialized, every output column of
every row, in one action on that plan (execute). Its row count and
order-independent digest are checked against the pins in `queries.json`.
Traced runs (`--trace 1`) end with one paged-source -> KV -> rule filter ->
partitioned text sink ingest job, timed prefix by prefix.

The first run in a checkout compiles the engine and the harness with sbt and
generates the input tables; later runs reuse both. The last line of stdout is
one JSON object: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. README.md says what each workload and metric is for.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
LAUNCH = os.path.join(HERE, "target", "launch.json")
HEAP = "3g"
SCALE = "0.001"          # scale factor of the generated tables
ROUNDS = 100             # plan length in rounds; a run stops long before
WARMUP_ROUNDS = 2        # untimed rounds before the timed pass
RUN_LIMIT_S = 90         # the timed pass starts no round after this

# workload -> sample size. A run executes a fixed cost-stratified sample of
# the workload's committed membership (queries.json) in rounds, each round in
# an order the seed picks.
WORKLOADS = {"scan_queries": 6, "staged_queries": 5}
PAGES = 6272             # ingest job: 6,272 pages x 10 records

END_TO_END = {
    "setup_s": "s", "queries_per_s": "1/s", "query_p50_s": "s", "query_p90_s": "s",
    "records_per_s": "1/s", "peak_rss_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile engine + harness (sbt) unless the launch file is current."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_mtime(sources):
        return json.load(open(LAUNCH))
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                           cwd=HERE, stdout=f, stderr=subprocess.STDOUT, timeout=600)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})")
    return json.load(open(LAUNCH))


def tables():
    """The generated input tables, made once per checkout."""
    d = os.path.join(ROOT, ".bench_data", f"sf{SCALE}")
    stamp = os.path.join(d, ".complete")
    if not os.path.exists(stamp):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), d, SCALE], check=True)
        open(stamp, "w").close()
    return d


def sample(members, k):
    """The median-cost member of each of k equal-count cost strata: a fixed
    sample with the spread of cheap and expensive queries of the whole."""
    ordered = sorted(members)
    return [ordered[(i * len(ordered) // k + (i + 1) * len(ordered) // k - 1) // 2][1]
            for i in range(k)]


def plan_lines(workload, seed, catalog, pins_override):
    """The run plan, each line with its pin, and its round length. The plan
    is rounds of the workload's sample, each round in an order the seed
    picks."""
    members = [(q["cost_s"], n) for n, q in catalog["queries"].items() if q["workload"] == workload]
    names = sample(members, WORKLOADS[workload])
    rng = random.Random(seed)
    lines = []
    for _ in range(ROUNDS):
        rng.shuffle(names)
        for name in names:
            rows, digest = pins_override.get(name, catalog["queries"][name]["pins"][SCALE])
            lines.append(f"{name}\t{rows}\t{digest}")
    return lines, len(names)


def hd_quantile(xs, q):
    """Harrell-Davis estimate of quantile q: a Beta-weighted mean of all order
    statistics. It moves smoothly as samples move, where the plain sample
    quantile jumps between neighbouring values of a few distinct queries."""
    xs = sorted(xs)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def cdf(x, steps=400):
        # integral of the Beta(a, b) density on [0, x], midpoint rule
        if x <= 0:
            return 0.0
        h = x / steps
        return sum(math.exp((a - 1) * math.log((i + 0.5) * h)
                            + (b - 1) * math.log1p(-(i + 0.5) * h) - lbeta) * h
                   for i in range(steps))

    edges = [cdf(i / n) for i in range(n)] + [1.0]
    return sum(x * (edges[i + 1] - edges[i]) for i, x in enumerate(xs))


def run_harness(launch, data, lines, round_size, seconds, trace, ingest_pin, tag, max_seconds,
                warmup_rounds=1):
    """Run the harness JVM on a plan and return the records it wrote."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    plan = os.path.join(run_dir, "plan.tsv")
    with open(plan, "w") as f:
        f.write("\n".join(lines) + "\n")
    out = os.path.join(run_dir, "records.jsonl")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp"] + launch["jvm_options"]
           + ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
              "--data", data, "--work", run_dir,
              "--cores", str(len(os.sched_getaffinity(0))), "--seconds", str(seconds),
              "--max-seconds", str(max_seconds),
              "--trace", str(trace), "--setups", "3", "--plan", plan,
              "--round", str(round_size), "--warmup", str(warmup_rounds), "--pages", str(PAGES),
              "--ingest-pin", ":".join(map(str, ingest_pin)),
              "--out", out, "--spans", os.path.join(OUT, f"spans-{tag}.jsonl")])
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8",
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = os.path.join(OUT, f"jvm-{tag}.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=f, stderr=subprocess.STDOUT,
                               timeout=max_seconds + 75)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out (log: {log})")
    recs = [json.loads(x) for x in open(out)] if os.path.exists(out) else []
    if r.returncode != 0 or not any(x["kind"] == "end" for x in recs):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness JVM exited with {r.returncode} (log: {log})")
    shutil.move(out, os.path.join(OUT, f"records-{tag}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return recs


def query_names(launch):
    """Every query `SparkEntry.queries` declares, sorted."""
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, "query_names.txt")
    subprocess.run(["java", "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
                    "--list", out], check=True, timeout=120)
    return [n for n in open(out).read().split("\n") if n]


def summarize(recs, trace):
    setups = [r["s"] for r in recs if r["kind"] == "setup"]
    checked = [r for r in recs if r["kind"] == "exec"]
    execs = [r for r in checked if r["phase"] == "timed"]
    probe = [r for r in checked if r["phase"] == "probe"]
    calib = {r["phase"]: r["s"] for r in recs if r["kind"] == "calib"}
    end = next(r for r in recs if r["kind"] == "end")
    layers = {r["layer"]: r for r in recs if r["kind"] == "layer"}
    ok = [e for e in execs if e["ok"]]
    lat = [e["latency_s"] for e in ok] or [0.0]
    wall = end["pass_s"]
    e2e = {
        "setup_s": statistics.median(setups),
        "queries_per_s": len(ok) / wall,
        "query_p50_s": hd_quantile(lat, 0.5),
        "query_p90_s": hd_quantile(lat, 0.9),
        "records_per_s": sum(e["rows"] for e in ok) / wall,
        "peak_rss_mb": end["rss_mb"],
    }
    info = {"attempted": len(checked), "failed": sum(1 for e in checked if not e["ok"]),
            "errors": sorted({f"{e['q']}: {e['error']}" for e in checked if not e["ok"]})[:5],
            "warmup_s": next(r["s"] for r in recs if r["kind"] == "warmup"),
            "calib_start_s": calib["start"], "calib_end_s": calib["end"],
            "setups_s": setups, "timed_ops": len(execs)}
    if not trace:
        return e2e, info

    def lay(name, key):
        return layers.get(name, {}).get(key, 0)

    exec_s, exec_cpu = lay("execute", "s"), lay("execute", "cpu_s")
    ingest = probe[0]
    per_layer = {
        "queries.construct_s": lay("construct", "s"),
        "queries.construct_jobs": lay("construct", "jobs"),
        "core.tables_load_s": lay("tables_load", "s"),
        "core.tables_load_jobs": lay("tables_load", "jobs"),
        "plan.plan_s": lay("plan", "s"),
        "plan.codegen_fallbacks": end["codegen_fallbacks"],
        "execute.execute_s": exec_s,
        "execute.jobs": lay("execute", "jobs"),
        "execute.stages": lay("execute", "stages"),
        "execute.tasks": lay("execute", "tasks"),
        "execute.task_cpu_s": exec_cpu,
        "execute.core_util": exec_cpu / (exec_s * end["cores"]),
        "execute.shuffle_write_mb": lay("execute", "shuffle_write_bytes") / 2**20,
        "execute.spill_mb": lay("execute", "spill_bytes") / 2**20,
        "execute.output_rows": sum(e["rows"] for e in ok),
        "core.hygiene_s": sum(e["hygiene_s"] for e in execs),
        "core.hygiene_gcs": sum(1 for e in execs if e["hygiene_gc"]),
        "sources.scan_s": ingest["scan_s"],
        "sources.kv_s": ingest["kv_s"] - ingest["scan_s"],
        "sources.sink_s": ingest["latency_s"] - ingest["kv_s"],
        "sources.records_per_s": ingest["rows"] / ingest["latency_s"],
        "sources.pages_fetched": ingest["pages"],
        "sources.bytes_written_mb": ingest["bytes"] / 2**20,
        "sources.files_written": ingest["files"],
        "jvm.gc_s": end["gc_s"],
        "env.calib_start_s": calib["start"],
        "env.calib_end_s": calib["end"],
        "env.calib_s": (calib["start"] + calib["end"]) / 2,
        "traced.queries_per_s": e2e["queries_per_s"],
        "traced.query_p50_s": e2e["query_p50_s"],
    }
    return per_layer, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pins", help="JSON {query or 'ingest': [rows, digest]} replacing pins "
                                   "(self-test)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"engine sources not found next to {HERE}; run from a full checkout")
    catalog = json.load(open(os.path.join(HERE, "queries.json")))
    pins_override = json.load(open(args.pins)) if args.pins else {}
    launch = build()
    data = tables()

    lines, round_size = plan_lines(args.workload, args.seed, catalog, pins_override)
    ingest_pin = pins_override.get("ingest", catalog["ingest"]["pins"][str(PAGES)])
    recs = run_harness(launch, data, lines, round_size, args.seconds,
                       args.trace, ingest_pin, f"{args.workload}-{args.seed}", RUN_LIMIT_S,
                       WARMUP_ROUNDS)
    cores = len(os.sched_getaffinity(0))
    metrics, info = summarize(recs, args.trace == 1)
    units = END_TO_END if args.trace == 0 else {k: unit_of(k) for k in metrics}
    err_rate = info["failed"] / info["attempted"]
    print(f"workload={args.workload} seed={args.seed} cores={cores} scale={SCALE} "
          f"ops={info['attempted']} "
          f"error_rate={err_rate:.4f} ratio "
          f"calib_start={info['calib_start_s']:.4f} s calib_end={info['calib_end_s']:.4f} s "
          f"setups={','.join(f'{x:.3f}' for x in info['setups_s'])} s "
          f"warmup={info['warmup_s']:.3f} s timed_ops={info['timed_ops']}")
    for e in info["errors"]:
        print(f"error: {e}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("core_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
