#!/usr/bin/env python3
"""Self-test of the benchmark (its workloads run at scale factor 0.001).

For every workload, with tracing off and on, checks that the run exits 0 and
that its last stdout line is the result object with exactly the keys
`correct attempted failed metrics`, that every metric BENCHMARK.json names
for that mode is printed with its unit, and that the outputs are correct.
Then it corrupts the pins (every scan query's digest, the ingest job's record
count) and checks that the failures show as a non-zero error rate.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload, trace, pins=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    if pins:
        cmd += ["--pins", pins]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}"
    lines = r.stdout.strip().split("\n")
    return lines, json.loads(lines[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    catalog = json.load(open(os.path.join(HERE, "queries.json")))
    for w in (x["name"] for x in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            lines, res = bench(w, trace)
            assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {got} != declared {want}"
            for name, unit in want.items():
                assert any(ln.startswith(f"{name} ") and ln.endswith(f" {unit}")
                           for ln in lines[:-1]), f"{w}: no printed line for {name} [{unit}]"
            print(f"ok   {w} trace={trace}: {len(want)} metrics with units")

    # every scan query's digest flipped, so whichever the sample holds fails
    corrupt = {n: [q["pins"]["0.001"][0], "%016x" % (int(q["pins"]["0.001"][1], 16) ^ 1)]
               for n, q in catalog["queries"].items() if q["workload"] == "scan_queries"}
    rows, digest = catalog["ingest"]["pins"]["6272"]
    corrupt["ingest"] = [rows + 1, digest]
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(corrupt, f)
    try:
        # the traced run also checks the ingest probe against its pin
        lines, res = bench("scan_queries", 1, pins=f.name)
        assert not res["correct"] and res["failed"] > 1, res
        summary = lines[0]
        rate = float(summary.split("error_rate=")[1].split()[0])
        assert rate > 0, summary
        assert any(ln.startswith("error: ingest:") for ln in lines), lines[:8]
        print(f"ok   corrupted query and ingest pins give error_rate={rate:.4f}")
    finally:
        os.unlink(f.name)
    print("selftest passed")


if __name__ == "__main__":
    main()
