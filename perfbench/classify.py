#!/usr/bin/env python3
"""Classify every declared query and pin its result, into queries.json.

Runs all queries twice in one harness JVM on the generated tables: an
untimed round, then a traced round in reverse order. Records per query:

- `construct_jobs`: Spark jobs started while the query is built;
- `workload`: `scan_queries` (at most one construction job) or
  `staged_queries` (2 to 24);
- `cost_s`: its warm (second) construct + plan + execute time, used only to
  draw the run sample;
- `pins[scale]`: [row count, content digest], which both executions must
  agree on, or the query is left out of every workload.

The traced round ends with the ingest job, whose written records and
output-tree digest are pinned too. Run this only at a commit whose queries
pass the DuckDB oracle, and record the commit:

    python3 perfbench/classify.py <commit>
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

STAGED_MAX_JOBS = 24


def classify(launch, names):
    """Run every query twice (the second round traced, in reverse order),
    then the ingest probe; return each query's executions and the probe."""
    lines = [f"{n}\t0\t" for n in names] + [f"{n}\t0\t" for n in reversed(names)]
    recs = run.run_harness(launch, run.tables(), lines, len(names), 0, 1, [0, ""],
                           "classify", 3600)
    spans = [json.loads(x) for x in open(os.path.join(run.OUT, "spans-classify.jsonl"))]
    jobs = {s["exec"]: s["jobs"] for s in spans if s["name"] == "construct"}
    by_query = {}
    for e in (r for r in recs if r["kind"] == "exec"):
        by_query.setdefault(e["q"], []).append(dict(e, construct_jobs=jobs.get(e["exec"], 0)))
    return by_query, by_query.pop("ingest")[0]


def main():
    commit = sys.argv[1]
    launch = run.build()
    by_query, ingest = classify(launch, run.query_names(launch))
    assert ingest["ok"], ingest
    queries = {}
    for name, execs in sorted(by_query.items()):
        stable = all(e["ok"] for e in execs) and \
            len({(e["rows"], e["digest"]) for e in execs}) == 1
        jobs = max(e["construct_jobs"] for e in execs)
        queries[name] = {
            "workload": None if not stable else
            "scan_queries" if jobs <= 1 else
            "staged_queries" if jobs <= STAGED_MAX_JOBS else None,
            "construct_jobs": jobs,
            "cost_s": round(execs[-1]["latency_s"], 4),
            "pins": {run.SCALE: [execs[0]["rows"], execs[0]["digest"]] if stable else None},
        }
    catalog = {
        "pinned_at": commit,
        "ingest": {"pins": {str(run.PAGES): [ingest["rows"], ingest["digest"]]}},
        "queries": queries,
    }
    with open(os.path.join(run.HERE, "queries.json"), "w") as f:
        json.dump(catalog, f, indent=1)
        f.write("\n")
    for w in ("scan_queries", "staged_queries", None):
        print(w, sum(1 for q in queries.values() if q["workload"] == w))


if __name__ == "__main__":
    main()
