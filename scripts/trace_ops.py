#!/usr/bin/env python3
"""Jobs, tasks, job time and codegen compiles per op kind of a perfbench trace.

Usage:
  python3 scripts/trace_ops.py <trace.json> [--ops KIND]

<trace.json> is the file `python3 perfbench/run.py ... --trace 1` keeps
under .bench_build/perfbench/traces/<workload>-<seed>.json (its detail
line names it as `trace_file`). Every job there carries the id of the op
it ran for, so jobs are attributed to ops without job labels.

Only traced ops count: the harness traces a seeded coin's share of the
ops, and an untraced op records no job. Prints one line per op kind:
the number of traced ops, then per op the mean
jobs, tasks, job wall ms (each job's start to its end, summed) and
codegen compiles, and the most jobs any one op of the kind ran.
With --ops KIND, also prints each traced op of that kind with the span
(the layer call), tasks and wall ms of each of its jobs, in start order. Only reads the file.
"""
import argparse
import collections
import json


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--ops", metavar="KIND", help="list each op of this kind with its jobs")
    a = ap.parse_args()
    with open(a.trace) as f:
        t = json.load(f)

    jobs = collections.defaultdict(list)
    for j in t["jobs"]:
        jobs[j["op"]].append(j)
    for js in jobs.values():
        js.sort(key=lambda j: int(j["start"]))
    counters = t.get("op_counters", {})

    def wall_ms(j):
        return (int(j["end"]) - int(j["start"])) / 1000.0

    kinds = collections.OrderedDict()
    for o in t["ops"]:
        if o["traced"]:
            kinds.setdefault(o["kind"], []).append(o)

    print("%-12s %5s %8s %9s %10s %10s %8s" %
          ("kind", "ops", "jobs/op", "tasks/op", "job_ms/op", "compiles", "max_jobs"))
    for kind, ops in kinds.items():
        js = [jobs.get(o["id"], []) for o in ops]
        n = len(ops)
        compiles = sum(int(counters.get(str(o["id"]), {}).get("compiles", 0)) for o in ops)
        print("%-12s %5d %8.1f %9.1f %10.1f %10.1f %8d" % (
            kind, n, sum(map(len, js)) / n,
            sum(int(j["tasks"]) for x in js for j in x) / n,
            sum(wall_ms(j) for x in js for j in x) / n,
            compiles / n, max(map(len, js))))

    if a.ops:
        span_names = {int(sp[0]): sp[3] for sp in t["spans"]}
        for o in kinds.get(a.ops, []):
            js = jobs.get(o["id"], [])
            print("\nop %s %s: %.0f ms, %d jobs" % (o["id"], o["key"], float(o["ms"]), len(js)))
            for j in js:
                print("  job %s (%s): %s tasks, %.0f ms" % (
                    j["id"], span_names.get(int(j["span"]), "?"), j["tasks"], wall_ms(j)))


if __name__ == "__main__":
    main()
