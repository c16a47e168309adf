#!/usr/bin/env python3
"""Paired A/B of perfbench between two checkouts of graft.

Usage (from anywhere):
  python3 scripts/perf_ab.py --parent <checkout> --change <checkout> \\
      --workload maintained --seeds 21-30 [--seconds 15] [--out ab.json]

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds N` once in each checkout, one after the other; the side that
runs first alternates from seed to seed, so a drift of the host's speed
during the session does not favour one side. Each run builds its
checkout's sources on first use (perfbench/build.py caches the classes
per source state under the checkout's `.bench_build/`).

Prints, for both sides: the median and quartiles of every end-to-end
metric (with the direction from the change's BENCHMARK.json, the median
change and the number of pairs in which the change is better), the
median of each op kind's p50 from the detail line, and `failed` /
`attempted` with the unrefreshed failures. Only run.py's two output
lines are read; nothing under perfbench/ is changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    """One run.py invocation: (detail, result), its last two JSON lines."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit("run.py failed in %s (seed %d, exit %d)" % (checkout, seed, proc.returncode))
    return json.loads(lines[-2]), json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(checkout):
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {m["name"]: m["better"] for m in json.load(f).get("end_to_end", [])}


def report(runs, better):
    sides = ("parent", "change")
    names = sorted(runs[0]["parent"][1]["metrics"])
    print("%-22s %30s %30s %9s %7s" % ("metric", "parent q1 / median / q3",
                                       "change q1 / median / q3", "median", "better"))
    for name in names:
        vals = {s: [r[s][1]["metrics"][name]["value"] for r in runs] for s in sides}
        (p1, pm, p3), (c1, cm, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
        way = better.get(name)
        wins = "-" if way is None else "%d/%d" % (sum(
            (c < p) if way == "lower" else (c > p)
            for p, c in zip(vals["parent"], vals["change"])), len(runs))
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        print("%-22s %9.4g / %9.4g / %9.4g %9.4g / %9.4g / %9.4g %+8.1f%% %7s"
              % (name, p1, pm, p3, c1, cm, c3, delta, wins))
    kinds = sorted({k for r in runs for s in sides for k in r[s][0]["per_kind_p50_ms"]})
    print("\nper-kind p50 ms (median over seeds)")
    for k in kinds:
        med = {s: statistics.median([r[s][0]["per_kind_p50_ms"][k] for r in runs
                                     if k in r[s][0]["per_kind_p50_ms"]]) for s in sides}
        print("  %-12s parent %9.1f   change %9.1f" % (k, med["parent"], med["change"]))
    print()
    for s in sides:
        failed = sum(r[s][1]["failed"] for r in runs)
        attempted = sum(r[s][1]["attempted"] for r in runs)
        unrefreshed = sum(len(r[s][0].get("unrefreshed_failures", [])) for r in runs)
        print("%s: failed %d / attempted %d, unrefreshed failures %d" % (s, failed, attempted, unrefreshed))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 1,4,7")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--out", help="write every run's two lines here as JSON")
    a = ap.parse_args()
    runs = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed}
        for side in order:
            pair[side] = run(getattr(a, side), a.workload, seed, a.seconds)
            m = pair[side][1]["metrics"]
            print("seed %d %-6s %s" % (seed, side, " ".join(
                "%s=%.4g" % (k, m[k]["value"]) for k in sorted(m))), file=sys.stderr, flush=True)
        runs.append(pair)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f)
    print("%s, seeds %s, %d pairs" % (a.workload, a.seeds, len(runs)))
    report(runs, directions(a.change))


if __name__ == "__main__":
    main()
