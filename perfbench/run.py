"""graft benchmark: one workload, one seed, one closed-loop client.

Usage (from the repository root):
  python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Builds graft from source (once per source state), generates the workload's
inputs from the seed, runs the JVM harness against Spark local[N], checks
every op's rows against DuckDB and prints one JSON result as the last line
of stdout: end-to-end metrics with --trace 0, the per-layer ledger with
--trace 1. The line before it carries the run's details (box record,
sample counts, workload-specific figures and any failing op).
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def inputs(workload, seed, out):
    """Generate the workload's inputs; the JVM sees only these files."""
    if workload == "interactive":
        gen.write_tables(out, seed, sf=0.1)
    elif workload == "maintained":
        share = 0.15 + 0.1 * ((seed * 2654435761) % 1000) / 1000.0
        gen.write_days(out, seed, n_docs=600, n_days=60, batch=100,
                       dup_share=share, remove_every=2, n_remove=10)
    else:
        raise SystemExit("unknown workload %r" % workload)


# latency of the reference job on the box the normalized figures are scaled to
REFERENCE_MS = 50.0


def measured(run, ok):
    """The correct ops of the rounds after the first, the loop time those
    rounds took (reference jobs and untimed preparation left out) and the
    reference latencies taken in them. The first round is the JVM's
    warm-up: it is run and checked, not measured."""
    first = max(o["clock_ms"] for o in run["ops"] if o["round"] == 0)
    wall_s = (max(o["clock_ms"] for o in run["ops"]) - first) / 1000.0
    refs = [ms for rnd, ms in run["reference_ms"] if rnd >= 1]
    return [o for o in ok if o["round"] >= 1], wall_s, refs


def end_to_end(run, ops, wall_s, refs):
    """The gated metrics. Times are scaled by the host's speed, measured in
    the same rounds as the median latency of a fixed Spark job that runs no
    graft code (`reference_ms`, timed before every op; set-up time by the
    ones timed before the set-ups), to a box where that job takes
    REFERENCE_MS: on a shared VM the host's speed drifts within
    an hour, and the scaled figures move much less with it. Latency is the
    geometric mean over op kinds of each kind's median, so rounds of
    heterogeneous ops give a figure that does not jump with which kind
    sits in the middle."""
    speed = stats.median(refs) / REFERENCE_MS
    setup_speed = stats.median([ms for rnd, ms in run["reference_ms"] if rnd < 0]) / REFERENCE_MS
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    logs = [math.log(stats.median(v)) for v in kinds.values()]
    return {
        "setup_s": (stats.median(run["setup_s"]) / setup_speed, "s"),
        "ops_per_s_norm": (len(ops) / wall_s * speed, "1/s"),
        "op_ms_geomean_norm": (math.exp(sum(logs) / len(logs)) / speed, "ms"),
        "retained_heap_mb": (run["heap_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    marks = {}
    mark = lambda name: marks.__setitem__(name, round(time.time() - started, 3))

    out_root = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out_root, exist_ok=True)
    classes = build.build(out_root)
    mark("build")
    built = time.time()
    work = os.path.abspath(os.path.join(out_root, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        inputs(a.workload, a.seed, data)
        mark("inputs")
        cpus = min(os.cpu_count() or 1, 4)
        cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
        cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + ["--add-opens=%s=ALL-UNNAMED" % p for p in JVM_OPENS]
               + ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                  str(a.trace), data, work, str(cpus)])
        # a run ends within 180 s of its build: the JVM gets what is left
        # after the input generation, minus time for the check
        budget = 155.0 - (time.time() - built)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=budget)
        if proc.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write(log.read()[-3000:])
            raise SystemExit("the JVM harness failed (exit %d)" % proc.returncode)
        mark("jvm")
        with open(os.path.join(work, "run.json")) as f:
            run = json.load(f)

        failures, defects = check.check(data, os.path.join(work, "checks.jsonl"))
        for o in run["ops"]:
            if o["error"]:
                failures[o["id"]] = "%s: %s" % (o["key"], o["error"])
        mark("check")
        attempted = len(run["ops"])
        ok = [o for o in run["ops"] if o["id"] not in failures]
        timed, wall_s, refs = measured(run, ok)
        if not timed:
            raise SystemExit("no op of a measured round succeeded: %s" % list(failures.values())[:5])
        all_ms = [o["ms"] for o in run["ops"]]
        in_rows = sum(o["in_rows"] for o in timed)
        t = stats.tail(all_ms)
        detail = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "box": run["box"],
            "samples": len(all_ms), "setup_samples": run["setup_s"],
            "rounds": 1 + max(o["round"] for o in run["ops"]),
            "ops_per_s": len(timed) / wall_s,
            "op_p50_ms": stats.median(all_ms),
            "op_tail": None if t is None else {"pct": t[0], "ms": t[1]},
            "op_p90_ms": stats.percentile(all_ms, 90) if len(all_ms) >= 100 else None,
            "failed_ratio": len(failures) / attempted,
            "repeat_share": sum(o["repeat"] for o in run["ops"]) / attempted,
            "input_rows_per_s": in_rows / wall_s,
            "workload_metrics": {x["name"]: {"value": x["value"], "unit": x["unit"]} for x in run["extra"]},
            "per_kind_p50_ms": {k: stats.median([o["ms"] for o in run["ops"] if o["kind"] == k])
                                for k in sorted({o["kind"] for o in run["ops"]})},
            "failures": [failures[k] for k in sorted(failures)],
            "unrefreshed_failures": [defects[k] for k in sorted(defects)],
            "reference_ms": {"samples": len(refs), "p50": stats.median(refs)},
            "phases_s": {"python": marks, "jvm": run["phases"]},
        }
        if a.trace:
            metrics = stats.ledger(run, cpus)
            traces = os.path.join(out_root, "traces")
            os.makedirs(traces, exist_ok=True)
            detail["trace_file"] = os.path.join(traces, "%s-%d.json" % (a.workload, a.seed))
            detail["spans"] = len(run["spans"])
            with open(detail["trace_file"], "w") as f:
                json.dump({k: run[k] for k in ("ops", "spans", "jobs", "op_counters")}, f)
        else:
            metrics = end_to_end(run, timed, wall_s, refs)
        print(json.dumps(detail))
        print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
