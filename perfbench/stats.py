"""Statistics for the benchmark: timing summaries and the per-layer ledger
computed from a traced run's spans and Spark job records."""
import math

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples, pct):
    """Nearest-rank percentile of `samples` (0 < pct <= 100)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def median(samples):
    xs = sorted(samples)
    n = len(xs)
    if not n:
        raise ValueError("no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail(samples, beyond=10):
    """The highest percentile of TAIL_PERCENTILES with at least `beyond`
    samples above its rank, as (pct, value); None when no percentile has."""
    n = len(samples)
    for pct in TAIL_PERCENTILES:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= beyond:
            return pct, percentile(samples, pct)
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent; overlapping
    children counted once). `spans` holds (id, parent, start, end)."""
    children = {}
    for sid, parent, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, parent, s, e in spans:
        clipped = [(max(cs, s), min(ce, e)) for cs, ce in children.get(sid, [])]
        out[sid] = (e - s) - union_length(clipped)
    return out


def layer_of(span_name):
    return span_name.split(".", 1)[0]


def ledger(run, cpus):
    """Per-layer metrics of a traced run, each averaged over the traced ops
    of the measured rounds (ratios and rates excepted). `run` is the JVM's
    run record."""
    measured = [o for o in run["ops"] if o["round"] >= 1]
    ops = [o for o in measured if o["traced"] and not o["error"]]
    n = max(len(ops), 1)
    ids = {o["id"] for o in ops}
    spans = [s for s in run["spans"] if s[2] in ids]
    by_id = {s[0]: s for s in spans}
    selfs = self_times([(s[0], s[1], s[4], s[5]) for s in spans])
    jobs = [j for j in run["jobs"] if j["op"] in ids]
    counters = [run["op_counters"].get(str(i), {}) for i in ids]
    m = {}

    def per_op(name, total, unit):
        m[name] = (total / n, unit)

    for layer in ("api", "queries", "operators", "streaming"):
        per_op(layer + ".calls", sum(1 for s in spans if s[3] == layer + ".build"), "calls/op")
        per_op(layer + ".self_ms",
               sum(selfs[s[0]] for s in spans if layer_of(s[3]) == layer) / 1000.0, "ms/op")
        per_op(layer + ".jobs", sum(1 for j in jobs if j["span"] in by_id
                                    and layer_of(by_id[j["span"]][3]) == layer), "jobs/op")
    c = lambda key: sum(float(x.get(key, 0)) for x in counters)
    per_op("streaming.batches", c("batches"), "batches/op")
    per_op("streaming.batch_ms", c("batch_ms"), "ms/op")
    per_op("tables.load_ms",
           sum(selfs[s[0]] for s in spans if layer_of(s[3]) == "tables") / 1000.0, "ms/op")
    js = lambda key: sum(float(j[key]) for j in jobs)
    per_op("tables.input_bytes", js("in_bytes"), "bytes/op")
    per_op("tables.input_rows", js("in_rows"), "rows/op")
    per_op("tables.output_bytes", js("out_bytes"), "bytes/op")
    per_op("tables.output_rows", js("out_rows"), "rows/op")
    m["tables.index_bytes"] = (float(run.get("index_bytes", 0)), "bytes")
    per_op("catalyst.analysis_ms", c("analysis_ms"), "ms/op")
    per_op("catalyst.optimization_ms", c("optimization_ms"), "ms/op")
    per_op("catalyst.planning_ms", c("planning_ms"), "ms/op")
    per_op("codegen.compile_ms", c("compile_ns") / 1e6, "ms/op")
    per_op("codegen.compiles", c("compiles"), "count/op")
    per_op("scheduler.jobs", len(jobs), "jobs/op")
    per_op("scheduler.stages", js("stages"), "stages/op")
    per_op("scheduler.tasks", js("tasks"), "tasks/op")
    job_us = sum(max(j["end"] - j["start"], 0) for j in jobs)
    per_op("scheduler.job_ms", job_us / 1000.0, "ms/op")
    gap = 0.0
    for o in ops:
        root = [s for s in spans if s[2] == o["id"] and s[3] == "op"]
        if root:
            r = root[0]
            mine = [(max(j["start"], r[4]), min(j["end"], r[5])) for j in jobs if j["op"] == o["id"]]
            gap += (r[5] - r[4] - union_length(mine)) / 1000.0
    per_op("scheduler.driver_gap_ms", gap, "ms/op")
    m["scheduler.task_busy_ratio"] = (js("run_ms") / max(job_us / 1000.0 * cpus, 1e-9), "ratio")
    per_op("scheduler.failed_tasks", js("failed_tasks"), "tasks/op")
    per_op("exec.cpu_ms", js("cpu_ns") / 1e6, "ms/op")
    per_op("exec.gc_ms", js("gc_ms"), "ms/op")
    per_op("shuffle.read_bytes", js("shuffle_read"), "bytes/op")
    per_op("shuffle.write_bytes", js("shuffle_write"), "bytes/op")
    per_op("shuffle.spill_bytes", js("spill"), "bytes/op")
    for k, v in sorted(run.get("kernels", {}).items()):
        m["functions.%s.rows_per_s" % k] = (float(v), "rows/s")
    m["trace.overhead_ratio"] = (overhead(measured), "ratio")
    return m


def overhead(ops):
    """Traced over untraced op time: the median, over op kinds run both
    ways, of the ratio of their medians (1.0 when no kind ran both ways)."""
    ratios = []
    for k in sorted({o["kind"] for o in ops}):
        t = [o["ms"] for o in ops if o["kind"] == k and o["traced"] and not o["error"]]
        u = [o["ms"] for o in ops if o["kind"] == k and not o["traced"] and not o["error"]]
        if t and u:
            ratios.append(median(t) / median(u))
    return median(ratios) if ratios else 1.0
