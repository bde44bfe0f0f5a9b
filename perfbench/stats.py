"""Metric arithmetic for perfbench: percentiles, the tail rule, interval
unions over job spans, and the per-layer rollup of a traced window.

Pure functions over plain dicts/lists, so they are unit-tested on synthetic
spans (tests/test_stats.py) without Spark.
"""

import math
import re
import statistics

# Modules whose jobs are attributed by call site (package.File of the repo).
MODULES = ["etl.Sources", "etl.Transform", "etl.Dims", "etl.Fact",
           "etl.Pipeline", "ext.Curation", "ext.Dedup", "ext.TextStats",
           "ext.StoreMeta"]

# Tail ladder: the reported tail is the highest rung with at least
# TAIL_MIN_BEYOND samples above it.
TAIL_LADDER = [99.0, 95.0, 90.0, 75.0, 50.0]
TAIL_MIN_BEYOND = 10

MB = float(1 << 20)


def percentile(values, p):
    """Nearest-rank percentile (p in (0, 100]) of a non-empty list."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(n):
    """The rung of TAIL_LADDER reported as the tail for n samples: the
    highest p with n * (1 - p/100) >= TAIL_MIN_BEYOND. With fewer than
    2 * TAIL_MIN_BEYOND samples no rung qualifies; the maximum (p100) is
    reported then, and the caller states n."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= 100.0 * TAIL_MIN_BEYOND:
            return p
    return 100.0


def tail(values):
    """(percentile used, value) of the tail rule over `values`."""
    p = tail_percentile(len(values))
    return p, percentile(values, p)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by a set of [start, end] intervals, each first
    clipped to [lo, hi] when given."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(op_start, op_end, child_spans):
    """An op span's self time: its length minus the time its child spans
    cover (children clipped to the op). For job children this is the
    driver gap: wall time in which no Spark job of the op was running."""
    return (op_end - op_start) - union_length(child_spans, op_start, op_end)


# "at" prefix (thread dumps) and "loader/module/" prefixes are optional
_FRAME = re.compile(r"^\s*(?:at\s+)?(?:[\w.@-]*/)*([\w$.]+)\.([\w$<>]+)\(([^:)]*)")


def frames(call_site):
    """(class, method, file) of each frame in a Spark long-form call site."""
    out = []
    for line in call_site.splitlines():
        m = _FRAME.match(line)
        if m:
            out.append(m.groups())
    return out


def module_of(call_site):
    """The repo module a job is attributed to: the innermost call-site frame
    whose package.File is one of MODULES; None when no such frame exists
    (the op's own action, or a job submitted from a broadcast thread)."""
    for cls, _method, file in frames(call_site):
        if cls.startswith("graft.") and file.endswith(".scala"):
            pkg = cls.rsplit(".", 1)[0][len("graft."):]
            mod = pkg + "." + file[:-len(".scala")]
            if mod in MODULES:
                return mod
    return None


def is_broadcast(job):
    """A job a broadcast exchange submitted (Spark tags it with the
    exchange's run id), not the op's own thread."""
    return "broadcast exchange" in job.get("props", {}).get("spark.job.tags", "")


def is_cc_job(job):
    cs = job.get("call_site", "")
    return "duplicateClusters" in cs or "connectedComponents" in cs


def op_layers(op, jobs, stages, progress):
    """Per-layer figures of one traced op from the raw spans. `jobs` are job
    spans (ms), `stages` maps stage id to its task-metric sums, `progress`
    lists streaming progress records."""
    s_ms, e_ms = op["start_ms"], op["end_ms"]
    mine = [j for j in jobs if s_ms <= j["start_ms"] <= e_ms]
    ivs = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else e_ms) for j in mine]
    stage_ids = sorted({sid for j in mine for sid in j["stages"]})
    st = [stages[s] for s in stage_ids if s in stages]
    out = {
        "spark.jobs": len(mine),
        "spark.broadcast_jobs": sum(1 for j in mine if is_broadcast(j)),
        "spark.tasks": sum(x["tasks"] for x in st),
        "spark.job_busy_s": union_length(ivs, s_ms, e_ms) / 1000.0,
        "spark.driver_gap_s": self_time(s_ms, e_ms, ivs) / 1000.0,
        "spark.executor_cpu_s": sum(x["cpu_ns"] for x in st) / 1e9,
        "spark.gc_s": sum(x["gc_ms"] for x in st) / 1000.0,
        "spark.input_mb": sum(x["input_bytes"] for x in st) / MB,
        "spark.shuffle_write_mb": sum(x["shuffle_write_bytes"] for x in st) / MB,
        "spark.spill_mb": sum(x["spill_bytes"] for x in st) / MB,
        "spark.output_mb": sum(x["output_bytes"] for x in st) / MB,
        "input_records": sum(x["input_records"] for x in st),
    }
    by_mod = {m: [] for m in MODULES}
    op_ivs = []
    for j, iv in zip(mine, ivs):
        m = None if is_broadcast(j) else module_of(j.get("call_site", ""))
        (by_mod[m] if m else op_ivs).append(iv)
    for m in MODULES:
        out[m + ".busy_s"] = union_length(by_mod[m], s_ms, e_ms) / 1000.0
        out[m + ".jobs"] = len(by_mod[m])
    out["op.busy_s"] = union_length(op_ivs, s_ms, e_ms) / 1000.0
    out["op.jobs"] = len(op_ivs)
    out["ext.Dedup.cc_jobs"] = sum(1 for j in mine if is_cc_job(j))
    prog = [p for p in progress if s_ms <= p["start_ms"] <= e_ms]
    out["etl.Incremental.overhead_s"] = sum(
        p["trigger_ms"] - p["add_batch_ms"] for p in prog) / 1000.0
    out["etl.Pipeline.add_batch_s"] = sum(p["add_batch_ms"] for p in prog) / 1000.0
    x = op.get("x", {})
    out["ext.Dedup.served_scan_tasks"] = 0
    if "probe_start_ms" in x:
        probe = [j for j in mine if not is_broadcast(j)
                 and x["probe_start_ms"] <= j["start_ms"] <= x["probe_end_ms"]]
        out["ext.Dedup.served_scan_tasks"] = max(
            [stages[s]["tasks"] for j in probe for s in j["stages"] if s in stages],
            default=0)
    return out


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0
