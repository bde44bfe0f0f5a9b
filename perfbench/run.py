"""perfbench: the repo benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and harness from source (perfbench/build.py), writes the
workload's seeded inputs, runs the harness JVM on local[N] (N = min(4,
nproc)), checks every op's output, and prints, as the last stdout line, one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Lines before
it give host facts and the tail rule used. The raw record (op spans and,
when tracing, every job/stage/progress span) is kept under .bench_out/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import gen    # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
HARNESS_TIMEOUT_S = 170
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Input sizes and run shape per workload. `unit` is the op count a timed
# window is a whole multiple of; `setups` how many fresh set-ups a run times.
WORKLOADS = {
    "star_ingest": dict(batch_rows=20000, titles=3000, pool=6,
                        setups=2, warmups=1, unit=1),
    "star_report": dict(batch_rows=10000, titles=3000, deltas=15,
                        setups=1, warmups=4, unit=4),
    "curate_corpus": dict(docs=3000, setups=3, warmups=1, unit=1,
                          recall_floor=0.9),
    "served_admit": dict(store_docs=10000, batch_docs=1000, pool=8,
                         setups=2, warmups=2, unit=2, compact_every=2,
                         recall_floor=0.95),
}

# (name, unit, better): the end-to-end metrics of an untraced run ...
E2E = [("setup_s", "s", "lower"), ("op_p50_s", "s", "lower"),
       ("op_tail_s", "s", "lower"), ("input_rows_per_s", "1/s", "higher"),
       ("bytes_written_per_input_byte", "ratio", "lower"),
       ("peak_rss_mb", "MB", "lower")]

# ... and the per-layer metrics of a traced run (per traced op unless noted).
LAYERS = (
    [("spark.jobs", "count", "lower"), ("spark.broadcast_jobs", "count", "lower"),
     ("spark.tasks", "count", "lower"), ("spark.job_busy_s", "s", "lower"),
     ("spark.driver_gap_s", "s", "lower"), ("spark.executor_cpu_s", "s", "lower"),
     ("spark.gc_s", "s", "lower"), ("spark.input_mb", "MB", "lower"),
     ("spark.shuffle_write_mb", "MB", "lower"), ("spark.spill_mb", "MB", "lower"),
     ("spark.output_mb", "MB", "lower")]
    + [(m + suffix, unit, "lower") for m in stats.MODULES
       for suffix, unit in ((".busy_s", "s"), (".jobs", "count"))]
    + [("op.busy_s", "s", "lower"), ("op.jobs", "count", "lower"),
       ("etl.Incremental.overhead_s", "s", "lower"),
       ("etl.Incremental.input_rows_per_raw_row", "ratio", "lower"),
       ("etl.Pipeline.add_batch_s", "s", "lower"),
       ("etl.Pipeline.live_deltas", "count", "lower"),
       ("etl.Pipeline.files_written", "count", "lower"),
       ("etl.Pipeline.compactions", "count", "lower"),
       ("etl.Pipeline.compact_op_s", "s", "lower"),
       ("ext.Dedup.cc_jobs", "count", "lower"),
       ("ext.Dedup.dup_recall", "ratio", "higher"),
       ("ext.Dedup.served_scan_tasks", "count", "lower"),
       ("ext.Dedup.probe_s", "s", "lower"),
       ("ext.Dedup.append_s", "s", "lower"),
       ("ext.StoreMeta.store_files", "count", "lower"),
       ("ext.StoreMeta.compact_s", "s", "lower")]
    + [("trace.overhead." + name, unit, "higher" if better == "higher" else "lower")
       for name, unit, better in E2E])


# ── inputs ───────────────────────────────────────────────────────────────────

def _write_tsv(path, rows):
    path.write_text("".join("\t".join(str(c) for c in r) + "\n" for r in rows),
                    encoding="utf-8")


def _write_docs(path, docs):
    with open(path, "w", encoding="utf-8") as f:
        for i, text in docs:
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")


def _raw_batches(inputs, seed, n, rows, titles):
    (inputs / "batches").mkdir(parents=True)
    index, all_facts = [], []
    for b in range(n):
        text, facts = gen.videostart_batch(seed * 1000 + b, rows, titles)
        name = "b%04d.csv" % b
        (inputs / "batches" / name).write_text(text, encoding="utf-8")
        index.append((name, len(facts), rows))
        all_facts.extend(facts)
    _write_tsv(inputs / "batches.tsv", index)
    return all_facts


def make_inputs(workload, seed, inputs):
    cfg = WORKLOADS[workload]
    inputs.mkdir(parents=True)
    if workload == "star_ingest":
        _raw_batches(inputs, seed, cfg["pool"], cfg["batch_rows"], cfg["titles"])
    elif workload == "star_report":
        facts = _raw_batches(inputs, seed, cfg["deltas"], cfg["batch_rows"],
                             cfg["titles"])
        rows = [(q, gen.digest(lines))
                for q, lines in gen.report_lines(facts).items()]
        rows += [("param_day", gen.REPORT_DAY),
                 ("param_platform", gen.REPORT_PLATFORM),
                 ("param_topn", gen.REPORT_TOPN)]
        _write_tsv(inputs / "report.tsv", rows)
    elif workload == "curate_corpus":
        docs, planted = gen.corpus(seed, cfg["docs"])
        _write_docs(inputs / "corpus.jsonl", docs)
        rows = [("exact", i) for i in planted["exact"]]
        rows += [("cluster", c, i) for c, ids in enumerate(planted["clusters"])
                 for i in ids]
        rows += [("lowq", i) for i in planted["lowq"]]
        _write_tsv(inputs / "planted.tsv", rows)
    elif workload == "served_admit":
        store, batches, planted = gen.served_batches(
            seed, cfg["store_docs"], cfg["pool"], cfg["batch_docs"])
        _write_docs(inputs / "store.jsonl", store)
        (inputs / "batches").mkdir()
        index = []
        for k, docs in enumerate(batches):
            name = "b%04d.jsonl" % k
            _write_docs(inputs / "batches" / name, docs)
            index.append((name, len(docs)))
        _write_tsv(inputs / "batches.tsv", index)
        _write_tsv(inputs / "planted.tsv",
                   [(k, b, s) for k, pairs in enumerate(planted) for b, s in pairs])


# ── host facts ───────────────────────────────────────────────────────────────

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    """HEAD of the checkout when it is itself a git work tree, else None
    (the source digest then identifies the code)."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           cwd=ROOT, text=True, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL)
    except OSError:
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return None
    return lines[1]


# ── metrics ──────────────────────────────────────────────────────────────────

def window_metrics(res, ops, setups):
    """End-to-end metrics of one timed window (list of op records)."""
    durs = [o["dur_s"] for o in ops]
    p, tail_v = stats.tail(durs)
    total = sum(durs)
    if res["workload"] == "star_report":
        # read-only ops: the bytes are those the set-up's publishes wrote
        # into the store every query reads, per raw input byte
        s = setups[-1]
        bw = s["bytes_written"] / s["in_bytes"]
    else:
        bw = sum(o["bytes_written"] for o in ops) / sum(o["in_bytes"] for o in ops)
    return {
        "setup_s": stats.median([s["dur_s"] for s in setups]),
        "op_p50_s": stats.median(durs),
        "op_tail_s": tail_v,
        "input_rows_per_s": sum(o["in_rows"] for o in ops) / total,
        "bytes_written_per_input_byte": bw,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }, {"tail_percentile": p, "n": len(durs)}


def layer_metrics(res, ops):
    """Per-layer metrics of the traced window: per-op means, except the
    compaction count, which is the window's total."""
    tr = res["trace"]
    stages = {s["id"]: s for s in tr["stages"]}
    per_op = [stats.op_layers(o, tr["jobs"], stages, tr["progress"]) for o in ops]
    out = {k: stats.mean([r.get(k, 0.0) for r in per_op]) for k in per_op[0]}
    x = [o["x"] for o in ops]

    def mean_x(key, default=0.0):
        return stats.mean([e.get(key, default) for e in x])

    ingest = res["workload"] == "star_ingest"
    comp = [o for o in ops if o["x"].get("compacted")]
    out["etl.Incremental.input_rows_per_raw_row"] = (
        sum(r["input_records"] for r in per_op) / sum(o["in_rows"] for o in ops)
        if ingest else 0.0)
    out["etl.Pipeline.compactions"] = len(comp)
    out["etl.Pipeline.compact_op_s"] = stats.mean([o["dur_s"] for o in comp])
    out["etl.Pipeline.files_written"] = (
        stats.mean([o["files_written"] for o in ops]) if ingest else 0.0)
    out["etl.Pipeline.live_deltas"] = mean_x("live_deltas", 0)
    out["ext.Dedup.dup_recall"] = mean_x("dup_recall")
    out["ext.Dedup.probe_s"] = mean_x("probe_s")
    out["ext.Dedup.append_s"] = mean_x("append_s")
    out["ext.StoreMeta.store_files"] = mean_x("store_files", 0)
    out["ext.StoreMeta.compact_s"] = stats.mean(
        [e["compact_s"] for e in x if "compact_s" in e])
    return out


# ── main ─────────────────────────────────────────────────────────────────────

def run(args):
    cfg = WORKLOADS[args.workload]
    cores = min(4, nproc())
    cpu0 = cpu_times()
    facts = {"nproc": nproc(), "local": "local[%d]" % cores,
             "load_avg_start": list(os.getloadavg()),
             "git_commit": git_commit(), "source_digest": None}
    classpath = build.build()
    facts["source_digest"] = build.source_digest()

    tag = "%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid())
    work = ROOT / ".bench_work" / tag
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    raw_path = out_dir / ("%s-s%d-t%d.json" % (args.workload, args.seed, args.trace))
    try:
        make_inputs(args.workload, args.seed, work / "inputs")
        (work / "tmp").mkdir()
        hargs = {"workload": args.workload, "inputs": work / "inputs",
                 "work": work / "run", "out": work / "result.json",
                 "seconds": args.seconds, "trace": args.trace, "cores": cores,
                 # a traced run needs a warm untraced and a traced set-up
                 # beside the cold first one to report set-up overhead
                 "setups": max(cfg["setups"], 3) if args.trace else cfg["setups"],
                 "warmups": cfg["warmups"],
                 "unit": cfg["unit"],
                 "compact-every": cfg.get("compact_every", 0),
                 "recall-floor": cfg.get("recall_floor", 0.0)}
        cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in JVM_OPENS]
               + ["-Xms1g", "-Xmx1g", "-XX:-UsePerfData",
                  "-Djava.io.tmpdir=%s" % (work / "tmp"),
                  "-Dspark.ui.enabled=false", "-cp", classpath,
                  "perfbench.Harness"]
               + [s for k, v in hargs.items() for s in ("--" + k, str(v))])
        log_path = out_dir / ("%s.log" % tag)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=str(ROOT), stdout=log,
                                    stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=HARNESS_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RuntimeError("harness exceeded %d s" % HARNESS_TIMEOUT_S)
        if proc.returncode != 0:
            tail_lines = log_path.read_text(errors="replace").splitlines()[-30:]
            raise RuntimeError("harness exited %d:\n%s" % (proc.returncode,
                                                          "\n".join(tail_lines)))
        log_path.unlink()
        res = json.loads((work / "result.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # CPU time the hypervisor gave to other guests: a noisy host shows here
        facts["steal_share"] = (cpu1[0] - cpu0[0]) / float(cpu1[1] - cpu0[1])
    facts.update({"load_avg_end": list(os.getloadavg()), "java": res["java"],
                  "spark": res["spark"], "master": res["master"]})
    res["host"] = facts
    raw_path.write_text(json.dumps(res))

    win_a = [o for o in res["ops"] if o["phase"] == "A"]
    win_b = [o for o in res["ops"] if o["phase"] == "B"]
    timed = win_a + win_b
    failed = sum(1 for o in timed if not o["ok"])
    run_failures = ([o["note"] for o in res["setups"] + res["ops"]
                     if not o["ok"] and o["phase"] in ("setup", "warmup")]
                    + [k + ": " + v["detail"] for k, v in res["checks"].items()
                       if not v["ok"]])
    if run_failures:
        failed = len(timed)  # a broken set-up or store invalidates every op
    for o in timed:
        if not o["ok"]:
            print("op failed: %s %s: %s" % (o["phase"], o["kind"], o["note"]))
    for f in run_failures:
        print("run check failed: %s" % f)

    e2e, tail_info = window_metrics(res, win_a, res["setups"])
    print("host " + json.dumps(facts, sort_keys=True))
    print("workload %s seed %d: %d timed ops, tail = p%g of n=%d%s, "
          "failed_frac %.4f" % (
              args.workload, args.seed, len(timed), tail_info["tail_percentile"],
              tail_info["n"],
              " (n < %d: fewer than %d samples beyond any ladder rung, "
              "maximum reported)" % (2 * stats.TAIL_MIN_BEYOND, stats.TAIL_MIN_BEYOND)
              if tail_info["tail_percentile"] == 100.0 else "",
              failed / float(len(timed))))
    if args.trace:
        metrics = layer_metrics(res, win_b)
        e2e_b, _ = window_metrics(res, win_b, res["setups"])
        # set-ups alternate untraced/traced; the first (cold) one is left out
        later = res["setups"][1:]
        for name, _unit, _better in E2E:
            if name == "setup_s":
                on = [s["dur_s"] for s in later if s["traced"]]
                off = [s["dur_s"] for s in later if not s["traced"]]
                delta = stats.median(on) - stats.median(off) if on and off else 0.0
            else:
                delta = e2e_b[name] - e2e[name]
            metrics["trace.overhead." + name] = delta
        spec = LAYERS
    else:
        metrics = e2e
        spec = E2E
    out = {name: {"value": metrics[name], "unit": unit} for name, unit, _ in spec}
    print(json.dumps({"correct": failed == 0, "attempted": len(timed),
                      "failed": failed, "metrics": out}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        run(args)
    except (build.BuildError, RuntimeError, OSError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
