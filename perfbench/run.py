#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload storm_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run first calls build.py, which
compiles the engine and the harness from source into .bench_build/ (about a
minute) unless the sources are unchanged since the last build. The last
line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones. With --trace 1 they
are the per-layer ones, plus overhead.<metric> for every end-to-end metric:
this traced run's value minus the median of the untraced runs of the same
workload kept under .bench_build/ (0 when there are none yet). The line
before the result holds the run's health fields and the check problems,
if any.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks
from build import BUILD, HARNESS_SRC, ROOT, SPARK_JARS, build, fail  # noqa: F401

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "analytics_sf0.01.json")

WORKLOADS = {
    "storm_backlog": [],
    "analytics_sf0.01": ["--data", os.path.join(HERE, "data", "sf0.01")],
}
HEAP = {"storm_backlog": "2g", "analytics_sf0.01": "3g"}

END_TO_END = {
    "throughput_rps": "1/s", "latency_p50_s": "s", "latency_p90_s": "s",
    "suite_s": "s", "heap_after_gc_mb": "MB", "setup_s": "s",
}

FAMILIES = ["operators", "text", "functions", "dedup", "sim", "sources", "multimodal"]
CARRIED = ["unigram_encode", "text_stats", "text_quality", "dedup_clusters_multi"]
MEMOS = ["pruned_shingles", "lsh_artifacts", "dedup_clusters", "removal_tiers",
         "survivors", "audit_verdicts", "simhash_pairs", "prefix_docsets",
         "containment_pairs", "ivf_quantizer", "knn_edges", "media_table"]
PER_LAYER = (
    ["enrich.parse_rec_per_s", "enrich.enrich_rec_per_s", "enrich.wire_rec_per_s",
     "enrich.rec_per_s_1t",
     "stream.trigger_ms_p50", "stream.trigger_ms_p99", "stream.addBatch_ms_p50",
     "stream.planning_ms_p50", "stream.walCommit_ms_p50", "stream.offsets_ms_p50",
     "stream.jobs_per_batch", "stream.tasks_per_batch", "stream.codegen_per_batch",
     "stream.backlog_rows_max", "stream.batches",
     "stream.rows_per_batch_p50", "stream.poison_rows",
     "sink.good_ms_p50", "sink.poison_ms_p50", "ops.scrape_ms_p50",
     "query.plan_s", "query.driver_s", "query.jobs", "query.tasks", "query.deser_s",
     "query.task_cpu_s", "query.gc_s", "query.shuffle_mb", "query.spill_mb"]
    + [f"family.{f}.wall_s" for f in FAMILIES]
    + [f"q.{q}.{m}" for q in CARRIED for m in ("wall_s", "jobs", "deser_s")]
    + [f"memo.{m}.build_s" for m in MEMOS] + ["memo.hit_s", "jvm.gc_s", "jvm.heap_peak_mb"]
    + [f"overhead.{m}" for m in END_TO_END])


def unit(name):
    if name.startswith("overhead."):
        return END_TO_END[name[len("overhead."):]]
    if "rec_per_s" in name:
        return "1/s"
    for suffix, u in (("_ms_p50", "ms"), ("_ms_p99", "ms"), ("_mb", "MB"), ("_s", "s")):
        if name.endswith(suffix):
            return u
    return "count"


# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, a, trace, timeout):
    """One harness JVM; returns its raw result, with setup_s added."""
    tag = f"{a.workload}-s{a.seed}-t{trace}"
    work = os.path.join(BUILD, f"work-{os.getpid()}-{trace}")
    out = os.path.join(BUILD, "results", tag + ".json")
    log = os.path.join(BUILD, "logs", tag + ".log")
    for d in (work, os.path.dirname(out), os.path.dirname(log)):
        os.makedirs(d, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP[a.workload]}", "-Xss4m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS
           + ["-cp", os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(trace), "--out", out,
              "--work", work, "--cpus", str(cpus)] + WORKLOADS[a.workload])
    if os.path.exists(out):
        os.remove(out)
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {code}; log {log}")
    with open(out) as f:
        raw = json.load(f)
    raw["e2e"]["setup_s"] = raw["setup_end_ms"] / 1000.0 - t0
    with open(out, "w") as f:
        json.dump(raw, f)
    return raw


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (None where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def untraced_medians(workload):
    """Per-metric medians of this checkout's untraced runs of `workload`:
    the baseline the tracing overhead is measured against."""
    runs = []
    for path in glob.glob(os.path.join(BUILD, "results", f"{workload}-s*-t0.json")):
        with open(path) as f:
            runs.append(json.load(f)["e2e"])
    return len(runs), {k: statistics.median(r[k] for r in runs) for k in END_TO_END} if runs else {}


def write_expected(raw):
    want = {}
    for r in raw["checks"]["runs"]:
        if r["error"]:
            fail(f"{r['name']} failed: {r['error']}")
        want.setdefault(r["name"], {"rows": r["rows"], "hash": r["hash"]})
    with open(EXPECTED, "w") as f:
        json.dump({"data": "perfbench/data/sf0.01", "queries": want}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    return want


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="record this run's analytics rows and hashes as the expected file")
    a = ap.parse_args()

    classes = build()
    load_start, cpu_start = os.getloadavg()[0], cpu_times()
    raw = run_jvm(classes, a, a.trace, 170)
    expected = {}
    if a.write_expected:
        expected = write_expected(raw)
    elif a.workload.startswith("analytics"):
        with open(EXPECTED) as f:
            expected = json.load(f)["queries"]
    attempted, failed, problems = checks.verdict(a.workload, raw, expected)

    e2e = raw["e2e"]
    health = dict(raw["health"])
    health.update({"host_load_start": load_start, "host_load_end": os.getloadavg()[0],
                   "cpu_steal_share": steal_share(cpu_start, cpu_times()),
                   "samples": raw["samples"], "run_id": raw["run_id"]})
    if a.trace:
        n, base = untraced_medians(a.workload)
        layers = dict(raw["layers"])
        layers.update({f"overhead.{k}": e2e[k] - base[k] if n else 0.0 for k in END_TO_END})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": unit(k)}
                   for k in PER_LAYER}
        health.update({"traced_end_to_end": e2e, "overhead_baseline_runs": n,
                       "spans": os.path.relpath(os.path.join(
                           BUILD, "results", f"{a.workload}-s{a.seed}-t1.spans.json"), ROOT)})
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"run_health": health,
                      "problems": [list(p) for p in problems[:20]]}))
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
