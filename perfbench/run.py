#!/usr/bin/env python3
"""Runs one workload of the engine benchmark and prints its metrics.

    python3 perfbench/run.py --workload query_board --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run starts one client JVM
(perfbench.Main), checks every output outside the timed window, and prints
a JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones from the traced passes. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

import cdcgen
import gate
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 165
# A traced run: one untraced lead-in pass, then untraced, traced, traced,
# untraced, so a linear trend across passes cancels in the overhead.
TRACED_PASSES = 5
HEAP = "-Xmx2g"

# Queries are registry names (graft.SparkEntry.queries). Why each workload
# holds what it holds is in README.md.
WORKLOADS = {
    "query_board": {"queries": [
        "q02_inner_join", "q10_hash_agg", "q16_rank_window",
        "q20_global_sort_limit", "q200_kcore", "q123_simjoin_prefix",
        "q44_fingerprint", "q48d_pq_topk"]},
    "cdc_ingest": {},
}


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the build stamp."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            out += [os.path.join(d, f) for f in files
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(out + [os.path.join(ROOT, "build.sbt"),
                         os.path.join(HERE, "build.sbt")])


def build():
    """Compiles engine and harness unless the stamp says nothing changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("the engine sources are missing (%s); run from a full "
                 "checkout of the repository" % need)
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(TARGET, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Dsbt.server.autostart=false -Djava.io.tmpdir=%s "
                        "-XX:-UsePerfData -Xmx2g" % tmp)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = wait(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT), None)
    if rc != 0:
        fail("build failed; see perfbench/.work/build.log", 1)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def wait(proc, timeout):
    """Exit code of proc, or None on timeout. The child never outlives this
    process: a timeout, an interrupt or a SIGTERM kills it and waits."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def launch(args, work, extra):
    cp = open(os.path.join(TARGET, "classpath.txt")).read().strip()
    jopts = open(os.path.join(TARGET, "javaopts.txt")).read().split()
    cpus = os.cpu_count() or 1
    kv = dict(workload=args.workload, seed=args.seed, trace=args.trace,
              cpus=cpus, work=work,
              data=os.path.join(HERE, "data"), **extra)
    cmd = (["java"] + jopts + [HEAP, "-XX:-UsePerfData",
                               "-Djava.io.tmpdir=" + work + "/tmp",
                               "-cp", cp, "perfbench.Main"]
           + ["%s=%s" % e for e in kv.items()])
    os.makedirs(work + "/tmp")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = wait(subprocess.Popen(cmd, cwd=ROOT, stdout=log,
                                   stderr=subprocess.STDOUT), JVM_TIMEOUT_S)
    if rc is None:
        fail("client JVM timed out; see %s/jvm.log" % work, 3)
    if rc != 0:
        fail("client JVM failed (exit %d); see %s/jvm.log" % (rc, work), 3)
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(work, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    return result, spans


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else float("nan")


def end_to_end(result, spans):
    """The end-to-end metrics, from the untraced passes."""
    passes = [p for p in result["passes"] if not p["traced"]]
    timed = {p["pass"] for p in passes}
    calls = [s for s in spans if s["kind"] in ("query", "commit", "lookup")
             and s["pass"] in timed]
    if result["workload"] == "cdc_ingest":
        jobs = [c["wall_s"] for c in calls]
    else:
        per_query = {}
        for c in calls:
            per_query.setdefault(c["name"], []).append(c["wall_s"])
        jobs = [median(v) for v in per_query.values()]
    return {
        "setup_s": (result["setup_s"], "s"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        "job_geomean_s": (geomean(jobs), "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "heap_peak_mb": (max(p["live_heap_mb"] for p in passes), "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = WORKLOADS[args.workload]
    if args.workload == "cdc_ingest":
        # the stream is a fixed amount of work, two passes of files at 15 s
        passes = TRACED_PASSES if args.trace else max(1, round(args.seconds / 7.5))
        stream = cdcgen.generate(args.seed, passes)
        cdcgen.write(stream, os.path.join(work, "stream"))
        extra = {"stream": os.path.join(work, "stream"),
                 "warmup_files": len(cdcgen.WARMUP_SIZES),
                 "files_per_pass": len(cdcgen.SIZES)}
    else:
        # a fixed number of passes, two at 15 s
        extra = {"queries": ",".join(spec["queries"]),
                 "passes": TRACED_PASSES if args.trace
                 else max(1, round(args.seconds / 7.5))}
    result, spans = launch(args, work, extra)

    if args.workload == "cdc_ingest":
        verdict = gate.check_cdc(stream, result, work)
    else:
        verdict = gate.check_queries(
            os.path.join(HERE, "data", "sf0.01"), work, result, spans)
    for line in verdict["problems"][:20]:
        print("check: " + line)

    if args.trace:
        metrics = layers.per_layer(result, spans, ROOT)
    else:
        metrics = end_to_end(result, spans)
    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if bad:
        fail("no value for %s; see %s" % (", ".join(bad), work), 4)
    host = dict(result["host"], steal_s=sum(p["steal_s"] for p in result["passes"]),
                passes=len(result["passes"]))
    print("host: " + json.dumps(host, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print("%-36s %14.6g %s" % (name, value, unit))
    print(json.dumps({
        "correct": verdict["failed"] == 0,
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
