"""Per-layer metrics of a traced run, computed from its spans.

Every job is billed to one module of this repository by its call site: the
source file of the first non-Spark frame, looked up under src/main/scala
(PageRank.scala -> operators). A job Spark starts on a helper thread (an
adaptive query stage, a broadcast) has no such frame; it takes the call
site its SQL execution recorded when it started. A job started by a client
call whose call site is still not an engine file (the call's own final
action) is billed to the module the call entered: queries for a registry
query, streaming for an ingest commit or a lookup, cdc for a parse. Stream
jobs carry the call site of the query's start (CdcStreamPipeline.scala),
so they bill to streaming. Anything else is billed to engine. Counts and
times are per traced pass.
"""
import os
import re
import statistics

SITE = re.compile(r" at ([\w$.-]+\.(?:scala|java)):\d+")
CALL_MODULE = {"query": "queries", "commit": "streaming",
               "lookup": "streaming", "parse": "cdc"}
MODULE_METRICS = ("operators", "functions", "text")


def module_map(root):
    """Source file name -> module (its directory under graft/)."""
    base = os.path.join(root, "src", "main", "scala", "graft")
    out = {}
    for d, _, files in os.walk(base):
        rel = os.path.relpath(d, base).split(os.sep)
        mod = "queries" if rel == ["."] else rel[0]
        for f in files:
            out.setdefault(f, mod)
    return out


def union_s(intervals):
    """Seconds covered by a set of (start_ms, end_ms) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def per_layer(result, spans, root):
    mods = module_map(root)
    passes = result["passes"]
    traced = {p["pass"] for p in passes if p["traced"]}
    n = max(len(traced), 1)
    calls = {s["id"]: s for s in spans if s["kind"] in CALL_MODULE}
    jobs = {s["id"]: dict(s, stage_recs=[]) for s in spans if s["kind"] == "job"}
    for s in spans:
        if s["kind"] == "job_end" and s["id"] in jobs:
            jobs[s["id"]]["end"] = s["end"]
    # a job also lists the stages it skips because an earlier job already
    # ran them, so a stage belongs to the first job that lists it
    stage_job = {}
    for j in sorted(jobs.values(), key=lambda j: j["start"]):
        for st in j["stages"]:
            stage_job.setdefault(st, j["id"])
    stages = [s for s in spans if s["kind"] == "stage"]
    for st in stages:
        if st["stage"] in stage_job:
            jobs[stage_job[st["stage"]]]["stage_recs"].append(st)

    def site_module(j):
        m = SITE.search(j["site"] or "")
        return mods.get(m.group(1)) if m else None

    # jobs Spark starts on helper threads carry no engine call site; their
    # SQL execution holds that of the action that caused them
    exec_module = {s["exec"]: site_module(s) for s in spans if s["kind"] == "exec"}
    for j in jobs.values():
        j.setdefault("end", j["start"])
        call = calls.get(j["call"])
        mod = site_module(j) or exec_module.get(j.get("exec"))
        if mod:
            j["module"] = mod
        elif call is not None:
            j["module"] = CALL_MODULE[call["kind"]]
        else:
            j["module"] = "streaming" if j["query"] else "engine"

    def jsum(js, key):
        return sum(st[key] for j in js for st in j["stage_recs"])

    traced_calls = [c for c in calls.values() if c["pass"] in traced]
    out = {}
    q_jobs = [j for j in jobs.values() if j["module"] == "queries"]
    out["queries.jobs"] = (len(q_jobs) / n, "count")
    driver = 0.0
    by_call = {}
    for j in jobs.values():
        by_call.setdefault(j["call"], []).append((j["start"], j["end"]))
    for c in traced_calls:
        if c["kind"] != "query":
            continue
        inside = [(max(s, c["start"]), min(e, c["end"]))
                  for s, e in by_call.get(c["id"], []) if e > c["start"]]
        driver += max(c["wall_s"] - union_s(inside), 0.0)
    out["queries.driver_s"] = (driver / n, "s")
    out["queries.plan_s"] = (sum(s["plan_ms"] for s in spans
                                 if s["kind"] == "sql") / 1000.0 / n, "s")

    all_jobs = list(jobs.values())
    out["engine.jobs"] = (len(all_jobs) / n, "count")
    out["engine.task_cpu_s"] = (jsum(all_jobs, "cpu_ns") / 1e9 / n, "s")
    out["engine.shuffle_bytes"] = (jsum(all_jobs, "shuffle_bytes") / n, "B")
    out["engine.scan_bytes"] = (jsum(all_jobs, "input_bytes") / n, "B")
    out["engine.spill_bytes"] = (jsum(all_jobs, "spill_bytes") / n, "B")
    out["engine.sched_wait_s"] = (jsum(all_jobs, "sched_wait_ms") / 1000.0 / n, "s")
    out["engine.gc_s"] = (sum(p["gc_s"] for p in passes if p["traced"]) / n, "s")

    for mod in MODULE_METRICS:
        js = [j for j in all_jobs if j["module"] == mod]
        out[mod + ".jobs"] = (len(js) / n, "count")
        out[mod + ".busy_s"] = (union_s([(j["start"], j["end"]) for j in js]) / n, "s")

    parses = [c for c in traced_calls if c["kind"] == "parse"]
    out["cdc.parse_s"] = (sum(c["wall_s"] for c in parses) / n, "s")
    out.update(streaming(result, spans, jobs, calls, traced, n))

    walls = lambda t: [p["wall_s"] for p in passes
                       if p["traced"] == t and not p["lead_in"]]
    out["host.steal_s"] = (sum(p["steal_s"] for p in passes) / len(passes), "s")
    out["trace.overhead_s"] = (
        statistics.mean(walls(True)) - statistics.mean(walls(False)), "s")
    return out


def streaming(result, spans, jobs, calls, traced, n):
    """Streaming-layer metrics; all 0 on the query workloads."""
    triggers = [s for s in spans if s["kind"] == "trigger"]
    commits = [c for c in calls.values() if c["kind"] == "commit"]
    lookups = [c for c in calls.values() if c["kind"] == "lookup"]
    t_commits = [c for c in commits if c["pass"] in traced]
    t_lookups = [c for c in lookups if c["pass"] in traced]
    state = {}
    for t in triggers:
        state[t["query"]] = state.get(t["query"], 0) + t["state_rows"]
    main = max(state, key=state.get) if state else None
    main_tr = sorted((t for t in triggers if t["query"] == main),
                     key=lambda t: t["start"])
    data_tr = [t for t in triggers if t["rows"] > 0]
    dur = lambda t, k: t["durations"].get(k, 0)
    queue = 0.0
    for c in t_commits:
        nxt = [t for t in main_tr if t["rows"] > 0 and t["start"] >= c["start"] - 5]
        if nxt:
            queue += max(nxt[0]["start"] - c["start"], 0) / 1000.0
    stream_jobs = [j for j in jobs.values() if j["query"]]
    serving_out = sum(c["serving_bytes"] for c in t_commits)
    in_bytes = sum(c["bytes"] for c in t_commits)
    lookup_reads = sum(st["input_records"] for j in jobs.values()
                       if j["call"] in {c["id"] for c in t_lookups}
                       for st in j["stage_recs"])
    hits = sum(c["hits"] for c in t_lookups)
    walls = [c["wall_s"] for c in commits]
    lwalls = [c["wall_s"] for c in lookups]
    buckets = result.get("serving_buckets", 0)
    rows = result.get("serving_rows", 0)
    return {
        "streaming.add_batch_s": (sum(dur(t, "addBatch") for t in triggers) / 1000.0 / n, "s"),
        "streaming.trigger_overhead_s": (sum(
            dur(t, "triggerExecution") - dur(t, "addBatch") for t in triggers) / 1000.0 / n, "s"),
        "streaming.queue_wait_s": (queue / n, "s"),
        "streaming.jobs_per_trigger": (len(stream_jobs) / len(data_tr) if data_tr else 0.0, "count"),
        "streaming.dirty_bucket_frac": (
            sum(c["dirty_buckets"] for c in t_commits) / (len(t_commits) * buckets)
            if t_commits and buckets else 0.0, "ratio"),
        "streaming.write_amp": (serving_out / in_bytes if in_bytes else 0.0, "ratio"),
        "streaming.state_rows": (main_tr[-1]["state_rows"] if main_tr else 0, "rows"),
        "streaming.state_bytes": (main_tr[-1]["state_bytes"] if main_tr else 0, "B"),
        "streaming.lookup_rows_read_per_hit": (lookup_reads / hits if hits else 0.0, "rows"),
        "streaming.dlq_rows": (result.get("dlq_lines", 0), "rows"),
        "streaming.late_dropped_rows": (result.get("late_dropped", 0), "rows"),
        "streaming.visible_s.mean": (statistics.mean(walls) if walls else 0.0, "s"),
        "streaming.lookup_s.mean": (statistics.mean(lwalls) if lwalls else 0.0, "s"),
        "streaming.ingest_rec_per_s": (
            sum(c["records"] for c in commits) / sum(walls) if walls else 0.0, "rec/s"),
        "streaming.serving_bytes_per_row": (
            result.get("serving_bytes", 0) / rows if rows else 0.0, "B/row"),
    }
