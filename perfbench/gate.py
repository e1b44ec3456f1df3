"""Correctness gate of the benchmark, run outside the timed window.

Query workloads: the first result of every registry query is compared with
DuckDB running the registry's own oracle SQL (graft.SparkEntry.oracleSql)
over the same tables, by the rules of tools/check_oracle.py: columns sorted
by name, same row count, every cell equal after normalisation, in result
order. Every later execution of the query must give the same result
fingerprint as the checked one.

cdc_ingest: every lookup answer and the final serving view are compared
with the generator's last-write-wins model, and the DLQ line count and the
watermark's late-drop count with the numbers the generator planted.

A wrong answer counts as a failed operation. The comparison rules are copied
here rather than imported from tools/, so a change to the tool cannot change
what the benchmark accepts.
"""
import glob
import json
import math
import os
from decimal import Decimal

import cdcgen

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm(v):
    """Cell normalisation of tools/check_oracle.py."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    return str(v)


def compare_query(con, sql, res_dir):
    """None when the Spark result in res_dir matches DuckDB on sql, else why."""
    if not glob.glob(os.path.join(res_dir, "*.parquet")):
        return "no result written"
    try:
        got = con.execute("SELECT * FROM read_parquet('%s/*.parquet')"
                          % res_dir).fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:  # a failing oracle or unreadable result fails the query
        return "duckdb: %s" % e
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if gcols != wcols:
        return "columns %s vs %s" % (gcols, wcols)
    if len(got) != len(want):
        return "rows %d vs %d" % (len(got), len(want))
    got, want = got[gcols], want[wcols]
    for i in range(len(got)):
        for c in gcols:
            g, w = norm(got[c].iloc[i]), norm(want[c].iloc[i])
            if g != w:
                return "row %d col %s: spark=%r duckdb=%r" % (i, c, g, w)
    return None


def check_queries(sf_dir, work, result, spans):
    import duckdb
    calls = [s for s in spans if s["kind"] == "query"]
    results = os.path.join(work, "results")
    oracle_path = os.path.join(results, "oracle_sql.json")
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, p))
    problems, bad = [], set()
    for name in sorted({c["name"] for c in calls}):
        why = ("no oracle SQL" if name not in oracle else
               compare_query(con, oracle[name], os.path.join(results, name)))
        if why:
            bad.add(name)
            problems.append("%s: %s" % (name, why))
    checked = {}
    failed = 0
    for c in calls:
        if not c["ok"]:
            failed += 1
            problems.append("%s: raised %s" % (c["name"],
                            result["errors"].get(c["name"], "")))
            continue
        ref = checked.setdefault(c["name"], c["fingerprint"])
        if c["name"] in bad or c["fingerprint"] != ref:
            failed += 1
            if c["fingerprint"] != ref:
                problems.append("%s: pass %d result differs from the checked one"
                                % (c["name"], c["pass"]))
    return {"attempted": len(calls), "failed": failed, "problems": problems}


def _rows(rows):
    return sorted(tuple(r) for r in rows)


def check_cdc(stream, result, work):
    """Compares the run's outputs with the generator's model."""
    out = os.path.join(work, "cdc_out")
    answers = [json.loads(l) for l in open(os.path.join(out, "answers.jsonl"))
               if l.strip()]
    snapshot = [json.loads(l) for l in open(os.path.join(out, "snapshot.jsonl"))
                if l.strip()]
    commits = len(stream.files)   # a lookup follows every commit
    problems = []
    failed = commits - len(answers)
    for a in answers:
        want = _rows(cdcgen.row_tuple(r) for r in stream.answers[a["file"]].values())
        if _rows(a["rows"]) != want:
            failed += 1
            problems.append("lookup after file %d: %d rows, model has %d"
                            % (a["file"], len(a["rows"]), len(want)))
    state_ok = True
    want = _rows(cdcgen.row_tuple(r) for r in stream.snapshot.values())
    if _rows(snapshot) != want:
        state_ok = False
        diff = set(map(tuple, snapshot)) ^ set(want)
        problems.append("serving view: %d rows, model has %d, %d differ"
                        % (len(snapshot), len(want), len(diff)))
    if result["dlq_lines"] != stream.dlq_lines:
        state_ok = False
        problems.append("DLQ has %d lines, generator planted %d"
                        % (result["dlq_lines"], stream.dlq_lines))
    if result["late_dropped"] != stream.late_dropped:
        state_ok = False
        problems.append("watermark dropped %d records, model drops %d"
                        % (result["late_dropped"], stream.late_dropped))
    if not state_ok:
        failed += commits
    return {"attempted": 2 * commits, "failed": failed,
            "problems": problems}
