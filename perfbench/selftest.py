#!/usr/bin/env python3
"""Self-test of the envelope generator and the correctness gate.

    python3 perfbench/selftest.py

Needs no JVM. Checks that the same seed gives the same bytes and another
seed other bytes, that outputs equal to the generator's model pass the cdc
gate while one corrupted serving row or lookup row fails it, and that a
query result equal to DuckDB's passes the query gate while one corrupted
cell fails it. Exits non-zero on the first broken check.
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import cdcgen  # noqa: E402
import gate  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def expect(cond, what):
    if not cond:
        print("FAIL " + what)
        sys.exit(1)
    print("ok   " + what)


def digest(stream):
    h = hashlib.sha256()
    for lines, keys in zip(stream.files, stream.lookups):
        h.update("\n".join(lines).encode())
        h.update(repr(keys).encode())
    return h.hexdigest()


def write_cdc_outputs(work, answers, snapshot):
    out = os.path.join(work, "cdc_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "answers.jsonl"), "w") as f:
        for i, rows in answers:
            f.write(json.dumps({"file": i, "rows": rows}) + "\n")
    with open(os.path.join(out, "snapshot.jsonl"), "w") as f:
        for row in snapshot:
            f.write(json.dumps(row) + "\n")


def cdc_checks(work):
    a, b, c = (cdcgen.generate(s, 2) for s in (5, 5, 6))
    expect(digest(a) == digest(b), "same seed gives the same stream bytes")
    expect(digest(a) != digest(c), "another seed gives another stream")
    kinds = "".join(a.files[-1])
    expect(a.dlq_lines > 0 and a.late_dropped > 0 and '"other_table"' in kinds,
           "the stream plants DLQ lines, late drops and unselected records")

    answers = [(i, [cdcgen.row_tuple(r) for r in ans.values()])
               for i, ans in enumerate(a.answers)]
    snapshot = [cdcgen.row_tuple(r) for r in a.snapshot.values()]
    result = {"dlq_lines": a.dlq_lines, "late_dropped": a.late_dropped}

    write_cdc_outputs(work, answers, snapshot)
    v = gate.check_cdc(a, result, work)
    expect(v["failed"] == 0, "outputs equal to the model pass the cdc gate")

    bad = [list(r) for r in snapshot]
    bad[len(bad) // 2][4] += 1
    write_cdc_outputs(work, answers, bad)
    v = gate.check_cdc(a, result, work)
    expect(v["failed"] > 0, "one corrupted serving row fails the cdc gate")

    i = max(range(len(answers)), key=lambda k: len(answers[k][1]))
    bad_answers = [(k, [list(r) for r in rows]) for k, rows in answers]
    bad_answers[i][1][0][2] = "corrupted"
    write_cdc_outputs(work, bad_answers, snapshot)
    v = gate.check_cdc(a, result, work)
    expect(v["failed"] == 1, "one corrupted lookup row fails one lookup")

    write_cdc_outputs(work, answers, snapshot)
    v = gate.check_cdc(a, dict(result, dlq_lines=a.dlq_lines - 1), work)
    expect(v["failed"] > 0, "a lost DLQ line fails the cdc gate")


def query_checks(work):
    import duckdb
    sql = ("SELECT n_nationkey, n_name, n_regionkey FROM nation "
           "ORDER BY n_nationkey")
    results = os.path.join(work, "results")
    os.makedirs(os.path.join(results, "qtest"))
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump({"qtest": sql}, f)
    con = duckdb.connect()
    src = os.path.join(DATA, "nation.parquet")
    out = os.path.join(results, "qtest", "part-0.parquet")
    spans = [{"kind": "query", "name": "qtest", "ok": True, "fingerprint": 7,
              "pass": p} for p in (0, 1)]

    con.execute("COPY (SELECT n_nationkey, n_name, n_regionkey FROM "
                "read_parquet('%s') ORDER BY n_nationkey) TO '%s' "
                "(FORMAT PARQUET)" % (src, out))
    v = gate.check_queries(DATA, work, {"errors": {}}, spans)
    expect(v["failed"] == 0, "a result equal to DuckDB's passes the query gate")

    moved = [dict(spans[0]), dict(spans[1], fingerprint=8)]
    v = gate.check_queries(DATA, work, {"errors": {}}, moved)
    expect(v["failed"] == 1, "a later result that differs fails that call")

    con.execute("COPY (SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN "
                "'CORRUPTED' ELSE n_name END AS n_name, n_regionkey FROM "
                "read_parquet('%s') ORDER BY n_nationkey) TO '%s' "
                "(FORMAT PARQUET)" % (src, out))
    v = gate.check_queries(DATA, work, {"errors": {}}, spans)
    expect(v["failed"] == 2, "one corrupted query row fails every call of it")


def main():
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.dirname(
        os.path.abspath(__file__)))
    try:
        cdc_checks(work)
        query_checks(work)
    finally:
        shutil.rmtree(work)


if __name__ == "__main__":
    main()
