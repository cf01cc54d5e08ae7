#!/usr/bin/env python3
"""Summarize a traced benchmark run's spans.jsonl, op by op.

    python3 tools/spans.py .bench_build/trace/curate/spans.jsonl

`perfbench/run.py --trace 1` writes the file: one JSON object a line,
either a span (a root op has parent "0"; a layer call inside an op has
its parent span's id), a Spark job ("spark.job": stage ids and the SQL
execution that ran it) or a stage attempt of a job ("spark.stage": task
metrics summed over the stage's tasks).

For each op name it prints the number of ops and, per op: Spark jobs,
the SQL executions those jobs ran in, stages that ran, tasks, shuffle
bytes written, executor run seconds, op wall seconds and the driver gap
(op seconds no job of the op covered: planning, driver-side collects,
commit work).

It then flags shuffle stages of one SQL execution that wrote identical
byte counts. Two map stages writing the same bytes in one execution
are nearly always one exchange computed twice (Spark reused neither
the exchange nor a cache for the second branch), so each flag names
a subtree worth reading in the plan.
"""
import collections
import json
import sys


def load(path):
    spans, jobs, stages = {}, {}, {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r["name"] == "spark.job":
                jobs[r["id"]] = r
            elif r["name"] == "spark.stage":
                # a stage listed by several jobs appears once per job with
                # the same metrics: keep one
                stages[r["id"]] = r
            else:
                spans[r["id"]] = r
    return spans, jobs, stages


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_rows(spans, jobs, stages):
    """One dict per root op: its counters and the stages of its jobs."""
    by_op = collections.defaultdict(list)
    for j in jobs.values():
        by_op[j["op"]].append(j)
    rows = []
    for sp in spans.values():
        if sp["parent"] != "0":
            continue
        start, end = sp["start_ms"], sp["end_ms"]
        js = by_op.get(sp["id"], [])
        st_ids = {f"stage-{i}" for j in js for i in j["attrs"]["stages"]}
        st = [stages[i] for i in sorted(st_ids) if i in stages]
        covered = union_ms(
            (max(j["start_ms"], start), min(end if j["end_ms"] < 0 else j["end_ms"], end))
            for j in js)
        rows.append({
            "name": sp["name"], "id": sp["id"], "jobs": js, "stages": st,
            "execs": len({j["attrs"]["sql_execution"] for j in js} - {-1}),
            "wall_s": (end - start) / 1e3,
            "gap_s": max(0.0, (end - start - covered) / 1e3),
            "tasks": sum(s["attrs"]["tasks"] for s in st),
            "shuffle_write": sum(s["attrs"]["shuffle_write"] for s in st),
            "run_s": sum(s["attrs"]["run_ms"] for s in st) / 1e3,
        })
    return rows


def duplicate_shuffles(row):
    """(sql execution, bytes, stage ids) for every byte count written by
    two or more shuffle stages of one SQL execution of the op."""
    exec_of = {}
    for j in row["jobs"]:
        for i in j["attrs"]["stages"]:
            exec_of.setdefault(f"stage-{i}", j["attrs"]["sql_execution"])
    groups = collections.defaultdict(list)
    for s in row["stages"]:
        ex, w = exec_of.get(s["id"], -1), s["attrs"]["shuffle_write"]
        if ex >= 0 and w > 0:
            groups[(ex, w)].append(s["id"])
    return [(ex, w, ids) for (ex, w), ids in sorted(groups.items()) if len(ids) > 1]


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[0], file=sys.stderr)
        print(f"usage: {argv[0]} SPANS.jsonl", file=sys.stderr)
        return 2
    rows = op_rows(*load(argv[1]))
    names = sorted({r["name"] for r in rows})
    print(f"{'op':24s} {'n':>3s} {'jobs':>7s} {'sql':>5s} {'stages':>7s} {'tasks':>7s} "
          f"{'shuffle_MB':>10s} {'exec_run_s':>10s} {'wall_s':>7s} {'gap_s':>7s}   (per op)")
    for name in names:
        rs = [r for r in rows if r["name"] == name]
        n = len(rs)

        def per(f):
            return sum(f(r) for r in rs) / n
        print(f"{name:24s} {n:3d} {per(lambda r: len(r['jobs'])):7.2f} {per(lambda r: r['execs']):5.2f} "
              f"{per(lambda r: len(r['stages'])):7.2f} {per(lambda r: r['tasks']):7.1f} "
              f"{per(lambda r: r['shuffle_write']) / 1e6:10.3f} {per(lambda r: r['run_s']):10.3f} "
              f"{per(lambda r: r['wall_s']):7.3f} {per(lambda r: r['gap_s']):7.3f}")
    dups = [(r, d) for r in sorted(rows, key=lambda r: int(r["id"])) for d in duplicate_shuffles(r)]
    print()
    if not dups:
        print("no shuffle stages of one SQL execution wrote identical byte counts")
    for r, (ex, w, ids) in dups:
        print(f"DUPLICATE {r['name']} (op {r['id']}) sql execution {ex}: "
              f"{len(ids)} shuffle stages wrote {w:,} B each: {', '.join(ids)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
