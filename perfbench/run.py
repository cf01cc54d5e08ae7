#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest|curate --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The first run builds graft and the
benchmark program with sbt into .bench_build/; later runs reuse the build
while no source file changed. The run generates its inputs from the seed
under .bench_build/work/, measures for S seconds of timed ops, checks every
result, and prints a readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics BENCHMARK.json names;
with --trace 1 they are its per-layer metrics, and the spans and the full
per-layer table are written to .bench_build/trace/<workload>/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# A run must end within 180 s, and within 900 s when it also builds.
BUILD_LIMIT_S = 720
JVM_LIMIT_S = 160
HEAP = "3g"

# Spark on JDK 17 needs these when started outside spark-submit; the list
# matches the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Files whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return [f for f in files if os.path.isfile(f)]


def build(deadline):
    """Compiles graft and the benchmark; returns the runtime classpath."""
    newest = max(os.path.getmtime(f) for f in source_files())
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
            text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log_path}")
        log.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or not cp or not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail(f"build failed; see {log_path}")
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def stop(proc):
    """Kills a process group started with start_new_session and waits."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def cpu_times():
    """(busy, steal) jiffies summed over all host CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]) - idle - steal, steal


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def oracle_check(result):
    """Compares curation results with their DuckDB oracle; returns problems."""
    checks = result.get("oracle") or []
    if not checks:
        return []
    import duckdb

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in rows:
            out.append(tuple("NaN" if isinstance(r[i], float) and r[i] != r[i]
                             else str(round(r[i], 6)) if isinstance(r[i], float)
                             else str(r[i]) for i in order))
        return [cols[i] for i in order], sorted(out)

    problems = []
    for c in checks:
        con = duckdb.connect()
        con.execute(f"PRAGMA threads={os.cpu_count() or 1}")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{c['shard']}/{t}.parquet/*.parquet')")
        want = con.execute(c["sql"])
        wc, wr = canon([d[0] for d in want.description], want.fetchall())
        got = con.execute(f"SELECT * FROM read_parquet('{c['result']}/*.parquet')")
        gc, gr = canon([d[0] for d in got.description], got.fetchall())
        con.close()
        if wc != gc:
            problems.append(f"{c['query']}: columns {gc} != oracle {wc}")
        elif wr != gr:
            problems.append(f"{c['query']}: {len(gr)} rows differ from the oracle's {len(wr)}")
    return problems


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_json) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build(started + BUILD_LIMIT_S)

    tag = f"{args.workload}-{args.seed}-{'t' if args.trace else 'u'}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])

    load0, (busy0, steal0), t0 = loadavg(), cpu_times(), time.time()
    log_path = os.path.join(BUILD, f"{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {JVM_LIMIT_S} s; see {log_path}")
    wall = time.time() - t0
    load1, (busy1, steal1) = loadavg(), cpu_times()
    if proc.returncode != 0 or not os.path.isfile(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark program exited with {proc.returncode}; see {log_path}")
    with open(out) as f:
        result = json.load(f)

    problems = list(result["errors"])
    t_oracle = time.time()
    oracle_problems = oracle_check(result)
    t_oracle = time.time() - t_oracle
    problems += [f"oracle {p}" for p in oracle_problems]
    failed = result["failed"] + len(oracle_problems)
    correct = failed == 0 and result["checks_failed"] == 0 and not problems

    hz = os.sysconf("SC_CLK_TCK")
    d = result["diag"]
    host = {
        "loadavg_before": load0, "loadavg_after": load1,
        "other_cpu_s": round((busy1 - busy0) / hz - d["process_cpu_s"], 3),
        "steal_s": round((steal1 - steal0) / hz, 3),
        "calibration_before_s": d["calibration_before_s"],
        "calibration_after_s": d["calibration_after_s"],
        "process_wall_s": round(wall, 3),
        "oracle_s": round(t_oracle, 3),
    }

    m = result["metrics"]
    print(f"graft perfbench  workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} inputs={result['digest']}")
    print("end-to-end (untraced ops):")
    for name, v in m.items():
        print(f"  {name:34s} {fmt(v['value']):>14s} {v['unit']:7s} n={v['n']}")
    print(f"  {'error_rate':34s} {fmt(failed / max(1, result['attempted'])):>14s} "
          f"ratio   n={result['attempted']}")
    print("host: " + "  ".join(f"{k}={fmt(v)}" for k, v in host.items()))
    print("diag: " + "  ".join(f"{k}={fmt(v)}" for k, v in d.items()))
    print(f"checks: {result['attempted']} ops, {result['checks']} end checks, "
          f"{len(result.get('oracle') or [])} oracle comparisons; "
          + ("all passed" if correct else "FAILED: " + "; ".join(problems[:5])))

    if args.trace:
        layers = result["layers"]
        tdir = os.path.join(BUILD, "trace", args.workload)
        shutil.rmtree(tdir, ignore_errors=True)
        os.makedirs(tdir)
        shutil.copy(os.path.join(work, "spans.jsonl"), tdir)
        with open(os.path.join(tdir, "layers.tsv"), "w") as f:
            f.write("metric\tvalue\tunit\tn\n")
            for name, v in layers.items():
                f.write(f"{name}\t{v['value']}\t{v['unit']}\t{v['n']}\n")
        print(f"per-layer (traced ops; spans and table in {os.path.relpath(tdir, ROOT)}):")
        for name, v in layers.items():
            print(f"  {name:44s} {fmt(v['value']):>14s} {v['unit']:6s} n={v['n']}")
        wanted, source = spec["per_layer"], layers
    else:
        wanted, source = spec["end_to_end"], m

    missing = [w["name"] for w in wanted if w["name"] not in source]
    if missing:
        fail(f"the run did not produce {missing}")
    metrics = {w["name"]: {"value": source[w["name"]]["value"], "unit": w["unit"]} for w in wanted}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
