#!/usr/bin/env python3
"""Benchmark of the graft engine: reference DAGs and registry queries,
timed end to end and per layer.

Usage (from the repository root):
    python3 perfbench/run.py --workload reference_dags --seed 1 --seconds 3 --trace 0

The first run in a checkout builds the engine and the harness with sbt
(into .bench_build/ and the sbt target dirs); later runs reuse the build
while the sources are unchanged. Each run starts one JVM, which sets the
workload up once, runs its iterations in a closed loop for
--seconds, and checks every iteration's outputs against ground truth from
the generators. query_mix results are checked here against their DuckDB
oracle twins.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer ones. The line before it holds the run's details (host
load, versions, percentiles, checks).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("reference_dags", "query_mix")
DEADLINE_S = 170
JVM_OPTS = [
    "-Xmx2g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(files):
    """Compile engine + harness with sbt once per source state; return the classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest(files)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("digest") == digest:
            return st["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep sbt's temporary files inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    if not shutil.which("sbt"):
        die("sbt is not on PATH")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1]}, fh)
    return cps[-1]


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                                 args.workload, str(args.seed), str(args.seconds),
                                 str(args.trace), work]
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"JVM exceeded the time limit; see {log}")
    raw = [l for l in out.splitlines() if l.startswith("PERFBENCH_RAW ")]
    if p.returncode != 0 or not raw:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"JVM failed (exit {p.returncode}); see {log}")
    return json.loads(raw[-1][len("PERFBENCH_RAW "):])


def canon(rows, cols):
    """tools/validate.py's canonical form: columns by name, doubles to
    6 dp, NaN and -0.0 normalized, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
                    v = 0.0 if v == 0 else v
            rr.append(str(v))
        out.append(tuple(rr))
    return sorted(out)


def oracle_check(raw, work):
    """Compare each query's result with its DuckDB oracle twin. Returns
    ({query: expected row count}, {query: failure or None}, self-test ok)."""
    import duckdb
    con = duckdb.connect()
    inputs = os.path.join(work, "inputs")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet/*.parquet'")
    counts, problems, planted_caught = {}, {}, False
    for q, sql in raw["oracle_sql"].items():
        try:
            e = con.execute(sql)
            ecols = [d[0] for d in e.description]
            ce = canon(e.fetchall(), ecols)
            g = con.execute(f"SELECT * FROM '{work}/results/{q}/*.parquet'")
            gcols = [d[0] for d in g.description]
            cg = canon(g.fetchall(), gcols)
        except Exception as ex:  # a missing result or a broken oracle fails the query
            problems[q] = f"oracle compare error: {ex}"
            continue
        counts[q] = len(ce)
        if sorted(ecols) != sorted(gcols):
            problems[q] = f"columns differ: {sorted(ecols)} vs {sorted(gcols)}"
        elif ce != cg:
            problems[q] = f"rows differ from the oracle ({len(cg)} vs {len(ce)})"
        else:
            problems[q] = None
            # self-test: the same comparison must reject a planted wrong answer
            if not planted_caught and ce:
                planted_caught = ce[1:] != cg
    return counts, problems, planted_caught


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it (the median
    when there are too few samples for that)."""
    s = sorted(xs)
    n = len(s)
    i = max(n - 11, n // 2)
    return s[i], 100.0 * (i + 1) / n, n - 1 - i


def git_head():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    with open("/proc/loadavg") as fh:
        loadavg_start = float(fh.read().split()[0])

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    files = source_files()
    cp = build(files)
    # a run that had to build gets the full per-run limit after the build
    deadline = time.time() + DEADLINE_S if time.time() - started > 60 else started + DEADLINE_S

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, args, work, deadline)
        checks = [it["check"] for it in raw["iterations"] if it["check"]]
        self_test = raw["self_test_caught_planted_error"]
        if args.workload == "query_mix":
            counts, problems, self_test = oracle_check(raw, work)
            for it in raw["iterations"]:
                for op in it["ops"]:
                    why = problems.get(op["name"], "no oracle") or (
                        None if op["rows"] == counts[op["name"]] else
                        f"{op['rows']} rows, oracle has {counts[op['name']]}")
                    if why and op["ok"]:
                        op["ok"], op["error"] = False, why
            checks += [f"{q}: {p}" for q, p in problems.items() if p]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    iters = raw["iterations"]
    ops = [op for it in iters for op in it["ops"]]
    failed = sum(1 for op in ops if not op["ok"])
    run_s = median([it["wall_s"] for it in iters])
    tail_s, tail_pct, tail_beyond = tail([op["s"] for op in ops])
    end_to_end = {
        "setup_s": raw["setup_s"],
        "run_s": run_s,
        "op_p50_s": median([op["s"] for op in ops]),
        "op_tail_s": tail_s,
        "input_rows_per_s": raw["input_records"] / run_s,
        "bytes_written_per_input_byte":
            median([it["bytes_written"] for it in iters]) / raw["input_bytes"],
        "ok_frac": 1.0 - failed / len(ops),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    if args.trace:
        wanted = spec["per_layer"]
        values = raw["layers"]
    else:
        wanted = spec["end_to_end"]
        values = end_to_end
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "loadavg_start": loadavg_start, "nproc": raw["nproc"],
        "git_head": git_head(), "source_digest": source_digest(files),
        "spark_version": raw["spark_version"], "jdk_version": raw["jdk_version"],
        "iterations": len(iters), "operations": len(ops),
        "failed_frac": failed / len(ops),
        "op_tail_percentile": tail_pct, "op_tail_samples_beyond": tail_beyond,
        "session_start_s": raw["session_start_s"],
        "input_records": raw["input_records"], "input_bytes": raw["input_bytes"],
        "input_digest": raw["input_digest"], "self_test_caught_planted_error": self_test,
        "checks_failed": checks[:5],
        "errors": sorted({op["error"] for op in ops if op.get("error")})[:5],
    }
    if args.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        trace = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace, "w") as fh:
            json.dump(raw["spans"], fh)
        details["trace_file"] = os.path.relpath(trace, ROOT)
        details["tracing_overhead_s"] = raw["layers"]["trace.overhead_s"]
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": failed == 0 and not checks and self_test,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
