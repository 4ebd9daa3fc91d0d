#!/usr/bin/env python3
"""graft benchmark: one measured run of one workload.

    python3 graftbench/run.py --workload sb_requests --seed 1 --seconds 10 --trace 0

Run from the repository root (or anywhere: paths resolve from this file).
The first run in a checkout builds the library and the harness with sbt
(offline); later runs reuse the build until a source file changes. Each
run starts one JVM, which sets up its inputs from the seed, runs the
workload's ops back to back for --seconds, and dumps every distinct
result; tools/check.py then compares the dumps with their DuckDB oracles.
The last line of stdout is the run's JSON result. --trace 1 reports the
per-layer metrics instead of the end-to-end ones and writes the spans to
graftbench/out/traces/. --selftest feeds one throwing op and one op with
a wrong result through the harness; both must show up in "failed".
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
LAUNCH = os.path.join(HERE, "target", "launch")
WORKLOADS = ("sb_requests", "daily_cycle")
DEADLINE_S = 175  # a run must end within 180 s, not counting a first build
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change needs a rebuild."""
    roots = ["src/main", "project", "build.sbt", "graftbench/src",
             "graftbench/build.sbt", "graftbench/project"]
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            yield p
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(d, f)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """sbt compile + write the launch classpath, unless already current."""
    stamp = os.path.join(LAUNCH, "stamp")
    fp = fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx2g"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportLaunch"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(fp)


def run_jvm(args, work, trace_out, t_run):
    t0 = time.time()  # set-up is timed from here: JVM start
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().strip()
    opts = open(os.path.join(LAUNCH, "jvm_opts.txt")).read().split()
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", *opts, "-Xmx2g",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--t0-ms", str(int(t0 * 1000)),
           "--selftest", "1" if args.selftest else "0"]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    log_path = os.path.join(OUT, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(10, DEADLINE_S - 30 - (time.time() - t_run)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"the run did not finish in time; log: {log_path}")
    result = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"the benchmark JVM failed (exit {p.returncode}); log: {log_path}")
    with open(result) as fh:
        return json.load(fh)


def oracle_failures(work, checks, t_run):
    """Run the repo's tools/check.py on the dumps; return the failing names."""
    if not checks:
        return set()
    data = os.path.join(work, "data")
    import duckdb  # check.py's own dependency
    for t in TABLES:  # check.py binds a view per table; stub the unused ones
        p = os.path.join(data, f"{t}.parquet")
        if not os.path.exists(p):
            duckdb.sql(f"COPY (SELECT 1 AS stub) TO '{p}' (FORMAT parquet)")
    env = dict(os.environ, CHECK_MEM="1GB", CHECK_THREADS=str(os.cpu_count() or 2),
               CHECK_TMP=os.path.join(work, "duckdb_tmp"))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data,
                        os.path.join(work, "check")], env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=max(10, DEADLINE_S - (time.time() - t_run)))
    out = r.stdout.decode(errors="replace")
    passed = set(re.findall(r"^PASS (\S+) ", out, re.M))
    failed = set(checks) - passed
    for line in out.splitlines():
        if line.startswith("FAIL"):
            print(f"graftbench: {line}", file=sys.stderr)
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.seconds <= 0:
        die("--seconds must be positive")
    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from a checkout of the repository")

    build()
    t_run = time.time()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        trace_out = (os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl")
                     if args.trace else None)
        res = run_jvm(args, work, trace_out, t_run)
        t_jvm = time.time()
        failed_ops = {e["op"] for e in res["errors"]}
        for e in res["errors"][:5]:
            print(f"graftbench: op {e['op']} {e['kind']} {e['key']}: {e['error'][:300]}",
                  file=sys.stderr)
        for name in oracle_failures(work, res["checks"], t_run):
            failed_ops.update(res["checks"][name])
        print(f"graftbench: JVM {t_jvm - t_run:.1f} s, oracle check {time.time() - t_jvm:.1f} s",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    attempted = res["attempted"]
    if args.trace:
        metrics["bench.fail_frac"] = {"value": len(failed_ops) / max(1, attempted),
                                      "unit": "fraction"}
        print(f"graftbench: spans written to {trace_out}; self time per layer:", file=sys.stderr)
        with open(trace_out) as fh:
            for line in fh:
                row = json.loads(line)
                if "layer" in row:
                    print(f"  {row['layer']:40s} {row['spans']:4d} spans  self "
                          f"{row['self_s']:8.3f} s", file=sys.stderr)
    print(json.dumps({"setup_reps_s": res["setup_reps_s"], "gauges": res["gauges"]}))
    print(json.dumps({"correct": not failed_ops, "attempted": attempted,
                      "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
