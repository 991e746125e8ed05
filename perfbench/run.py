#!/usr/bin/env python3
"""Janus user-path benchmark: build once, then run one workload.

    python3 perfbench/run.py --workload historical --seed 1 --seconds 12 --trace 0

The engine (the repository's sbt project) and the benchmark (the sbt
project in this directory) are compiled from source on the first run in
a checkout; later runs reuse the build while no source file changes.
Each run starts one JVM with Spark local[1]; its last stdout line is
the result object, which this script prints as its own last line.

`--trace 1` makes three runs of the same workload and seed: traced at
local[1] (the reported per-layer metrics), then untraced at local[1]
(for the tracing overhead) and traced at local[4] for a third as long (the
per-layer scaling ratio), and writes a report under
`.bench_out/<workload>/`. The two extra runs get what is left of the
run's time budget; one that would overrun it is stopped and the report
says so.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("historical", "live", "hybrid_ingest")
BUILD_TIMEOUT_S = 840
# Every run must end within 180 s of its start once the build is done.
RUN_BUDGET_S = 170
JVM_HEAP = "3g"
# Spark local[1]: see "Threads and JIT" in README.md
CPUS = 1

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (the same list as the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no engine sources next to the benchmark "
                         "(expected build.sbt and src/main/scala in the checkout)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building engine and benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        raise SystemExit(f"perfbench: sbt build failed (see {BUILD}/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, args, cpus, traced, tag, deadline, seconds=None):
    """One benchmark JVM; returns its parsed result object and wall time,
    or (None, wall time) when it had to be stopped at `deadline`."""
    seconds = seconds or args.seconds
    work = os.path.join(BUILD, "work", f"{args.workload}-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    out_dir = os.path.join(OUT, args.workload)
    os.makedirs(out_dir, exist_ok=True)
    for stale in ("summary.json", "spans.jsonl", "selftime.txt"):
        path = os.path.join(out_dir, f"{tag}.{stale}")
        if os.path.isfile(path):
            os.remove(path)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:+UseG1GC",
           # C1 only: see "Threads and JIT" in README.md
           "-XX:TieredStopAtLevel=1",
           # a fixed set of JIT threads, whose CPU time Main subtracts
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}",
           f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
           "-Dspark.ui.enabled=false",
           # one connection per REST call (see Net.scala)
           "-Dhttp.keepAlive=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(seconds), "--trace", "1" if traced else "0",
            "--work", work, "--out", out_dir, "--tag", tag]
    if args.plant_wrong:
        cmd.append("--plant-wrong")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    err_path = os.path.join(out_dir, f"{tag}.stderr.log")
    t0 = time.time()
    try:
        with open(err_path, "w") as err:
            # subprocess.run kills the JVM and waits for it on timeout
            proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                  stderr=err, text=True,
                                  timeout=max(1.0, deadline - t0))
    except subprocess.TimeoutExpired:
        log(f"{tag} run stopped at the time limit after {time.time() - t0:.0f} s")
        return None, time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0
    for line in proc.stdout.splitlines()[:-1]:
        print(line, file=sys.stderr)
    last = proc.stdout.strip().splitlines()[-1:] or [""]
    if proc.returncode != 0 or not last[0].startswith("{"):
        with open(err_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: {tag} run failed (exit {proc.returncode})")
    return json.loads(last[0]), wall


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="self-test: corrupt one expected value; the run "
                         "must report it as a failed operation")
    args = ap.parse_args()
    cp = build()
    deadline = time.time() + RUN_BUDGET_S
    result, wall = run_jvm(cp, args, CPUS, bool(args.trace),
                           "traced" if args.trace else "untraced", deadline)
    if result is None:
        # a contended host is reported as a failed run, not an exit code
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}), flush=True)
        return
    if args.trace:
        walls = {"traced": wall}
        untraced, walls["untraced"] = run_jvm(cp, args, CPUS, False, "untraced",
                                              deadline)
        # per-layer values are per operation, so a shorter run is enough
        # for the ratio
        wide, walls["traced4"] = run_jvm(cp, args, 4, True, "traced4", deadline,
                                         max(4, args.seconds // 3))
        write_report(args, walls)
        runs = [r for r in (result, untraced, wide) if r is not None]
        result = dict(result, correct=all(r["correct"] for r in runs),
                      attempted=sum(r["attempted"] for r in runs),
                      failed=sum(r["failed"] for r in runs))
    print(json.dumps(result), flush=True)


def write_report(args, walls):
    """Per-layer table at local[1] vs local[4], plus tracing overhead.
    A run that was stopped at the time limit leaves its columns empty."""
    out_dir = os.path.join(OUT, args.workload)

    def load(tag):
        path = os.path.join(out_dir, f"{tag}.summary.json")
        if not os.path.isfile(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def value(summary, section, name):
        return summary[section][name]["value"] if summary else None

    def cell(v):
        return "-" if v is None else f"{v:.4g}"

    def ratio(a, b):
        return f"{b / a:.2f}" if a and b is not None else "-"

    untraced, traced, traced4 = load("untraced"), load("traced"), load("traced4")
    rows = ["| per-layer metric | unit | local[1] | local[4] | local[4] / local[1] |",
            "|---|---|---:|---:|---:|"]
    for name, m in traced["per_layer"].items():
        a, b = m["value"], value(traced4, "per_layer", name)
        rows.append(f"| {name} | {m['unit']} | {cell(a)} | {cell(b)} | {ratio(a, b)} |")
    rows += ["", "| end-to-end metric | unit | untraced | traced | tracing overhead |",
             "|---|---|---:|---:|---:|"]
    for section in ("end_to_end", "named"):
        for name, m in traced[section].items():
            a, b = value(untraced, section, name), m["value"]
            over = f"{(b - a) / a * 100:+.1f}%" if a else "-"
            rows.append(f"| {name} | {m['unit']} | {cell(a)} | {cell(b)} | {over} |")

    def counts(summary):
        return f"{summary['attempted']}/{summary['failed']}" if summary else "stopped"

    head = (f"## {args.workload} (seed {args.seed}, {args.seconds} s)\n\n"
            f"attempted/failed: traced local[1] {counts(traced)}, "
            f"untraced {counts(untraced)}, traced local[4] {counts(traced4)}; "
            f"tail = {traced['tail_percentile']} of {traced['samples']} samples\n\n"
            "wall time per JVM (s): " +
            ", ".join(f"{tag} {w:.1f}" for tag, w in walls.items()) +
            f"; total {sum(walls.values()):.1f} of {RUN_BUDGET_S}\n\n")
    tail = ""
    selftime = os.path.join(out_dir, "traced.selftime.txt")
    if os.path.isfile(selftime):
        with open(selftime) as fh:
            tail = "\n\nself time by operation kind, local[1]:\n```\n" + fh.read() + "```\n"
    with open(os.path.join(out_dir, "report.md"), "w") as fh:
        fh.write(head + "\n".join(rows) + tail)
    log(f"report: {os.path.join(out_dir, 'report.md')}")


if __name__ == "__main__":
    main()
