#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard|pipeline|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and
the harness from source with sbt (offline); later runs reuse the build
until a source file changes. Each run generates its inputs from the
seed under a fresh temporary root inside the checkout, drives graft in
one JVM with one client thread on a session of `nproc` cores, checks
the outputs, removes the temporary root and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1
the per-layer split (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".bench_out")
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness when the sources changed; returns the classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(HARNESS, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "sbt.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/writeClasspath"],
                           cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def write_spec(spec, conf, setup=(), ops=()):
    os.makedirs(spec, exist_ok=True)
    with open(os.path.join(spec, "spec.txt"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in conf.items())
    with open(os.path.join(spec, "setup.sql"), "w") as f:
        f.writelines(f"{x}\n" for x in setup)
    with open(os.path.join(spec, "ops.tsv"), "w") as f:
        for op_id, kind, group, rows, sql in ops:
            f.write(f"{op_id}\t{kind}\t{group}\t{rows}\t{sql}\n")


def run_jvm(classpath, spec, out, seconds, trace, cpus, log):
    tmp = os.path.join(os.path.dirname(spec), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main", spec, out, str(seconds), str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=os.path.dirname(spec), env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s", 1)
    if code != 0:
        lines = [x for x in open(log, errors="replace") if not x.lstrip().startswith(("at ", "... "))]
        sys.stderr.write("".join(lines[-40:]))
        fail(f"the JVM exited with code {code}", 1)


def read_ops(out):
    ops = []
    with open(os.path.join(out, "ops.tsv")) as f:
        for line in f:
            phase, op_id, kind, group, rows, start, dur, ok, info = line.rstrip("\n").split("\t", 8)
            ops.append(dict(phase=phase, id=op_id, kind=kind, group=int(group), rows=int(rows),
                            start=int(start), ms=float(dur), ok=ok == "1", info=info))
    return ops


def read_conf(path):
    with open(path) as f:
        return dict(line.rstrip("\n").split("=", 1) for line in f if "=" in line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "pipeline", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt and src/main/scala/graft)")

    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    classpath = build()

    run_root = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    data, spec, out = (os.path.join(run_root, d) for d in ("data", "spec", "out"))
    conf = dict(workload=a.workload, cpus=cpus, warehouse=os.path.join(run_root, "warehouse"),
                local_dir=os.path.join(run_root, "tmp"))
    try:
        t0 = time.time()
        if a.workload == "dashboard":
            setup, ops = inputs.dashboard(a.seed, data)
            write_spec(spec, conf, setup, [(i, "read", 0, n, ch) for i, ch, _, n in ops])
        elif a.workload == "ingest":
            setup, ops = inputs.ingest(a.seed, data)
            conf.update(table=inputs.INGEST_TABLE, cycle=inputs.CYCLE)
            write_spec(spec, conf, setup, [(i, k, b, n, ch) for i, k, b, ch, _, n in ops])
        else:
            docs, vectors = inputs.pipeline(a.seed, data)
            conf.update(corpus=data, docs=docs, vectors=vectors)
            write_spec(spec, conf)
        gen_s = time.time() - t0

        run_jvm(classpath, spec, out, a.seconds, a.trace, cpus, os.path.join(run_root, "jvm.log"))
        summary = read_conf(os.path.join(out, "summary.txt"))
        executed = read_ops(out)

        extra = {}
        if a.workload == "pipeline":
            extra.update(docs=docs, vectors=vectors)
        if a.workload == "dashboard":
            problems = oracle.check_dashboard(data, ops, out)
        elif a.workload == "ingest":
            problems, changed = oracle.check_ingest(data, ops, out, {o["id"] for o in executed})
            for op in executed:
                op["rows"] = changed.get(op["id"], op["rows"])
        else:
            problems, extra["ann_recall"] = oracle.check_pipeline(data, out)
        problems += [f"{o['id']}: {o['info']}" for o in executed if o["phase"] == "mismatch"]
        if summary.get("stream_exhausted"):
            problems.append("the inputs ran out before the window ended")

        result = report.summarise(a.workload, executed, summary, gen_s, out, extra, a.trace)
        result["run"] = dict(seed=a.seed, nproc=cpus, parallelism=int(summary["parallelism"]),
                             load_start=load_start, load_end=os.getloadavg()[0])
        for o in executed:
            if not o["ok"] and o["phase"] != "mismatch":
                print(f"failed {o['id']}: {o['info']}")
        for p in problems:
            print(f"MISMATCH {p}")
        report.print_human(result)
        if a.trace:
            os.makedirs(OUT_DIR, exist_ok=True)
            dest = os.path.join(OUT_DIR, f"trace-{a.workload}-{a.seed}.json")
            with open(dest, "w") as f:
                json.dump(dict(result, spans=report.read_jsonl(os.path.join(out, "spans.jsonl"))), f)
            print(f"trace written to {os.path.relpath(dest, ROOT)}")
        print(json.dumps(dict(correct=not problems, attempted=result["attempted"],
                              failed=result["failed"], metrics=result["metrics"])))
        if problems:
            sys.exit(1)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
