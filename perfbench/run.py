#!/usr/bin/env python3
"""Seeded extraction benchmark for graft.

Builds the engine and the benchmark from source with sbt (once per source
state), runs one workload in fresh JVMs and prints, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics.

    python3 perfbench/run.py --workload extract_commit --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics (pages_per_s, setup_s); --trace 1
the per-layer metrics, including scaling_eff from a second JVM with a
quarter of the task threads. --selfcheck runs every workload at a tiny size,
checks the printed metric names and units against BENCHMARK.json, and
checks that a deliberately corrupted output row is caught.

Run it from the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
RESULT = "PERFBENCH_RESULT "
WORKLOADS = ["extract_commit", "warc_ingest"]
END_TO_END = ["pages_per_s", "setup_s"]
# One fixed heap for every JVM, so a gain cannot come from memory settings;
# a fixed young generation shortens the cold first unit.
JVM_MEMORY = ["-Xmx3g", "-Xms3g", "-Xmn1536m", "-XX:+UseParallelGC"]
BUILD_TIMEOUT_S = 850
# a whole run, both JVMs included, must end within this
RUN_TIMEOUT_S = 172
JAVA_OPENS = [
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


def source_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else [
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep)]
        for p in sorted(paths):
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def run_process(cmd, cwd, timeout, log_path, label, env=None):
    """Runs cmd in its own process group and returns (exit code, stdout).
    Its stdout is echoed to stderr as it arrives, prefixed by label. The
    group is killed on timeout or when this script is interrupted, and
    always waited for, so nothing it started outlives this script."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
                                env=env, start_new_session=True)
        killed = []

        def kill():
            killed.append(True)
            os.killpg(proc.pid, signal.SIGKILL)
        timer = threading.Timer(timeout, kill)
        timer.start()
        lines = []
        try:
            for raw in proc.stdout:
                line = raw.decode("utf-8", "replace").rstrip("\n")
                lines.append(line)
                if label and not line.startswith(RESULT):
                    print(f"{label}: {line}", file=sys.stderr, flush=True)
            proc.wait()
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            timer.cancel()
    if killed:
        fail(f"{label} killed after {timeout} s; log: {log_path}")
    return proc.returncode, lines


def build():
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: run from the root of a graft checkout")
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            stamp, cp = f.read().split("\n")[:2]
        if stamp == digest:
            return cp
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out = run_process(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, os.path.join(TARGET, "build.log"), None, env)
    lines = [l for l in out if l and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(f"{digest}\n{cp}\n")
    return cp


def run_jvm(cp, work, args, threads, label, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + JVM_MEMORY + [
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", "--work", work, "--threads", str(threads)] + args
    log = os.path.join(work, f"{label}.log")
    code, out = run_process(cmd, ROOT, max(1.0, deadline - time.time()), log, label)
    lines = [l for l in out if l.startswith(RESULT)]
    if code != 0 or not lines:
        with open(log, "rb") as f:
            tail = f.read()[-3000:].decode("utf-8", "replace")
        fail(f"{label} JVM failed (exit {code}):\n{tail}")
    return json.loads(lines[-1][len(RESULT):])


def run_workload(a, cp):
    deadline = time.time() + RUN_TIMEOUT_S
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(TARGET, "work", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
              "--scale", str(a.scale), "--corrupt", "1" if a.corrupt else "0"]
    try:
        main = run_jvm(cp, work, common + ["--role", "main", "--seconds", str(a.seconds)],
                       nproc, "main", deadline)
        metrics = main["metrics"]
        if a.trace:
            # N = nproc/4 threads in a JVM of its own; 4N = nproc is the main JVM
            n = max(1, nproc // 4)
            leg = run_jvm(cp, work, common + ["--role", "leg", "--seconds", str(a.seconds / 2)],
                          n, "leg", deadline)
            ratio = metrics["_pages_per_s"]["value"] / leg["metrics"]["_pages_per_s"]["value"]
            metrics["scaling_eff"] = {"value": ratio * n / nproc, "unit": "ratio"}
            main["attempted"] += leg["attempted"]
            main["failed"] += leg["failed"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {k: v for k, v in metrics.items() if not k.startswith("_")}
    return {"correct": main["failed"] == 0, "attempted": main["attempted"],
            "failed": main["failed"], "metrics": metrics}


def selfcheck(cp):
    """Tiny runs of every workload: names and units must match
    BENCHMARK.json, outputs must check clean, and one corrupted output row
    must be caught."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            a = argparse.Namespace(workload=w, seed=7, seconds=2, trace=trace, scale=0.1, corrupt=False)
            r = run_workload(a, cp)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, "
                                f"units {[k for k in got if k in want[trace] and got[k] != want[trace][k]]}")
            if not r["correct"] or r["failed"] != 0:
                problems.append(f"{w} trace={trace}: {r['failed']} of {r['attempted']} rows wrong")
            print(f"selfcheck {w} trace={trace}: attempted={r['attempted']} failed={r['failed']} "
                  f"metrics={len(got)}", flush=True)
        a = argparse.Namespace(workload=w, seed=7, seconds=1, trace=0, scale=0.1, corrupt=True)
        r = run_workload(a, cp)
        print(f"selfcheck {w} corrupt: failed={r['failed']} correct={r['correct']}", flush=True)
        if r["correct"] or r["failed"] == 0:
            problems.append(f"{w}: a corrupted output row was not caught")
    for p in problems:
        print(f"selfcheck FAILED: {p}")
    print(json.dumps({"selfcheck": "ok" if not problems else "failed", "problems": len(problems)}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier")
    ap.add_argument("--corrupt", action="store_true", help="alter one output row before the check")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    # turn SIGTERM into SystemExit, so a killed run still stops its JVMs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    cp = build()
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    if a.selfcheck:
        sys.exit(selfcheck(cp))
    if not a.workload:
        fail("--workload is required")
    r = run_workload(a, cp)
    m = r["metrics"]
    summary = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in m.items() if k in END_TO_END + ["scaling_eff"])
    print(f"perfbench: run took {time.time() - t0:.1f} s", file=sys.stderr)
    print(f"{a.workload} seed={a.seed}: error_rate={r['failed'] / r['attempted']:.6f} {summary}")
    print(json.dumps(r))


if __name__ == "__main__":
    main()
