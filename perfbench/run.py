#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload scan_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source when they changed (sbt,
offline), runs the workload in one JVM with Spark local[nproc], and prints a
human-readable report followed by one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the metrics are the per-layer numbers and the span file is
kept under perfbench/out/. See perfbench/README.md.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("scan_mix", "cdc_upsert", "corpus_curate")
JVM_DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine + benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"))
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=840)
    if proc.returncode != 0:
        log("build failed")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def spark_jars():
    """The Spark jars the engine's own build compiles against (its
    `unmanagedBase`); the benchmark's build.sbt reads the same line."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        log("Spark jars not found: the engine's build.sbt names no existing unmanagedBase")
        sys.exit(2)
    return m.group(1)


def loadavg():
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def cpu_times():
    """Aggregate /proc/stat CPU jiffies; field 7 is steal (time the host gave
    this machine's CPUs to others)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def other_jvms(exclude):
    """Live JVMs other than this run's: (pid, short description). Reported,
    never killed."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in exclude:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0].decode(errors="replace")) == "java":
            main = next((a.decode(errors="replace") for a in reversed(argv) if a), "?")
            found.append(f"{pid}:{main[-60:]}")
    return found


def run_jvm(args, work):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *ADD_OPENS, "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work,
           "--launched", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        log(f"workload did not finish within {JVM_DEADLINE_S} s")
        sys.exit(4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(6))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        sys.exit(2)
    build()

    runs = os.path.join(HERE, ".runs")
    work = os.path.join(runs, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    load_start = loadavg()
    cpu_start = cpu_times()
    jvms_start = other_jvms({os.getpid()})
    try:
        code, out = run_jvm(args, work)
        trace_file = os.path.join(work, "trace.json")
        if os.path.exists(trace_file):
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            kept = os.path.join(HERE, "out", f"trace-{args.workload}-s{args.seed}.json")
            shutil.copyfile(trace_file, kept)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)

    lines = out.splitlines()
    result = [l for l in lines if l.startswith("RESULT ")]
    if code != 0 or not result:
        log(f"workload exited with code {code} and {'a' if result else 'no'} result")
        sys.exit(5)
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    spent = [b - a for a, b in zip(cpu_start, cpu_times())]
    steal = spent[7] / max(1, sum(spent)) if len(spent) > 7 else 0.0
    print(f"nproc {os.cpu_count()}; loadavg start {load_start}, end {loadavg()}; "
          f"cpu steal {steal:.3f} of cpu time during the run")
    print("other live JVMs at start: " + (", ".join(jvms_start) or "none"))
    if args.trace:
        print(f"span file: perfbench/out/trace-{args.workload}-s{args.seed}.json")
    print(json.dumps(json.loads(result[-1][len("RESULT "):])))


if __name__ == "__main__":
    main()
