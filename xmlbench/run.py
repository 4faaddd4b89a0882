#!/usr/bin/env python3
"""XML engine benchmark launcher.

    python3 xmlbench/run.py --workload nested_infer --seed 1 --seconds 25 --trace 0

Run from the repository root. Builds the engine and the benchmark with sbt
when their sources changed (the first run in a fresh checkout), starts the
benchmark JVM directly (so nothing prefixes or follows its output), turns
its raw samples into metrics and prints them. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones from a traced run.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import metrics

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ("nested_infer", "small_ops")
DEFAULT_SEED = 1

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 165
# A fixed, pre-touched heap: no heap resizing between runs, so GC work and
# the resident set depend on the program, not on when the heap grew.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# Keeps the JVM's perf-data file out of the system temp dir.
JVM_FLAGS = HEAP + ["-XX:-UsePerfData"]


def fail(msg, log=None):
    print("xmlbench: " + msg, file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(1)


def sources():
    """Every file the build reads, as paths relative to the repository."""
    found = []
    for top in ("src/main", "project", "xmlbench/src/main", "xmlbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            found += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(found + ["build.sbt", "xmlbench/build.sbt"])


def stamp():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """(classpath, JVM options), building first when the sources changed."""
    stamp_file = os.path.join(TARGET, "launch.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "java-options.txt")
    want = stamp()
    have = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if have != want or not (os.path.exists(cp_file) and os.path.exists(opts_file)):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            # No sbt server (its socket would go to the system temp dir) and
            # no JVM perf-data file there either.
            opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunchFiles"],
                             BENCH, env, out, BUILD_TIMEOUT_S)
        if code != 0:
            fail("build failed (exit %s)" % code, log)
        os.makedirs(TARGET, exist_ok=True)
        with open(stamp_file, "w") as f:
            f.write(want)
    with open(cp_file) as f:
        classpath = f.read().strip()
    with open(opts_file) as f:
        java_options = [line.strip() for line in f if line.strip()]
    return classpath, java_options


def run_child(cmd, cwd, env, out, timeout):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return "timeout after %ds" % timeout
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        print("xmlbench: the engine sources (build.sbt, src/main/scala) are not next to %s"
              % BENCH, file=sys.stderr)
        sys.exit(2)

    os.makedirs(WORK, exist_ok=True)
    # One benchmark at a time per checkout: runs share the work directory,
    # and two JVMs side by side would time each other.
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classpath, java_options = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java"] + java_options
           + JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-cp", classpath, "graft.xml.bench.XmlBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", run_dir])
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as out:
        code = run_child(cmd, ROOT, dict(os.environ), out, RUN_TIMEOUT_S)
    if code != 0:
        fail("benchmark JVM failed (exit %s)" % code, log)

    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    spans = []
    if args.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(WORK, "spans.jsonl"))
    shutil.copy(os.path.join(run_dir, "result.json"), os.path.join(WORK, "result.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = metrics.attempted_failed(result)
    for c in result["checks"]:
        if not c["ok"]:
            print("failed check %s: %s" % (c["name"], c["message"]))
    if args.trace:
        values = {k: (v, unit, "") for k, (v, unit) in metrics.per_layer(result, spans).items()}
    else:
        values = metrics.end_to_end(result)
    print("xmlbench %s seed=%d trace=%d cores=%d attempted=%d failed=%d"
          % (args.workload, args.seed, args.trace, result["cores"], attempted, failed))
    for name, (value, unit, note) in values.items():
        print("  %-36s %14.6f %-6s %s" % (name, value, unit, note))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit, _) in values.items()},
    }))


if __name__ == "__main__":
    main()
