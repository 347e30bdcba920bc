#!/usr/bin/env python3
"""Import benchmark: builds the engine and the harness, runs one workload
and prints its metrics as one JSON line.

    python3 importbench/run.py --workload lake_upsert --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds with sbt, offline;
later runs reuse the build while no source file has changed. With
`--trace 0` the last line holds the end-to-end metrics, with `--trace 1`
the per-layer ones (see README.md).
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

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["lake_upsert", "xlsx_jdbc_update", "corpus_export"]
# A run must end within 180 s, or 900 s when it also builds.
DEADLINE_S = 170
BUILD_DEADLINE_S = 880

# Spark 4 on JDK 17 needs these outside spark-submit; the list the
# engine's build.sbt passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx3g")


def fail(msg):
    print(f"importbench: {msg}", file=sys.stderr)
    sys.exit(2)


_child = None


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns its exit code, or
    None when it outlived `timeout` seconds and was killed."""
    global _child
    _child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        stop_child()
        return None
    finally:
        _child = None


def stop_child():
    """Kills the running child and everything it started, and waits."""
    if _child is not None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def sources_digest():
    """Hash of every file the build reads, to tell when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compiles with sbt unless the classpath was written for these sources.

    Returns (classpath, whether this call built)."""
    stamp = os.path.join(TARGET, "stamp.txt")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return open(cp_file).read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    log = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       deadline - time.time(), cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed ({rc}); full log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip(), True


def heap():
    """Driver heap sized like the engine's tier-1 test command: half the
    host's memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.time()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft", "engine")):
        fail(f"no engine sources under {ROOT}; run from a checkout of the repository")
    cp, built = build(start + BUILD_DEADLINE_S - 120)
    if "duckdb_jdbc" not in cp:
        fail("DuckDB JDBC driver missing from the classpath (expected in the coursier cache)")

    work = os.path.join(TARGET, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    # A fixed 2 GiB initial heap: left to grow from the default, G1 sized
    # the heap differently from run to run, and with it GC time per op.
    # A fixed 128 MiB young generation, so that collections happen during
    # an op and heap_peak_mb sees its working set; with G1's own sizing a
    # lake_upsert op ran without a single collection.
    cmd = (["java", f"-Xmx{heap()}", "-Xms2g", "-Xmn128m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "importbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, raw_path])
    budget = (BUILD_DEADLINE_S if built else DEADLINE_S) - (time.time() - start)
    cmd.append(str(int(budget) - 10))  # the JVM's own budget, leaving time to stop
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would move Spark's scratch out of the checkout
    rc = run_child(cmd, budget, cwd=work, env=env, stdout=sys.stderr)
    if rc is None:
        fail("run exceeded its time limit")
    if rc != 0 or not os.path.exists(raw_path):
        fail(f"benchmark JVM exited with {rc}")
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.copy(raw_path, os.path.join(TARGET, "last_raw.json"))
    shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    if args.trace:
        values = metrics.per_layer(raw)
    else:
        values, info = metrics.end_to_end(raw)
        print(f"importbench: {info['ops']} ops; op_s_tail is p{info['tail_percentile']:.1f}",
              file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
