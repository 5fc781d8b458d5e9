#!/usr/bin/env python3
"""Repository benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness together
with the checkout's program sources (sbt, offline, into perfbench/target);
later runs reuse that build unless a source file is newer. Each run starts
one JVM on a local[N] Spark session (N = min(4, cores)), keeps every file it
writes under perfbench/.work/, and removes that directory when it ends.

The last stdout line is the result JSON: {"correct", "attempted", "failed",
"metrics"}. The exit code is 0 only when that line was printed, names exactly
the metrics BENCHMARK.json lists for the mode, and every output check passed.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORK_ROOT = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


CHILDREN = []


def stop_children(*_):
    """Kill every process group this runner started, then exit."""
    for proc in CHILDREN:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    sys.exit(3)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        if os.path.isfile(base):
            yield base
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                yield os.path.join(d, f)


def build(log_path):
    """Compile program + harness with sbt unless the build is current."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(p) <= built for p in sources()):
            return
    env = dict(os.environ)
    # resolution must never leave the machine: offline coursier and sbt
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        CHILDREN.append(proc)
        code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(CLASSPATH):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {code})")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def wait(proc, timeout):
    """Wait for a process group; kill the whole group on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found: run from the root of a full checkout")
    expected = expected_metrics(a.trace)
    os.makedirs(WORK_ROOT, exist_ok=True)
    build(os.path.join(WORK_ROOT, "build.log"))

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = min(4, len(os.sched_getaffinity(0)))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--cores", str(cores)])
    log_path = os.path.join(WORK_ROOT, "last-run.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                    stderr=log, stdin=subprocess.DEVNULL,
                                    text=True, start_new_session=True)
            CHILDREN.append(proc)
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        out, code = "", None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [x for x in out.splitlines() if x.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code is None or result is None or code not in (0, 1):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"harness exited with {code} and no result")
    for line in lines[:-1]:
        print(line)

    metrics = result.get("metrics", {})
    units = {k: v.get("unit") for k, v in metrics.items()}
    numeric = all(isinstance(v.get("value"), (int, float))
                  and not isinstance(v.get("value"), bool)
                  for v in metrics.values())
    if units != expected or not numeric:
        result["correct"] = False
        print(f"[perfbench] metrics do not match BENCHMARK.json: "
              f"{sorted(set(units) ^ set(expected))}", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] is True else 1)


if __name__ == "__main__":
    main()
