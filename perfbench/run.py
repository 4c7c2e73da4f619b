#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <serve|bulk|curate> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use
(or when a source file is newer than the last build), then runs one
JVM. All run files live in a fresh directory under perfbench/target,
removed at exit. The last line printed is the result JSON.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
WORKLOADS = ("serve", "serve-truncate", "bulk", "curate")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (same list as the
# program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def classpath():
    """The runtime classpath, building first if any source is newer."""
    newest = max(os.path.getmtime(f) for f in sources() if os.path.exists(f))
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest:
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH", 3)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    started = time.time()
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish in {BUILD_TIMEOUT_S} s", 3)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp + "\n")
    print(f"perfbench: built in {time.time() - started:.1f} s", file=sys.stderr)
    return cp


def steal_jiffies():
    """(steal, total) CPU jiffies of the host so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive", 2)
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources are missing ({need} not found beside perfbench/)", 2)

    cp = classpath()
    os.makedirs(TARGET, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=TARGET)
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--tmp", tmp])
    # a terminated run still stops its JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    steal0 = steal_jiffies()
    try:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run did not finish in {RUN_TIMEOUT_S} s", 4)
        lines = [l for l in out.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        steal1 = steal_jiffies()
        if steal0 and steal1 and steal1[1] > steal0[1]:
            # CPU time the hypervisor gave to other guests during the run
            share = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
            print(json.dumps({"host_cpu": {"steal_share": round(share, 4)}}))
        if proc.returncode != 0 or not lines:
            fail(f"run failed with exit code {proc.returncode}", 4)
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"unexpected result line: {lines[-1]}", 4)
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
