#!/usr/bin/env python3
"""Run one usbench workload and print its result as the last stdout line.

    python3 usbench/run.py --workload search_serving --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (usbench/build.sbt); later runs reuse the
build while the sources are unchanged. Everything a run writes lands in
`.bench_build/` under the checkout: tables in `runs/<id>/` (removed when
the run ends), span files in `traces/`, the last untraced result of each
workload and seed in `results/` (a traced run compares itself against it
to report the tracing overhead).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("search_serving", "crawl_index_cycle")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"usbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    die("no Spark installation: set SPARK_HOME", 3)


def build():
    """Compile engine + benchmark unless the last build saw these sources;
    returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    print("usbench: building engine and benchmark (sbt)...", file=sys.stderr)
    with open(log, "w") as fh:
        # its own process group: the sbt launcher forks the JVM that builds
        sbt = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = sbt.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(sbt.pid, signal.SIGKILL)
            sbt.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed ({rc}); full log in {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala/graft", 2)

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "usbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--dir", run_dir,
            "--trace-dir", os.path.join(WORK, "traces")])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stdin=subprocess.DEVNULL, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = p.stdout.strip().splitlines()
    try:
        info = json.loads(lines[-2])["info"]
        result = json.loads(lines[-1])
    except (IndexError, ValueError, KeyError):
        sys.stderr.write(p.stdout[-4000:])
        die(f"no result from the run (exit {p.returncode})", 5)

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    last = os.path.join(results, f"{a.workload}-{a.seed}.json")
    e2e = info.get("end_to_end", {})
    if a.trace == 0 and p.returncode == 0:
        with open(last, "w") as fh:
            json.dump(e2e, fh)
    elif a.trace == 1 and os.path.exists(last):
        base = json.load(open(last))
        info["trace_overhead"] = {
            k: e2e[k] / base[k] - 1 for k in e2e
            if k.endswith("_ms") and base.get(k)}
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    sys.stdout.flush()
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
