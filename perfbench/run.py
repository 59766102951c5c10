#!/usr/bin/env python3
"""Build the benchmark if needed, run one workload, print its result.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0

The engine and the benchmark are compiled with sbt the first time (and
again whenever a source file changes); later runs start the JVM directly
on the cached classpath. The last line of standard output is the result
object; the full record goes to the line before it and to
perfbench/.work/results/. Exit codes: 0 all outputs correct, 1 a wrong
output (the result is still printed), 2 the run could not start or
complete (no result is printed), 3 the run overran its time limit.
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
BUILD_DIR = os.path.join(HERE, "target", "perfbench-build")
WORK_ROOT = os.path.join(HERE, ".work")
WORKLOADS = ("serve_read", "serve_write_cdc", "graph_refresh")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs these (Spark's own
# JavaModuleOptions list).
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


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "fingerprint")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building engine and benchmark with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [ln for ln in lines if not ln.startswith("[") and "classes" in ln and os.pathsep in ln]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError(f"sbt build failed (exit {proc.returncode})")
    log(f"build finished in {time.time() - t0:.0f} s")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cps[-1]


def revision(fp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256-" + fp[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("error: the engine sources (src/main/scala/graft) are not in this checkout")
        return 2
    try:
        fp = fingerprint()
        classpath = build(fp)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 2

    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Every engine knob stays at its default: drop SPARK_GRAFT_* overrides.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PERFBENCH_COMMIT"] = revision(fp)
    cmd = (["java", "-Xmx3g", "-Xss4m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--src", os.path.join(ROOT, "src", "main", "scala")])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        # never leave the JVM behind: stop its process group, wait, then exit
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        # the limit holds whether or not the JVM has written anything yet
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        log(f"error: run exceeded {RUN_TIMEOUT_S} s; stopping it")
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
        rec = os.path.join(work, "record.json")
        if os.path.exists(rec):
            os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
            shutil.copy(rec, os.path.join(WORK_ROOT, "results", f"{name}.json"))
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith('{"correct":'):
            result = line
        else:
            print(line, flush=True)
    if result is None or rc not in (0, 1):
        log(f"error: the run failed (exit {rc}) without a result")
        return 2
    parsed = json.loads(result)
    if rc == 0 and parsed.get("correct") is not True:
        rc = 1
    print(result, flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
