#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt depends on the root build) and
writes perfbench/target/launcher.txt; later runs reuse it while the
sources hash the same. Each run starts one JVM, whose last stdout line
is the JSON result; this script checks its shape and prints it as its
own last line. It exits non-zero, printing no result, when the engine
sources are missing, the build fails, or the run fails or overruns.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("ine_weekly", "query_sweep")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of everything the build reads, to tell a stale launcher."""
    h = hashlib.sha1()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on overrun and
    wait for it, so nothing outlives this script."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def launcher():
    """Classpath and JVM options, building first when stale."""
    path = os.path.join(BENCH, "target", "launcher.txt")
    stamp = os.path.join(BENCH, "target", "launcher.sha1")
    digest = sources_digest()
    fresh = (os.path.exists(path) and os.path.exists(stamp)
             and open(stamp).read().strip() == digest)
    if not fresh:
        print("[perfbench] building engine and harness", file=sys.stderr)
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "launcher"],
            BUILD_TIMEOUT_S, cwd=BENCH, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if code != 0 or not os.path.exists(path):
            sys.stderr.write(out or "")
            fail("build failed" if code is not None else "build timed out", 3)
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(path).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def valid(result):
    return (isinstance(result, dict)
            and set(result) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(result["attempted"], int) and result["attempted"] >= 1
            and isinstance(result["failed"], int)
            and isinstance(result["metrics"], dict) and result["metrics"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to perfbench/; run from a full checkout", 2)

    cp, jvm_opts = launcher()
    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, GRAFT_DICT_DIR=os.path.join(work, "dictionary"))
    cmd = (["java", f"-Xmx{HEAP}"] + jvm_opts + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--data", os.path.join(BENCH, "data")])
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"run failed with exit code {code}", 5)
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        result = None
    if not valid(result):
        sys.stderr.write(out)
        fail("run printed no valid result line", 6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
