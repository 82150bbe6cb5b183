#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run in a checkout builds the library
and the harness from source with sbt (perfbench/build.sbt) and generates the
fixed analytics tables; later runs reuse both until a source file changes.
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md.

`--tiny` (smaller inputs) and `--corrupt` (a deliberately wrong golden or
model) exist for the benchmark's own tests in perfbench/test_bench.py.
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

WORKLOADS = ("query_mix", "batch_cold")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCHER = os.path.join(TARGET, "launcher.txt")
DATA = os.path.join(TARGET, "data")
STAMP = os.path.join(TARGET, "build.stamp")
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
RUN_TIMEOUT_S = 170
SBT_TIMEOUT_S = 540
GEN_TIMEOUT_S = 150


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: the library, its build, and the
    harness. A change to any of them triggers a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(tree)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and kills the whole group if it
    outlives `timeout`, so no process is left behind."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def java_cmd(work, *args):
    with open(LAUNCHER) as f:
        opts = f.read().splitlines()
    return (["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp"] + opts +
            ["graftbench.Main"] + list(args))


def build():
    """Builds with sbt and generates the fixed tables, once per source state."""
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building the library and the benchmark harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launcher"],
                        SBT_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if code != 0 or not os.path.exists(LAUNCHER):
        sys.exit(f"build failed (sbt exit {code})")
    log("generating the fixed analytics tables")
    shutil.rmtree(DATA, ignore_errors=True)
    work = os.path.join(TARGET, "gen-work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    code, _ = run_child(java_cmd(work, "gen", "--data", DATA, "--work", work),
                        GEN_TIMEOUT_S, stdout=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.exit(f"table generation failed (exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("the graft sources (build.sbt, src/main/scala/graft) are not next to perfbench/")

    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        build()

    work = os.path.join(TARGET, "runs", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", work,
            "--goldens", os.path.join(HERE, "goldens.json")]
    if a.trace:
        traces = os.path.join(TARGET, "traces")
        os.makedirs(traces, exist_ok=True)
        args += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
    args += ["--tiny"] * a.tiny + ["--corrupt"] * a.corrupt
    try:
        code, out = run_child(java_cmd(work, *args), RUN_TIMEOUT_S, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l[len("RESULT "):] for l in out.splitlines() if l.startswith("RESULT ")]
    if code != 0 or not results:
        sys.exit(f"benchmark run failed (exit {code})")
    result = json.loads(results[-1])
    print(f"error_rate={result['failed'] / result['attempted']:.4f} "
          f"attempted={result['attempted']} failed={result['failed']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
