#!/usr/bin/env python3
"""Lake lifecycle benchmark: build the harness if needed, run one workload.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload lake_mor --seed 1 --seconds 8 --trace 0

The first run compiles graft and the harness with sbt and records the
launch classpath (perfbench/target/launch.json) under a hash of the sources;
later runs start the JVM directly. Each run works in a fresh directory under
perfbench/.work/ that is deleted afterwards, writes its full record to
perfbench/out/, and prints one JSON result object as its last line.
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
ROOT = os.getcwd()
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.json")
STAMP = os.path.join(TARGET, "launch.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "-Xmx2g"


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads: both build definitions and both
    source trees."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(tree)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return None, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(digest):
    if os.path.exists(STAMP) and os.path.exists(LAUNCH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local repositories only, as the project's own build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(out or "")
        fail("build failed" if rc is not None else "build timed out", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    # SIGTERM unwinds like Ctrl-C, so run_group kills and reaps the child's
    # process group instead of leaving the JVM behind
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["lake_cow", "lake_mor", "feed_index", "docs_curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)", 2)

    digest = source_hash()
    build(digest)
    with open(LAUNCH) as fh:
        launch = json.load(fh)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = (["java"] + launch["jvm_options"] + [HEAP, f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", work, "--out", out,
            "--commit", git_commit(), "--source-hash", digest[:16]])
    try:
        rc, stdout = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = (stdout or "").splitlines()
    result = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    if rc is None:
        fail(f"run timed out after {RUN_TIMEOUT_S} s", 4)
    if rc != 0 or not result:
        fail(f"harness exited with {rc} and no result", 5)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
