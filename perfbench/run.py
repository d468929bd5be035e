#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload vector --seed 1 --seconds 2 --trace 0

Run from the root of a checkout of the repository. The first run builds the
program and the harness from source with sbt (perfbench/build.sbt, which
depends on the root build); later runs reuse the build while no source file
changed. Each run gets a fresh directory under .bench_build/runs that is the
JVM temp dir (where the program puts its index dirs) and holds the generated
inputs; it is deleted when the run ends. Spans of traced runs are kept in
.bench_build/traces.

Exit code 0 when every output check passed, 1 when a check failed or the
run broke, 2 when the checkout cannot be built.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
JDK_OPENS = [
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


def clean_env():
    """The environment for sbt and the JVM: no SPARK_GRAFT_* knobs and no
    SPARK_LOCAL_DIRS, so nothing outside the run changes what is measured
    or where it writes."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    return env


def source_digest():
    """Digest of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, err, timeout):
    """Run `cmd` in its own process group and return (exit code, stdout);
    on timeout, or if this process is interrupted, kill the whole group and
    wait for it. Exit code None means the timeout hit."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=err, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(env):
    """Compile with sbt unless the recorded classpath matches the sources;
    returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(stamp):
            with open(stamp) as fh:
                rec = json.load(fh)
            if rec.get("digest") == digest:
                return rec["classpath"], digest
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            code, stdout = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                HERE, env, out, BUILD_TIMEOUT_S)
            out.write(stdout)
        lines = [l for l in stdout.splitlines() if l.strip()]
        if code != 0 or not lines or ".jar" not in lines[-1]:
            fail(f"build failed (exit {code}); see {log}", 2)
        with open(stamp, "w") as fh:
            json.dump({"digest": digest, "classpath": lines[-1]}, fh)
        return lines[-1], digest


def commit_id(digest):
    """The git commit when the checkout is a repository, else the source
    digest (which identifies the code as well)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                               capture_output=True, text=True, timeout=10)
            if p.returncode == 0 and p.stdout.strip():
                return p.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return f"source-sha256:{digest[:16]}"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout", 2)
    env = clean_env()
    classpath, digest = build(env)

    run_dir = os.path.join(
        BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    log = os.path.join(BUILD, f"run-{args.workload}-{args.seed}.log")
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath,
            "graft.bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--root", run_dir, "--commit", commit_id(digest)]
    if args.trace == "1":
        cmd += ["--trace-out", os.path.join(
            traces, f"{args.workload}-{args.seed}.jsonl")]
    try:
        with open(log, "w") as err:
            code, out = run_group(cmd, ROOT, env, err, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log}", 1)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    result = None
    for i in reversed(range(len(lines))):
        try:
            rec = json.loads(lines[i])
        except ValueError:
            continue
        if "correct" in rec:
            result = rec
            del lines[i]
            break
    if result is None:
        fail(f"no result (exit {code}); see {log}", 1)
    got = list(result["metrics"])
    want = expected_metrics(args.trace == "1")
    if sorted(got) != sorted(want):
        fail(f"metrics {sorted(set(got) ^ set(want))} differ from "
             "BENCHMARK.json", 1)
    for line in lines:
        print(line)
    print(json.dumps(result))
    if code != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
