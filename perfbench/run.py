#!/usr/bin/env python3
"""Run one workload of the replication benchmark from the repository root.

    python3 perfbench/run.py --workload backlog --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline;
outputs under .bench_build/ and the sbt target/ dirs), then runs the
benchmark JVM on a fresh work dir under .bench_runs/, which it deletes
afterwards. The last line of stdout is the result object; traced runs also
write .bench_out/trace-<workload>-seed<n>.json.

Extra options for the self-test: --size tiny, --perturb-oracle (the oracle
drops one row, so the run must fail its check), --fingerprint-only (print the
input digests for the seed and exit).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
RUNS_DIR = ".bench_runs"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit: the same module opens the engine's
# build passes to its forked JVMs.
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


def build_inputs(root):
    """Every file the build reads, in a stable order."""
    files = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            files.append(p)
        for d, dirs, names in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def stamp(root):
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root):
    """Build (when sources changed) and return the runtime classpath."""
    out = os.path.join(root, BUILD_DIR)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    want = stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backlog", "tail"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    ap.add_argument("--perturb-oracle", action="store_true")
    ap.add_argument("--fingerprint-only", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"perfbench: run from the repository root; {need} is missing")

    cp = classpath(root)
    work = os.path.join(root, RUNS_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Bench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--size", args.size] +
           (["--perturb-oracle"] if args.perturb_oracle else []) +
           (["--fingerprint-only"] if args.fingerprint_only else []))
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        # the JVM runs in its own session: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, RUNS_DIR))
        except OSError:
            pass

    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if args.fingerprint_only:
        print(json.dumps(result), flush=True)
        return
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("perfbench: malformed result line")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
