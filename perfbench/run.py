#!/usr/bin/env python3
"""Cold, layer-attributed benchmark of graft's public surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload <fsimage_session|training_iter>
                             --seed <n> --seconds <s> --trace <0|1>

The first call builds the benchmark (an sbt project in this directory that
depends on the repository's own build) and caches the classpath under
`.bench_build/perfbench`; later calls rebuild only when a source or build
file changed. Each call then runs one workload in a fresh JVM with a fixed
heap on `local[nproc]` and prints, as its last stdout line, one JSON object
with `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics,
or with `--trace 1` the per-layer ones). The line before it is the run
record: ambient ledger, failure probe, per-pass times and the trace file.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"
# A build may take most of the first call's 900 s; the run that follows it
# gets its own RUN_TIMEOUT_S, as every later call does.
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
WORKLOADS = ("fsimage_session", "training_iter")
# Spark on JDK 17 needs these outside spark-submit (the same list as the
# root build's forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild, in a stable order."""
    files = []
    for base, subdirs in ((ROOT, ("src/main", "project")), (BENCH_DIR, ("src", "project"))):
        files.append(os.path.join(base, "build.sbt"))
        for sub in subdirs:
            for dirpath, dirnames, filenames in os.walk(os.path.join(base, sub)):
                dirnames[:] = sorted(d for d in dirnames if d != "target")
                files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def build_stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's JVM keeps its temporary files inside the checkout too; the path
    # is relative to sbt's working directory because the launcher splits
    # JAVA_OPTS on whitespace
    tmp = os.path.relpath(tmp_dir(), BENCH_DIR)
    env["JAVA_OPTS"] = f"{env.get('JAVA_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def tmp_dir():
    path = os.path.join(WORK, "tmp")
    os.makedirs(path, exist_ok=True)
    return path


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout and
    always waits for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s", 1)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out, err


def classpath():
    """Builds if any build input changed or a classpath entry is gone;
    returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = build_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            same, cp = fh.read().strip() == stamp, cf.read().strip()
        if same and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(WORK, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    code, out, _ = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=sbt_env(), stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail("build failed", 1)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {os.path.basename(BENCH_DIR)}/ (expected build.sbt "
             "and src/main/scala/graft at the repository root)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    cp = classpath()
    started = time.monotonic()
    # inputs, outputs and Spark scratch of this run; removed however it ends
    run_dir = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=tmp_dir())
    try:
        run(a, cp, run_dir, started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, cp, run_dir, started):
    cores = len(os.sched_getaffinity(0))
    # the run is configured by its arguments alone: no engine setting leaks
    # in from the caller's environment, and Spark's scratch stays inside
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = run_dir
    # the heap is touched up front, so peak RSS does not depend on how far
    # the collector happened to spread over it
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK,
            "--run-dir", run_dir, "--cores", str(cores)])
    budget = RUN_TIMEOUT_S - (time.monotonic() - started)
    code, out, _ = run_bounded(cmd, budget, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited {code} without a result", 1)
    if code != 0:
        fail(f"benchmark JVM exited {code}", 1)
    sys.stdout.write("\n".join(lines[-2:]) + "\n")


if __name__ == "__main__":
    main()
