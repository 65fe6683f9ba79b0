#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the current checkout.

    python3 perfbench/run.py --workload lake_mixed --seed 7 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while the
sources are unchanged. Apart from sbt's own caches in the user's home, every
file the build and run write stays under the checkout: the build under
perfbench/target and .bench_work/build, the workload's data under
.bench_work/run (removed at the end), the trace of a traced run under
.bench_work/traces.

The last line of standard output is the result, one JSON object with the
keys correct, attempted, failed and metrics. Exits non-zero, with no result
line, when the engine sources are missing or the build or run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("ehr_pipeline", "lake_mixed", "corpus_search")
BUILD_TIMEOUT_S = 850
RUN_LIMIT_S = 170
JVM_HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the engine's own build passes the same list.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(root, build_dir):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        # resolve from the same local repositories the engine's build uses
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = " ".join(filter(None, [
        opts, "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(build_dir, "tmp")]))
    log = os.path.join(build_dir, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=out, stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out; see {log}")
        out.write(stdout)
    if p.returncode != 0:
        fail(f"build failed; see {log}")
    lines = [l for l in stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: the engine sources are missing")
    work = os.path.join(root, ".bench_work")
    cp = build(root, os.path.join(work, "build"))

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work-dir", run_dir])
    p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        stdout, stderr = p.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("the workload did not finish in time")

    if args.trace:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        trace = os.path.join(run_dir, "trace.jsonl")
        if os.path.exists(trace):
            shutil.move(trace, os.path.join(
                work, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(stderr[-4000:])
        fail(f"the workload exited with code {p.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        if l.startswith("detail "):
            print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
