#!/usr/bin/env python3
"""Run one workload of the RaBitQ engine benchmark and print its result.

    python3 perfbench/run.py --workload serve-gist --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark main from source with sbt (offline) into `.bench_build/`; later
runs reuse the build while the sources are unchanged. Each run starts one
JVM, which generates the seeded inputs, measures for `--seconds`, checks
the outputs, and prints one JSON line. This wrapper validates that line
against BENCHMARK.json and prints it as the last line of stdout.

`--size tiny` runs the same code paths on small inputs (the smoke test).
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# class-data archive of the engine's and Spark's classes: loading them from
# it instead of from jars cuts JVM start-up by several seconds per run
ARCHIVE = os.path.join(BUILD, "classes.jsa")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xmx3g",
    # Spark on JDK 17 outside spark-submit (as the engine's build sets up)
    *[a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")],
    "--add-modules=jdk.incubator.vector",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.abspath(__file__)]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; record the runtime classpath."""
    fp = source_fingerprint()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Xmx2g"
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log_path})")
        except BaseException:
            stop(proc)
            raise
        log.write(out)
    lines = [ln for ln in out.splitlines() if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (log: {log_path})")
    cp = lines[-1].strip()
    # one tiny run records the classes a run loads; a failure here only
    # costs start-up time, so the build goes on without the archive
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    code = run_java(cp, ["-XX:ArchiveClassesAtExit=" + ARCHIVE],
                    ["--workload", "lifecycle", "--seed", "0", "--seconds", "1",
                     "--trace", "1", "--size", "tiny"], "archive", BUILD_TIMEOUT_S)[0]
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(CLASSPATH, "w") as fh:
        fh.write(fp + "\n" + cp + "\n")
    return cp


def stop(proc):
    """Stop a child and everything it started, and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(timeout=10)
    except (ProcessLookupError, subprocess.TimeoutExpired):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def run_java(cp, jvm_opts, args, tag, timeout):
    """Run the benchmark main in its own work directory, which is removed
    afterwards. Returns (exit code, stdout, log path); stderr goes to the log.
    """
    work = os.path.join(BUILD, "work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    artifact = os.path.join(BUILD, "artifacts", f"{tag}-{int(time.time())}.json")
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", *JAVA_OPTS, *jvm_opts, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main", *args, "--work", work, "--artifact", artifact]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                stop(proc)
                fail(f"run timed out after {timeout}s (log: {log_path})")
            except BaseException:
                stop(proc)
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out, log_path


def validate(result, spec, traced):
    """The result line carries exactly the metrics BENCHMARK.json names."""
    keys = ("per_layer" if traced else "end_to_end")
    want = {m["name"]: m["unit"] for m in spec[keys]}
    got = result.get("metrics", {})
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(result)}"
    if set(got) != set(want):
        return (f"metrics differ from BENCHMARK.json {keys}: missing "
                f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    bad = [n for n, m in got.items() if m.get("unit") != want[n]
           or not isinstance(m.get("value"), (int, float))]
    if bad:
        return f"metrics with a wrong unit or value: {bad}"
    return None


def main():
    # a terminated runner stops its children first (see stop)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root: BENCHMARK.json not found")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found: build.sbt and src/main/scala must sit beside BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{args.size}-{os.getpid()}"
    extra = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    code, out, log_path = run_java(cp, extra, [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--size", args.size], tag, RUN_TIMEOUT_S)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if code != 0 or len(lines) < 2:
        fail(f"benchmark exited {code} without a result (log: {log_path})")
    result = json.loads(lines[-1])
    err = validate(result, spec, args.trace == "1")
    if err:
        fail(err)
    print(lines[-2])
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
