#!/usr/bin/env python3
"""Benchmark of the graft engine: the AF3 pipeline CLI and a suite subset.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (sbt, offline) into the checkout and caches the classpath; later
runs start the harness JVM directly, so no build-tool prefix reaches
stdout. Inputs are generated from the seed and cached under .bench_build/.
The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM = os.path.join(HERE, "jvm")
WORKLOADS = ("af3_focus", "af3_screen", "suite_heads")
END_TO_END = ("setup_s", "pass_s", "jobs_per_s", "ok_frac", "peak_rss_mb")
JVM_TIMEOUT_S = 170
KEEP_INPUTS = 3  # cached input sets kept per workload

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def read(path):
    with open(path) as f:
        return f.read()


def run_proc(cmd, cwd, env, timeout, stdout, stderr):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


def source_stamp():
    """Hash of everything the harness build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(JVM, "build.sbt"), os.path.join(JVM, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(JVM, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build once per source state; return the harness runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no {need} next to the benchmark: run from a full checkout")
            sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and read(stamp_file) == stamp:
        return read(cp_file).strip()
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    out_path = os.path.join(BUILD, "build.log")
    with open(out_path, "w") as out:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export perfbench/Runtime/fullClasspath"],
                      JVM, env, 800, out, subprocess.STDOUT)
    lines = read(out_path).splitlines()
    cps = [l for l in lines if "perfbench/jvm/target" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        log(f"build failed (rc={rc}); see {out_path}")
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def java(cp, args, cwd, log_path, extra_env=None):
    env = dict(os.environ)
    cores = str(os.cpu_count() or 4)
    try:
        cores = str(len(os.sched_getaffinity(0)))
    except AttributeError:
        pass
    env.update({
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_LOCAL_DIRS": os.path.join(BUILD, "spark-local"),
    })
    env.pop("SPARK_GRAFT_CONF", None)  # no ad-hoc engine overrides in a measured run
    env.update(extra_env or {})
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # ParallelGC: no concurrent GC threads competing with the task threads
    # for the cores, which steadies pass times
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", *args]
    with open(log_path, "w") as err:
        out_path = log_path + ".out"
        with open(out_path, "w") as out:
            try:
                rc = run_proc(cmd, cwd, env, JVM_TIMEOUT_S, out, err)
            except subprocess.TimeoutExpired:
                log(f"harness JVM timed out; see {log_path}")
                sys.exit(4)
    stdout = read(out_path).splitlines()
    if rc != 0:
        tail = read(log_path).splitlines()[-30:]
        log(f"harness JVM exited {rc}:\n" + "\n".join(tail))
        sys.exit(5)
    return stdout


def prune(prefix):
    """Keep only the newest cached input sets of one workload."""
    dirs = sorted(glob.glob(os.path.join(BUILD, "inputs", prefix + "-*")),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


def files_hash(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def af3_inputs(workload, seed, jobs):
    """Cache dir of one AF3 tree; the harness JVM generates it when absent."""
    gen = files_hash(os.path.join(JVM, "src/main/scala/perfbench/Af3Gen.scala"),
                     os.path.join(JVM, "src/main/scala/perfbench/Af3Oracle.scala"))
    key = f"{workload}-s{seed}-g{gen}" + (f"-j{jobs}" if jobs else "")
    os.makedirs(os.path.join(BUILD, "inputs"), exist_ok=True)
    return os.path.join(BUILD, "inputs", key)


def suite_inputs(seed):
    sys.path.insert(0, HERE)
    import gen_suite
    key = f"suite_heads-s{seed}-g{files_hash(os.path.join(HERE, 'gen_suite.py'))}"
    d = os.path.join(BUILD, "inputs", key)
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_suite.write(d, seed)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def suite_oracle_failures(data, work, exec_counts):
    """Query executions whose result the DuckDB oracle rejects."""
    sys.path.insert(0, HERE)
    import oracle_suite
    bad = oracle_suite.mismatches(data, work)
    for name, why in bad.items():
        log(f"oracle mismatch {name}: {why}")
    return sum(exec_counts.get(n, 1) for n in bad)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--jobs", type=int, default=0, help="AF3 job count override (self-test)")
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "suite_heads":
        inputs = suite_inputs(a.seed)
    else:
        inputs = af3_inputs(a.workload, a.seed, a.jobs)
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--inputs", inputs]
    if a.jobs:
        args += ["--jobs", str(a.jobs)]
    if a.trace:
        # traced runs also measure the other family, at a fixed small size
        cross = af3_inputs("af3_screen", a.seed, 2) if a.workload == "suite_heads" \
            else suite_inputs(a.seed)
        args += ["--cross", cross]
    env = {"GRAFT_ARTIFACT_DIR": os.path.join(work, "artifacts")}
    lines = java(cp, args, work, os.path.join(work, "jvm.log"), env)
    res = json.loads(lines[-1])
    attempted, failed = res["attempted"], res["failed"]
    metrics = res["metrics"]
    if a.workload == "suite_heads" and a.trace == 0:
        failed = min(attempted, failed + suite_oracle_failures(inputs, work, res["exec_counts"]))
        metrics["ok_frac"]["value"] = 1.0 - failed / attempted
    for w in WORKLOADS:
        prune(w)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
