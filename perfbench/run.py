#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload join_skew --seed 1 --seconds 8 --trace 0

Builds the engine plus the harness (perfbench/build.sbt) once per
source state, runs one workload in a single local[nproc] JVM (warm-up
passes, then timed passes filling about --seconds), and prints as its
last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones and writes the span
trace. Everything it writes lands in $CARGO_TARGET_DIR (default
.bench_build) under the checkout. See perfbench/README.md.
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
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("join_skew", "iterative_latency", "stream_drain")
HEAP = "3g"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
# Spark 4 on JDK 17 outside spark-submit; same list as the engine build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "perfbench") if not os.path.isabs(d) else os.path.join(d, "perfbench")


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build(bdir):
    """Compile once per source state; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # build offline, from the user's repository list when there is one
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Dperfbench.target={os.path.join(bdir, 'target')}",
           f"-Dperfbench.sparkJars={spark_jars()}",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        rc = run_child(cmd, HERE, env, out, subprocess.STDOUT, BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log: {log}")
    cp = next((ln.strip() for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln), None)
    if not cp:
        fail(f"build printed no classpath; log: {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def harness_command(cp, work, *args):
    """The harness JVM: fixed heap, scratch space inside `work`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", cp, "graft.perfbench.PerfBench", *args]


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def git_commit():
    """HEAD of the checkout, or "unknown" when it is not a git work tree."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") != os.path.realpath(ROOT):
            return "unknown"
        return git("rev-parse", "HEAD") or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ROOT}/src; run from a full checkout")
    data = os.path.join(HERE, "data")
    if not glob.glob(os.path.join(data, "sf0.01", "*.parquet")):
        fail("fixture tables missing under perfbench/data/sf0.01")

    bdir = build_dir()
    cp = build(bdir)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(bdir, "results", f"raw-{tag}.json")
    os.makedirs(os.path.dirname(raw_path), exist_ok=True)
    if os.path.exists(raw_path):
        os.remove(raw_path)
    launch_ms = int(time.time() * 1000)
    cmd = harness_command(cp, work, "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
                          "--work", work, "--out", raw_path, "--launch-ms", str(launch_ms))
    log = os.path.join(bdir, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = run_child(cmd, work, dict(os.environ), out, subprocess.STDOUT, RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw_path):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}; log: {log}")
    with open(raw_path) as f:
        raw = json.load(f)

    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    env = dict(raw["env"], git_commit=git_commit(), nproc=os.cpu_count())
    env["overloaded_at_start"] = raw["env"]["load1_start"] > env["nproc"]
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "env": env,
               "setup_failures": raw["setup_failures"],
               "failures": [o["error"] for o in raw["ops"] if not o["ok"]]}
    if a.trace:
        spans = stats.build_spans(raw)
        own, layer_self = stats.self_times(spans)
        metrics = stats.per_layer(raw, spans)
        trace_path = os.path.join(bdir, "traces", f"{tag}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"layer_self_s": layer_self,
                       "spans": [dict({k: v for k, v in s.items() if k != "stage"},
                                      self_s=own[s["id"]]) for s in spans]}, f)
        summary["layer_self_s"] = layer_self
        summary["trace_file"] = trace_path
    else:
        metrics, facts = stats.end_to_end(raw)
        summary.update(facts)
    result = {"correct": failed == 0 and not raw["setup_failures"],
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(bdir, "results", f"{tag}.json"), "w") as f:
        json.dump({"summary": summary, "result": result}, f, indent=1)
    for k, (v, u) in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    if not a.trace:
        # failed_frac is 0 on a correct engine, so it stays out of the
        # metrics object; the result carries it as attempted and failed
        print(f"{a.workload} failed_frac = {summary['failed_frac']:.6g} fraction")
        print(f"{a.workload} op_tail_s is p{summary['op_tail_percentile']} of "
              f"{summary['ops']} operations, {summary['op_tail_samples_beyond']} beyond it")
    print(json.dumps({"summary": summary}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
