#!/usr/bin/env python3
"""Warehouse benchmark runner.

Usage (from the repository root):

    python3 warebench/run.py --stream-rate <rows/s> --workload <name> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the product sources together with the benchmark's Scala sources
(plain scalac, cached by source hash under $CARGO_TARGET_DIR or
.bench_build), runs one workload in a fresh JVM on Spark local[nproc],
checks the outputs, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the span record is
kept under <build dir>/traces/. Workloads: ads_dashboard and
stream_topology (see warebench/README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PRODUCT_SRC = os.path.join(ROOT, "src", "main", "scala")
CHECKER = os.path.join(ROOT, "scripts", "check.py")
DATA = os.path.join(BENCH, "data", "sf0.001")
DEADLINE_S = 170  # the whole run, build excluded
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("ads_dashboard", "stream_topology")
# Per-layer metrics (name prefixes) of the layers a workload does not run:
# they read 0. Any other declared metric the run did not measure, or
# measured on an empty sample, fails the run.
NOT_RUN = {
    "ads_dashboard": ("stream.", "state.", "gen.", "trace.overhead_rows_per_s"),
    "stream_topology": ("store.", "construct.", "plan.", "shape.",
                        "trace.overhead_pass_s"),
}


def fail(msg):
    print(f"[warebench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark and Scala jars: $SPARK_HOME/jars, else the directory the
    product's build.sbt names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no jar directory: set SPARK_HOME or unmanagedBase in build.sbt")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    found = []
    for base in (PRODUCT_SRC, os.path.join(BENCH, "src", "main", "scala")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    """Compile product + benchmark sources once per source hash."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    jars = glob.glob(os.path.join(spark_jars(), "scala-*.jar"))
    compiler = [j for j in jars if re.search(r"scala-(compiler|library|reflect)-", j)]
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(spark_jars(), "*"), "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("build failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".done"), "w").close()
    print(f"[warebench] built {len(srcs)} sources in {time.time() - t0:.0f}s",
          file=sys.stderr)
    return out


def heap_size():
    """Heap as the repository's test command sets it: half of RAM, clamped
    to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def run_jvm(classes, work, args, cpus, deadline):
    """Run warebench.Main in its own process group; kill it at the deadline."""
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_DWD_DIR", None)  # stores stay PID-scoped, never pinned
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + os.path.join(spark_jars(), "*"),
            "warebench.Main"] + args
    log_path = os.path.join(work, f"jvm-{cpus}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-6000:]
        fail(f"JVM exited with {rc}:\n{tail}")
    with open(log_path) as f:
        for line in f:
            if line.startswith("[warebench]"):
                print(line.rstrip(), file=sys.stderr)


def oracle_check(out_dir, expected):
    """DuckDB oracle compare of the warm-up outputs via scripts/check.py."""
    r = subprocess.run([sys.executable, CHECKER, DATA, out_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    m = re.search(r"(\d+) pass, (\d+) fail, (\d+) rows-only", r.stdout)
    ok = (r.returncode == 0 and m is not None and int(m.group(1)) == expected
          and int(m.group(2)) == 0)
    if not ok:
        print("[warebench] oracle check failed:\n" + r.stdout[-4000:],
              file=sys.stderr)
    return ok


def collect(declared, measured, not_run=()):
    """The declared metrics, by name, with their units, and whether every
    one has a value. A metric the run measured as null (an empty sample)
    or not at all has none, unless it belongs to a layer in `not_run`
    (name prefixes), which reads 0."""
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if m["name"] not in measured and m["name"].startswith(tuple(not_run)):
            v = 0
        if v is None:
            print(f"[warebench] metric {m['name']} missing", file=sys.stderr)
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics, len(metrics) == len(declared)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--stream-rate", type=int, required=True,
                    help="offered rate of the stream open loop, rows/s")
    ap.add_argument("--inject-failure", type=int, choices=(0, 1), default=0,
                    help="add an operation that always fails (self-test)")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(PRODUCT_SRC) and os.path.exists(CHECKER)
            and os.path.exists(spec_path)
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail(f"{ROOT} is not a full checkout (product sources, build.sbt, "
             "scripts/check.py and BENCHMARK.json are required)")
    with open(spec_path) as f:
        spec = json.load(f)
    classes = build()

    deadline = time.time() + DEADLINE_S
    work = os.path.join(build_dir(), "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

        def jvm_args(run_dir, extra=()):
            return ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--data", DATA, "--work", run_dir,
                    "--out", os.path.join(run_dir, "result.json"),
                    "--rate", str(a.stream_rate),
                    "--inject-failure", str(a.inject_failure), *extra]

        result_path = os.path.join(work, "result.json")
        run_jvm(classes, work, jvm_args(work), cpus, deadline)
        with open(result_path) as f:
            res = json.load(f)

        correct = all(res["checks"].values())
        if a.workload == "ads_dashboard":
            n_queries = len([d for d in os.listdir(os.path.join(work, "out"))
                             if not d.endswith(".json")])
            correct = oracle_check(os.path.join(work, "out"), n_queries) and correct
        elif a.trace:
            # the same drain in a one-core JVM: the single-threaded baseline
            base = os.path.join(work, "one_core")
            os.makedirs(base)
            base_result = os.path.join(base, "result.json")
            run_jvm(classes, base, jvm_args(base, ["--drain-only", "1"]), 1,
                    deadline)
            with open(base_result) as f:
                one = json.load(f)
            res["per_layer"]["stream.rows_per_s_1core"] = \
                one["per_layer"]["stream.rows_per_s"]

        if res.get("trace_file"):
            keep = os.path.join(build_dir(), "traces",
                                f"{a.workload}-seed{a.seed}.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(res["trace_file"], keep)
            print(f"[warebench] spans written to {keep}", file=sys.stderr)

        if a.trace:
            metrics, complete = collect(spec["per_layer"], res["per_layer"],
                                        NOT_RUN[a.workload])
        else:
            metrics, complete = collect(spec["end_to_end"], res["end_to_end"])
        correct = correct and complete
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
