#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ingest_live|curation> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all --seed <n> --seconds <s>

Builds the engine and the benchmark harness from source with the Scala
compiler that ships in the Spark distribution (cached under
.bench_build/, rebuilt when any source changes), runs one workload in a
fresh JVM with every scratch path inside a per-run directory, and prints
the harness's JSON result object as the last line of stdout. The exit code
is non-zero when the build fails, the run times out, or any output check
fails.
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

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
MAIN = "graft.perfbench.BenchMain"
SOURCES = ["src/main/scala", "src/main/resources", "perfbench/src"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars of a Spark distribution that ships the Scala compiler:
    $SPARK_HOME, else the first `spark-submit` on PATH that belongs to one."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars_dir = os.path.join(home, "jars")
        jars = sorted(os.listdir(jars_dir)) if os.path.isdir(jars_dir) else []
        if any(j.startswith("scala-compiler") for j in jars):
            return [os.path.join(jars_dir, j) for j in jars if j.endswith(".jar")]
    return None


def source_files(root):
    out = []
    for top in SOURCES:
        for d, _, files in os.walk(os.path.join(root, top)):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def build(root, build_dir, jars):
    """Compile engine + harness into build_dir/classes; cached by a hash of
    every source file and the compiler classpath."""
    files = source_files(root)
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        log("building engine and benchmark harness from source")
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        scala = [f for f in files if f.endswith(".scala")]
        args_file = os.path.join(build_dir, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(scala))
        cp = os.pathsep.join(jars)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file]
        rc = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0:
            raise RuntimeError(f"scalac failed with exit code {rc}")
        res = os.path.join(root, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        return classes


def is_result(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}


WORKLOADS = ["ingest_live", "curation"]
DETAIL = "BENCH_DETAIL "


def run_one(root, classes, jars, build_dir, workload, seed, seconds, trace):
    """One workload in a fresh JVM. Returns (exit code, stdout lines)."""
    run_dir = os.path.join(build_dir, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_out = os.path.join(build_dir, "traces", f"{workload}-seed{seed}.jsonl")
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.system.home={run_dir}",
        f"-Dlog4j2.configurationFile={root}/perfbench/log4j2.properties",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes] + jars), MAIN,
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--run-dir", run_dir, "--trace-out", trace_out,
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=run_dir,
                            start_new_session=True)

    def stop(*_):
        # a killed runner must not leave its JVM behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(5)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"{workload} run exceeded {RUN_TIMEOUT_S} s; killed")
        out, code = "", 3
    else:
        code = proc.returncode
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for s, h in old.items():
            signal.signal(s, h)
        shutil.rmtree(run_dir, ignore_errors=True)
    return code, out.splitlines()


def print_all(results):
    """Every workload's end-to-end metrics, by name and unit, as a table."""
    print(f"{'workload':12s} {'metric':24s} {'value':>14s}  unit")
    for workload, (code, res, detail) in results.items():
        rows = {}
        if res:
            rows.update(res["metrics"])
            rows["fail_frac"] = {"value": res["failed"] / max(1, res["attempted"]), "unit": "ratio"}
        rows.update(detail)
        if not rows:
            print(f"{workload:12s} (no result, exit code {code})")
        for k, v in rows.items():
            print(f"{workload:12s} {k:24s} {v['value']:14.3f}  {v['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true",
                    help="run every workload once and print one table of metrics")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")

    root = os.getcwd()
    missing = [s for s in ("src/main/scala", "perfbench/src") if not os.path.isdir(os.path.join(root, s))]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); run from the repository root")
        return 2
    jars = spark_jars()
    if not jars:
        log("Spark jars not found (set SPARK_HOME or put spark-submit on PATH)")
        return 2
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    try:
        classes = build(root, build_dir, jars)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2

    if a.all:
        results, worst = {}, 0
        for w in WORKLOADS:
            code, lines = run_one(root, classes, jars, build_dir, w, a.seed, a.seconds, 0)
            res = [json.loads(l) for l in lines if is_result(l)]
            detail = {}
            for l in lines:
                if l.startswith(DETAIL):
                    detail.update(json.loads(l[len(DETAIL):]))
            results[w] = (code, res[-1] if res else None, detail)
            worst = worst or code
        print_all(results)
        return worst

    code, lines = run_one(root, classes, jars, build_dir, a.workload, a.seed, a.seconds, a.trace)
    results = [l for l in lines if is_result(l)]
    for l in lines:
        if not is_result(l):
            print(l)
    if not results:
        log(f"benchmark printed no result (exit code {code})")
        return code or 4
    print(results[-1], flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
