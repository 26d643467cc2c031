#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline;
cached under perfbench/target until a source file changes) and records a
class-data-sharing archive from one short run of every workload, so each
run's JVM loads Spark's classes from the archive. It then runs the
workload in one JVM, checks its outputs outside the timed region, and
prints as the last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics. The full
record (run conditions, generator counts, failed checks) is written to
perfbench/work/<workload>/record.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "source-stamp.txt")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
DEADLINE_S = 170  # the whole run, build excepted
# A fixed heap and young generation under the parallel collector: peak RSS
# then follows the old generation's high-water mark, not the collector's
# heap-sizing choices, which moved it by a third between identical runs.
HEAP_FLAGS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m"]
# Spark 4 on JDK 17 outside spark-submit (as in the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
AMBIENT_LOAD = 2.5  # the engine's Bench flags a record started above this


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build and the class archive depend on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]  # the JVM flags the class archive was made with
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(log_dir, workloads, cores):
    stamp = source_stamp()
    if all(os.path.exists(p) for p in (CLASSPATH, ARCHIVE, STAMP)):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    for p in (STAMP, ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=600).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed", 3)
    # a short run of every workload; 3 s covers the stream's 1 s trigger
    train = os.path.join(HERE, "work", "_train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    log = os.path.join(log_dir, "train.log")
    rc = run_jvm(jvm_command(train, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], [
        "--workload", ",".join(workloads), "--seed", "0", "--seconds", "3",
        "--trace", "0", "--work", train, "--cores", str(cores)]), train, log, 240)
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        with open(log) as f:
            sys.stderr.write("".join(l for l in f if "[cds]" not in l)[-4000:])
        fail("class-archive training run failed", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def jvm_command(work, extra, args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    flags = [*HEAP_FLAGS, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", *extra]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return ["java", *flags, "-cp", cp, "perfbench.Main", *args]


def run_jvm(cmd, cwd, log, timeout):
    """Run the benchmark JVM to completion; returns its exit code."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout"


def load_avg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(spec_path)):
        fail(f"{ROOT} is not a checkout of the engine (no build.sbt, src/main/scala/graft "
             "or BENCHMARK.json)", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}", 2)

    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(TARGET, exist_ok=True)
    build(work, [w["name"] for w in spec["workloads"]], cores)

    started = time.monotonic()
    load_start = load_avg()
    log = os.path.join(work, "jvm.log")
    rc = run_jvm(jvm_command(work, [f"-XX:SharedArchiveFile={ARCHIVE}"], [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cores", str(cores)]), work, log, DEADLINE_S - 20)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM ended with {rc}", 4)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    from checks import run_checks  # noqa: E402 (duckdb loads only when needed)
    n_checks, failures = run_checks(res["checks"])
    attempted = res["attempted"]
    failed = res["failed"] + len(failures)
    load_end = load_avg()

    if args.trace:
        values = res["layers"]
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        # a layer this workload does not enter reports 0
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        values = res["e2e"]
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in values]
        if missing:
            fail(f"workload did not report {missing}", 5)
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_sha": git_sha(), "nproc": nproc, "cores": cores,
        "load_avg_start": load_start, "load_avg_end": load_end,
        "ambient_inflated": load_start > AMBIENT_LOAD,
        "run_s": time.monotonic() - started, "checks": n_checks,
        "failed_checks": failures, "jvm": res["conditions"], "notes": res["notes"],
        "e2e": res["e2e"], "layers": res["layers"],
    }
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for fl in failures:
        print(f"check failed: {fl['output']}: {fl['error']}")
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "git_sha", "nproc", "cores", "load_avg_start",
        "load_avg_end", "ambient_inflated")}))
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
