#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. On first use, and whenever the
sources change, it builds the engine and the harness with sbt
(perfbench/build.sbt) and generates the gates_mix corpus with the
engine's graft.PerfFixture. It then runs the JVM side (perfbench.Main) on
inputs generated from the seed and, for gates_mix, compares every gate's
output with its DuckDB oracle using tools/check_oracle.py. The last line
on stdout is one JSON object: correct, attempted, failed and the
metrics that BENCHMARK.json lists (end_to_end with --trace 0, per_layer
with --trace 1). The exit code is non-zero when the build, the run or
any output check fails.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
# gates_mix reads this corpus; it does not depend on the workload seed,
# which only orders the gates, so it is made once per build.
CORPUS_DIR = os.path.join(BUILD_DIR, "corpus")
WORKLOADS = ["ingest_bulk_checked", "purge_retention", "gates_mix"]
CORES = min(4, os.cpu_count() or 1)
# Everything after the build must finish within this many seconds.
RUN_LIMIT_S = 170
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn512m", "-Dspark.ui.enabled=false"] + [
    a for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt and make the corpus, unless the last build
    matches the sources; returns the runtime classpath."""
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        raise SystemExit("perfbench: run from the root of a checkout that "
                         "holds the engine sources (build.sbt, src/main)")
    stamp = os.path.join(BUILD_DIR, "build.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            last = json.load(f)
        if last["fingerprint"] == fp:
            return last["classpath"]
    log("building engine and harness with sbt")
    os.makedirs(BUILD_DIR, exist_ok=True)
    # Dependencies resolve from the local caches only.
    env = dict(os.environ, COURSIER_MODE="offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd="perfbench", stdout=subprocess.PIPE, stderr=out, text=True,
            env=env, timeout=600)
        out.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: build failed, see {BUILD_DIR}/build.log")
    classpath = lines[-1]
    make_corpus(classpath)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def make_corpus(classpath):
    """Write the gates_mix corpus to CORPUS_DIR: graft.PerfFixture at
    multiplier 1 (sf 0.1: 600 000 lineitem rows), then each table's part
    files merged into one file of one row group, `<table>.parquet`, the
    layout tools/check_oracle.py reads."""
    import pyarrow.parquet as pq

    log("generating the gates_mix corpus with graft.PerfFixture")
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "corpus_tmp"))
    raw = os.path.join(tmp, "raw")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(CORPUS_DIR, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "java"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(os.path.join(BUILD_DIR, "corpus.log"), "w") as out:
        code = subprocess.run(
            ["java"] + JVM_OPTS +
            [f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
             f"-Dderby.system.home={tmp}", "-cp", classpath,
             "graft.PerfFixture", raw, "1"],
            cwd=tmp, stdout=out, stderr=subprocess.STDOUT, env=env,
            timeout=240).returncode
    if code != 0:
        raise SystemExit(f"perfbench: corpus generation failed, see "
                         f"{BUILD_DIR}/corpus.log")
    os.makedirs(CORPUS_DIR)
    for name in sorted(os.listdir(raw)):
        table = pq.read_table(os.path.join(raw, name),
                              coerce_int96_timestamp_unit="us")
        pq.write_table(table, os.path.join(CORPUS_DIR, name),
                       row_group_size=max(1, table.num_rows))
    shutil.rmtree(tmp)


def run_jvm(classpath, work, args, extra, deadline):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-cp", classpath,
            "perfbench.Main", "--workload", args.workload,
            # Any integer is a seed; the JVM side takes it as a long.
            "--seed", str(args.seed % (1 << 63)),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work] + extra)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: JVM run timed out")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: JVM run exited {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_failures(corpus_dir, gates_out, gates):
    """Gate name -> mismatch, from tools/check_oracle.py's comparison."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join("tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(corpus_dir, gates_out, set(gates))
    seen, failed = set(), {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(" ")[0].rstrip(":")
        if word in ("PASS", "FAIL"):
            seen.add(name)
        if word == "FAIL":
            failed[name] = rest
    for g in gates:
        if g not in seen:
            failed[g] = f"{g}: no oracle comparison"
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.abspath(os.path.join(BUILD_DIR, "run", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    corpus_dir = os.path.abspath(CORPUS_DIR)
    extra = ["--corpus", corpus_dir] if args.workload == "gates_mix" else []
    res = run_jvm(classpath, work, args, extra, deadline)

    failed_ops = res["failed"]
    problems = list(res["failures"])
    if args.workload == "gates_mix":
        bad = oracle_failures(corpus_dir, os.path.join(work, "gates_out"),
                              list(res["gate_runs"]))
        for gate, why in sorted(bad.items()):
            problems.append(f"{gate}: oracle mismatch: {why}")
            failed_ops += res["gate_runs"][gate]
        failed_ops = min(failed_ops, res["attempted"])
    for p in problems:
        log(f"FAILED {p}")

    values = dict(res["metrics"])
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        # A layer this workload never calls reads 0.
        for m in wanted:
            if values.get(m["name"]) is None:
                values[m["name"]] = 0.0
    else:
        values["success_ratio"] = 1.0 - failed_ops / res["attempted"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    correct = failed_ops == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed_ops, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
