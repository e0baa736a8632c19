#!/usr/bin/env python3
"""Benchmark of record for the graft lakehouse engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 24 --trace 0

Builds the engine and the benchmark program from source (sbt, offline) into
.bench_build/, launches one benchmark JVM with a pinned heap, and prints the
JVM's result. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The lines before it give the
environment (cpus, heap, seed, sf, Spark version) and run detail; a traced
run also prints its tracing overhead against the untraced run of the same
workload and seed, when one exists in .bench_build/results/.

See perfbench/README.md for the workloads, metrics and checks.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("etl_daily", "curation_ingest")
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: engine sources and the benchmark package."""
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files = []
    for r in roots:
        if r.is_file():
            files.append(r)
        elif r.is_dir():
            files.extend(sorted(p for p in r.rglob("*") if p.is_file()))
    return files


def build():
    """Compiles with sbt when the sources changed since the last build;
    returns the runtime classpath."""
    engine = ROOT / "src" / "main" / "scala" / "graft"
    if not engine.is_dir():
        log(f"engine sources not found under {engine.relative_to(ROOT)}; run from a full checkout")
        sys.exit(2)
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        sys.exit(2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        log("no Spark installation found: set SPARK_HOME")
        sys.exit(2)
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + benchmark (sbt)")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not cp_file.exists():
        log(f"build failed (exit {rc}); see .bench_build/build.log")
        sys.exit(2)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file.read_text().strip()


def run_jvm(cp, args, work, tag):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the heap is pinned and pre-touched, so rss_peak_mb is the fixed heap
    # plus native memory and does not depend on how far GC let the heap grow
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    log_path = BUILD / "logs" / f"{tag}.log"
    log_path.parent.mkdir(exist_ok=True)
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path.relative_to(ROOT)}")
            sys.exit(1)
    if proc.returncode != 0:
        tail = log_path.read_text().splitlines()[-30:]
        log(f"benchmark JVM exited {proc.returncode}; log: {log_path.relative_to(ROOT)}")
        print("\n".join(tail), file=sys.stderr)
        sys.exit(1)
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="corrupt one expected answer (self-test of the checks)")
    a = ap.parse_args()

    cp = build()
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    results = BUILD / "results"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(results),
            "--corrupt", str(a.corrupt)]
    try:
        lines = run_jvm(cp, args, work, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = next(l["env"] for l in lines if "env" in l)
    detail = next(l for l in lines if "detail" in l)
    result = lines[-1]
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        log(f"metric set differs from BENCHMARK.json: got {sorted(got.items())}, want {sorted(want.items())}")
        sys.exit(1)

    print(json.dumps({"env": env}))
    print(json.dumps({"detail": detail["detail"]}))
    if a.trace:
        base = results / f"result-{a.workload}-seed{a.seed}-trace0.json"
        traced = detail["end_to_end"]
        base_lines = base.read_text().splitlines() if base.exists() else []
        same_env = bool(base_lines) and {k: v for k, v in json.loads(base_lines[0])["env"].items()
                                         if k != "trace"} == {k: v for k, v in env.items() if k != "trace"}
        if same_env:
            untraced = json.loads(base_lines[-1])["metrics"]
            over = {k: {"traced": traced[k]["value"], "untraced": untraced[k]["value"],
                        "overhead": traced[k]["value"] - untraced[k]["value"], "unit": traced[k]["unit"]}
                    for k in traced if k in untraced}
            print(json.dumps({"tracing_overhead": over}))
        else:
            print(json.dumps({"tracing_overhead": None,
                              "note": "no untraced result for this workload, seed and size; "
                                      "run --trace 0 first",
                              "traced_end_to_end": traced}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
