#!/usr/bin/env python3
"""graft's benchmark runner.

Builds graft (src/main) and the benchmark (perfbench/src) from source with
the Scala compiler that ships in Spark's jars, then runs one seeded
workload in one JVM and prints the benchmark's report. The last line of
stdout is the JSON result:

    python3 perfbench/run.py --workload code_read --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. Build outputs, scratch tables and
trace files go under $CARGO_TARGET_DIR (default .bench_build). Spark's
jars come from $SPARK_HOME/jars, or from the Spark install holding
spark-submit on PATH. Exits non-zero, without a result line, when the
build or the run fails; exits 1 after the result line when any op failed
or answered wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("code_write", "code_read", "numeric_mixed")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        die("Spark jars not found: set SPARK_HOME")
    return jars


def sources(d, exts):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_scala(files, out, classpath, jars):
    """Compiles `files` into `out` once; a finished build is marked .ok."""
    if os.path.exists(os.path.join(out, ".ok")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"compiling {len(files)} sources into {out} failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)


def build(build_dir, jars):
    main_src = os.path.join("src", "main", "scala")
    bench_src = os.path.join("perfbench", "src")
    main_files = sources(main_src, (".scala", ".java"))
    bench_files = sources(bench_src, (".scala",))
    if not main_files or not bench_files:
        die("graft's sources (src/main/scala) and the benchmark's (perfbench/src) must both be present; "
            "run from the root of the repository")
    resources = os.path.join("src", "main", "resources")
    main_hash = digest(main_files + sources(resources, ("",)))
    main_out = os.path.join(build_dir, f"graft-{main_hash}")
    compile_scala(main_files, main_out, [], jars)
    bench_out = os.path.join(build_dir, f"perfbench-{digest(bench_files, main_hash)}")
    compile_scala(bench_files, bench_out, [main_out], jars)
    return [bench_out, main_out, resources], main_hash


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size factor; the benchmark's own test runs at 0.1")
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classpath, src_hash = build(build_dir, jars)
    run_root = os.path.join(build_dir, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(build_dir, "traces")
    os.makedirs(traces, exist_ok=True)
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log_conf = os.path.abspath(os.path.join("perfbench", "log4j2.properties"))
    cmd = ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={log_conf}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.abspath(c) for c in classpath] + [os.path.join(jars, "*")]),
            "graft.perfbench.PerfBench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", run_root,
            "--scale", str(a.scale),
            "--out", os.path.join(traces, f"{a.workload}-{a.seed}.jsonl") if a.trace else ""]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(run_root, ignore_errors=True)
        die(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s and was stopped", 3)
    shutil.rmtree(run_root, ignore_errors=True)
    lines = proc.stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        sys.stderr.write(proc.stdout)
        die(f"the benchmark JVM exited {proc.returncode} without a result", proc.returncode or 2)
    for line in lines[:-1]:
        print(line)
    print("PERFBENCH_BUILD " + json.dumps({"commit": commit(), "sources": src_hash, "spark_jars": jars}))
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
