#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program (src/main/scala) and the
benchmark (perfbench/scala) with sbt into .bench_build/ when their
sources changed, generates the seeded input, runs the benchmark JVM on
local[nproc] in a closed loop, checks the output against a DuckDB
reference and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (and prints the layer
table). Everything it writes stays under .bench_build/.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
WORK = os.path.join(BUILD, "work")
BUILD_INPUTS = ["src/main/scala", "src/main/resources", "perfbench/scala",
                "perfbench/build.sbt", "perfbench/project/build.properties"]
JVM_TIMEOUT_S = 150

# Regular conversations per generated table (see gen.py for the row shape).
# uniform and hotkey hold the same number of turns; hotkey puts 1/3 of them
# in one conversation. gate_report has longer texts, 25% of them invalid.
WORKLOADS = {
    "uniform": dict(n_convs=4000),
    "hotkey": dict(n_convs=2667, hot_share=1 / 3),
    "gate_report": dict(n_convs=8000, gate_mix=True),
    "backfill": dict(n_convs=2000),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("Spark not found: set SPARK_HOME")
    return home


def sources_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        sys.exit("sbt not found on PATH")
    log("building the program and the benchmark with sbt ...")
    t0 = time.time()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")  # everything comes from local caches
    r = subprocess.run([sbt, "-batch", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        sys.exit(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def mem_total_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def heap_mb():
    """A sixth of MemTotal, within [1 GB, 4 GB]: the box is shared."""
    return max(1024, min(4096, mem_total_mb() // 6))


def run_jvm(args, cores, trace_out):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_mb()}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Bench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", WORK, "--cores", str(cores), "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    result = None
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                print(line, end="", flush=True)
            if time.time() > deadline:
                break
        proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or result is None:
        sys.exit(f"benchmark JVM failed (exit {proc.returncode})")
    return result


def java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr.splitlines() or ["?"])[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/Pipeline.scala")):
        sys.exit("program sources (src/main/scala) not found: "
                 "run from a checkout of the repository root")
    build()

    cores = os.cpu_count() or 1
    print(f"env: nproc={cores} MemTotal={mem_total_mb()} MB heap={heap_mb()} MB "
          f"jvm=\"{java_version()}\" master=local[{cores}]")
    shutil.rmtree(WORK, ignore_errors=True)  # scratch + shuffle dirs of earlier runs
    os.makedirs(WORK)
    try:
        spec = WORKLOADS[args.workload]
        t0 = time.time()
        gen.write(gen.turns(args.seed, **spec), os.path.join(WORK, "input"))
        gen_s = time.time() - t0
        if not args.trace:
            quarter = dict(spec, n_convs=spec["n_convs"] // 4)
            gen.write(gen.turns(args.seed, **quarter),
                      os.path.join(WORK, "input_quarter"))
        con = check.connect(cores, os.path.join(WORK, "duckdb_tmp"))
        shp = check.shape(con, os.path.join(WORK, "input"))
        print("input: " + " ".join(
            f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}"
            for k, v in shp.items()) + f" generated_in={gen_s:.3f}s")

        trace_out = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
        t_jvm = time.time()
        res = run_jvm(args, cores, trace_out)
        t_jvm = time.time() - t_jvm
        env = res["env"]
        print(f"env: spark={env['spark']} jvm={env['jvm']} "
              f"max_heap_mb={env['max_heap_mb']}")
        metrics = res["metrics"]
        if not args.trace:
            metrics["setup_s"]["value"] += gen_s
        else:
            print(f"trace spans: {os.path.relpath(trace_out, ROOT)}")

        t_check = time.time()
        try:
            ok, msg = check.check(con, args.workload, os.path.join(WORK, "input"),
                                  res["output"])
        except duckdb.Error as e:  # unreadable or malformed output
            ok, msg = False, str(e).splitlines()[0]
        con.close()
        t_check = time.time() - t_check
        print(f"check: {'ok' if ok else 'MISMATCH'}: {msg}")
        print(f"run time: benchmark JVM {t_jvm:.1f} s, output check {t_check:.1f} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    attempted = res["attempted"] + 1
    failed = res["failed"] + (0 if ok else 1)
    for name, m in sorted(metrics.items()):
        print(f"  {name:40s} {m['value']:>16.6f} {m['unit']}")
    print(f"  {'failed_frac':40s} {failed / attempted:>16.6f} ratio "
          f"({failed} of {attempted})")
    print(json.dumps({"correct": ok and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
