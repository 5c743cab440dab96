#!/usr/bin/env python3
"""End-to-end benchmark of graft's three user jobs; see perfbench/README.md.

    python3 perfbench/run.py --workload dumpfile_subset --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload
in one JVM (perfbench/scala/perfbench/Harness.scala), checks every
output against expectations computed in DuckDB (perfbench/checks.py)
and prints one JSON line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1.
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# main and warm-up input sizes: table scale (1.0 = TPC-H sf1 row
# counts) for the dump workloads, documents for corpus_chain.
# dumpfile_subset warms up at full size because its one-task file parse
# keeps speeding up over the first full-size passes. dump_full runs by
# hand only; BENCHMARK.json leaves it out for time (README, Sizes).
SIZES = {
    "dump_full": {"main": 0.0025, "warm": 0.0005},
    "dumpfile_subset": {"main": 0.0025, "warm": 0.0025},
    "corpus_chain": {"main": 4000, "warm": 500},
}

# what spark-submit would pass on JDK 17 (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HARNESS_TIMEOUT_S = 160


def encryption_key(seed):
    return hashlib.sha256(f"perfbench-{seed}".encode()).hexdigest()[:32]


def make_inputs(workload, seed, inputs):
    """Writes the warm and main inputs; returns the main input's facts."""
    facts = {}
    for size in ("warm", "main"):
        d = os.path.join(inputs, size)
        os.makedirs(d)
        n = SIZES[workload][size]
        if workload == "corpus_chain":
            gen.corpus(os.path.join(d, "docs.parquet"), n, seed)
            facts[size] = {"rows": n}
        else:
            counts = gen.tables(os.path.join(d, "tables"), n)
            facts[size] = {"rows": sum(counts.values())}
            if workload == "dumpfile_subset":
                facts[size]["file_bytes"] = gen.sql_dump(
                    os.path.join(d, "tables"), os.path.join(d, "dump.sql"), seed)
    return facts["main"]


def run_harness(classpath, workload, seconds, trace, work, key):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", workload, str(seconds), str(trace),
              work, key])
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness timed out")
    if code != 0:
        with open(os.path.join(work, "harness.log")) as log:
            sys.stderr.write(log.read()[-6000:])
        raise SystemExit(f"perfbench: harness failed (exit {code})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()

    classpath = build.build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.perf_counter()
        facts = make_inputs(a.workload, a.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0
        key = encryption_key(a.seed)
        result = run_harness(classpath, a.workload, a.seconds, a.trace, work, key)
        verdicts, measured = checks.run(a.workload, a.seed, work, key, result,
                                        docs=SIZES[a.workload]["main"])
        out = metrics.report(a.workload, a.trace, gen_s, facts, result, verdicts, measured,
                             work)
        if "digest" in measured:
            sys.stderr.write(f"perfbench: corpus output digest {measured['digest']} "
                             f"(docs {SIZES[a.workload]['main']}, seed {a.seed})\n")
        for problem in out.pop("problems"):
            sys.stderr.write(f"perfbench: FAILED {problem}\n")
        print(json.dumps(out))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
