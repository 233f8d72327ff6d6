"""graft workload benchmark.

    python3 perfbench/run.py --workload catalog_lookup --seed 1 --seconds 10 --trace 0

Builds graft and the harness (perfbench/build.py), generates the
workload's inputs from --seed, runs the harness JVM for --seconds of
closed-loop operations, checks every output outside graft and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). The run's record
(`result.json`, every op and span) and the JVM log stay under
`.bench_build/runs/`; its inputs and outputs are deleted.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("catalog_lookup", "stack_roundtrip")
DEADLINE_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    """local[k] with k <= nproc, at most 4."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def heap():
    """The tier-1 test heap: half of MemTotal in GiB, clamped to [2, 8]."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def run_jvm(classes, args, log, tmp, timeout):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", f"-Xmx{heap()}", "-Duser.timezone=UTC"] + build.jvm_local(tmp)
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "perfbench.Main"] + args)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness did not finish within {timeout:.0f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    t_start = time.time()
    name = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(build.build_dir(), "work", name)
    kept = os.path.join(build.build_dir(), "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        if a.workload == "catalog_lookup":
            import catalog
            import gen
            gen.write_tables(a.seed, data)
            oracle = catalog.Oracle(ROOT, data)
            catalog.make_requests(a.seed, data, oracle, gen.VOCAB,
                                  gen.embedding_matrix(data))
        t_jvm = time.time()
        t_left = DEADLINE_S - (t_jvm - t_start)
        code = run_jvm(classes, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", data, "--cpus", str(cpus())],
            os.path.join(work, "jvm.log"), os.path.join(work, "tmp"), t_left)
        if code != 0:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"harness exited with {code}")
        t_checks = time.time()
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        bad = set()
        if a.workload == "catalog_lookup":
            bad = set(catalog.check(oracle, work, res["info"]))
        out = metrics.summarize(a.workload, res, bad, traced=bool(a.trace))
        sys.stderr.write(f"perfbench: inputs {t_jvm - t_start:.1f} s, harness "
                         f"{t_checks - t_jvm:.1f} s, checks {time.time() - t_checks:.1f} s\n")
    finally:
        os.makedirs(kept, exist_ok=True)
        for f in ("result.json", "jvm.log"):
            if os.path.isfile(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), kept)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
