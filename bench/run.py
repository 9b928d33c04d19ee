#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (bench/build.sbt, offline sbt) into bench/target and caches the
runtime classpath under .bench_build/; later runs reuse it while the
sources are unchanged. Each run then

1. generates the seed's inputs from the testdata source (bench/gen.py),
2. runs the JVM harness (graft.bench.Harness): session build, one
   untimed warm-up round, the oracle exports, the timed loop and, with
   --trace 1, the traced pass,
3. checks the exported outputs against DuckDB (bench/oracle.py) and every
   timed output digest against the verified one (bench/stats.py),
4. writes the full record (samples with their run index, spans and
   counters) to .bench_build/results/ and prints one JSON result line.

Workloads, metrics and their reasons are described in bench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("fraud_batch", "adhoc_queries")
# a fixed heap (-Xms = -Xmx), so heap resizing cannot differ between runs
JVM_HEAP = "4g"
RUN_LIMIT_S = 170
MIB = 1048576.0
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}")
    files = glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"),
                       recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile once per source state; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    cp = lines[-1].strip()
    if not all(os.path.exists(e) for e in cp.split(os.pathsep)):
        fail("build did not print a runtime classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_harness(cp, args, inputs, work, cores, deadline):
    result = os.path.join(work, "harness.json")
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CONF=";".join([
        "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "spark.local.dir=" + local]))
    cmd = (["java", *ADD_OPENS, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-cp", cp, "graft.bench.Harness", args.workload, inputs, work,
            str(args.seconds), str(args.trace), str(args.seed), str(cores),
            result])
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=log,
                           timeout=max(1.0, deadline - time.time()))
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"harness exited with {p.returncode} "
             f"(see {os.path.join(work, 'harness.log')})")
    with open(result) as f:
        return json.load(f)


def oracle_keys_for(h):
    exports = h["exports"]
    return lambda name: [name] if name in exports else exports


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.time() + RUN_LIMIT_S

    cp = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 30)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.time()
    gen.generate(args.seed, inputs)
    t1 = time.time()
    h = run_harness(cp, args, inputs, work, cores, deadline)
    t2 = time.time()
    checks = oracle.check(os.path.join(work, "verify_out"), inputs, gen.TABLES)
    h["phases"].update(gen_s=t1 - t0, jvm_s=t2 - t1, oracle_s=time.time() - t2)
    oracle_ok = {k: v is None for k, v in checks.items()}
    for k, v in checks.items():
        if v is not None:
            print(f"bench: oracle mismatch {k}: {v}", file=sys.stderr)
    keys = oracle_keys_for(h)
    plain = [x for x in h["samples"] if not x["traced"]]
    traced = [x for x in h["samples"] if x["traced"]]
    attempted, failed, good = stats.account(plain, h["verified"], oracle_ok, keys)
    t_att, t_failed, t_good = stats.account(traced, h["verified"], oracle_ok, keys)
    attempted += t_att
    failed += t_failed
    correct = failed == 0 and all(oracle_ok.get(k, False) for k in h["exports"])

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in h["per_layer"].items()}
        overhead = (statistics.median(t_good) - statistics.median(good)
                    if good and t_good else 0.0)
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    else:
        n = max(attempted, 1)
        metrics = {
            "setup_s": {"value": h["setup_s"], "unit": "s"},
            "op_mean_s": {"value": statistics.mean(good) if good else 0.0,
                          "unit": "s"},
            "shuffle_write_mb": {"value": h["shuffle_write_bytes"] / MIB / n,
                                 "unit": "MiB"},
            "heap_peak_mb": {"value": h["heap_peak_mb"], "unit": "MiB"},
        }

    record = dict(h, oracle=checks, attempted=attempted, failed=failed,
                  correct=correct, metrics=metrics)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
            "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    suffix = name.rsplit(".", 1)[-1]
    return {"wall_s": "s", "plan_s": "s", "gc_s": "s", "no_job_s": "s",
            "slot_idle_s": "s", "build_s": "s", "tasks": "count",
            "busy_frac": "ratio", "shuffle_write_mb": "MiB"}[suffix]


if __name__ == "__main__":
    main()
