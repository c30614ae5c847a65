#!/usr/bin/env python3
"""Benchmark of the engine's deployed serving stack and its batch jobs.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the repository root. It compiles the engine and the benchmark
program (`perfbench/scala`) from source (cached under `.bench_build/`),
writes the seeded inputs and request plan, runs one JVM with a single
client in a closed loop for `--seconds`, checks every output, and prints
one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are end-to-end; with `--trace 1` they are per layer, taken from
spans around every engine call and from Spark listeners the benchmark
registers. The full record (environment stamp, requests, per-op timings,
layer splits) is written to `.bench_build/perfbench/results/`.
Batch job outputs are checked against `SparkEntry.oracleSql` in DuckDB by
the repository's `tools/check.py`. Exit status is non-zero when any
operation failed or an output check did not hold.
"""
import argparse
import contextlib
import datetime
import io
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("serve", "batch")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
# the JVM flags the sbt build passes to forked runs (Spark on JDK 17)
ADD_OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """JVM heap sized from MemTotal the way the tier-1 run sizes it:
    half of memory, clamped to 2..8 GiB.
    """
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def commit():
    """The checkout's git commit; None for a plain source tree, which the
    source digest names instead.
    """
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], check=True,
                              capture_output=True, text=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def selftest():
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    result = unittest.TextTestRunner(stream=open(os.devnull, "w")).run(suite)
    if not result.wasSuccessful():
        for _, tb in result.failures + result.errors:
            print(tb, file=sys.stderr)
        raise SystemExit("perfbench: accounting self-tests failed")


def oracle_failures(rec, data):
    """Op id -> reason for each checked batch job whose rows differ from its
    oracle SQL in DuckDB (compared as `tools/check.py` compares them).
    """
    oracle = rec["run"].get("oracle_sql") or {}
    if not oracle:
        return {}
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # noqa: E402  (the repository's oracle gate)
    out_dir = rec["run"]["check_dir"]
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    lines = io.StringIO()
    with contextlib.redirect_stdout(lines):
        check.main(data, out_dir)
    first = {o["job"]: o["id"] for o in rec["ops"] if o["kind"] == "job" and o["pass"] == 0}
    failed = {}
    report = lines.getvalue().splitlines()
    for i, line in enumerate(report):
        if line.startswith("FAIL "):
            name, reason = line[5:].split(":", 1)
            diff = [x.strip() for x in report[i + 1:i + 4] if x.startswith("  ")]
            failed[first[name.removesuffix(".parquet")]] = \
                " ".join(["oracle:", reason.strip()] + diff)
    passed = sum(line.startswith("PASS ") for line in report)
    if passed + len(failed) != len(oracle):
        raise SystemExit(f"perfbench: oracle check covered {passed + len(failed)} of "
                         f"{len(oracle)} jobs")
    return failed


def run_jvm(classpath, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the working tree
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap()}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    with open(os.path.join(run_dir, "jvm.log"), "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    selftest()
    env = {"utc_start": datetime.datetime.now(datetime.timezone.utc).isoformat(),
           "load_start": os.getloadavg(), "commit": commit(),
           "source_digest": build.source_digest(ROOT), "nproc": cpus(), "xmx": heap(),
           "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": a.trace, "clients": 1, "loop": "closed"}
    classpath = build.build(ROOT, BUILD_DIR)

    name = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    run_dir = os.path.join(BUILD_DIR, "runs", name)
    out_dir = os.path.join(BUILD_DIR, "results", name)
    for d in (run_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    data = os.path.join(run_dir, "data")
    tables = datagen.write_tables(a.seed, data)
    plan = datagen.make_plan(a.seed, tables)
    plan_path = os.path.join(out_dir, "requests.json")
    datagen.write_plan(plan, plan_path)

    record_path = os.path.join(out_dir, "record.json")
    run_jvm(classpath, ["--workload", a.workload, "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--data", data, "--plan", plan_path,
                        "--work", os.path.join(run_dir, "work"), "--out", record_path],
            run_dir)
    with open(record_path) as f:
        rec = json.load(f)
    env.update(rec["env"], load_end=os.getloadavg(),
               utc_end=datetime.datetime.now(datetime.timezone.utc).isoformat())

    batch = plan["ingest_batch"]
    ingested = plan["base_ids"] + [i for b in rec["run"]["committed_batches"]
                                   if b == batch["id"] for i in batch["ids"]]
    e2e, detail = metrics.end_to_end(rec, datagen.row_bytes(tables, ingested))
    failed = {o["id"]: o.get("error", "failed") for o in rec["ops"] if not o["ok"]}
    failed.update(oracle_failures(rec, data))
    kinds = {o["id"]: o["kind"] for o in rec["ops"]}
    errors = [f"op {i} ({kinds[i]}): {why}" for i, why in sorted(failed.items())]
    attempted = len(rec["ops"])
    if a.trace:
        printed, layer_detail = metrics.per_layer(rec, tables["embeddings"].num_rows,
                                                  len(plan["base_ids"]))
        detail.update(layer_detail)
        if layer_detail["split_overcount_ms"] > 1e-6:
            errors.append("layer split exceeds an op's wall time by "
                          f"{layer_detail['split_overcount_ms']} ms")
            attempted += 1
    else:
        printed = e2e
    if any(m["value"] is None for m in printed.values()):
        errors.append("metrics without a value: " +
                      ", ".join(k for k, m in printed.items() if m["value"] is None))
        attempted += 1
    detail["failed_ratio"] = len(errors) / attempted
    result = {"correct": not errors, "attempted": attempted, "failed": len(errors),
              "metrics": printed}
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump({"env": env, "result": result, "end_to_end": e2e, "detail": detail,
                   "errors": errors}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps(result))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
