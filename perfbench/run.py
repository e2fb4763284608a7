#!/usr/bin/env python3
"""Benchmark entry point: builds the harness, runs one workload, checks it.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The harness (perfbench/src, its own sbt
build) compiles the library from this checkout's sources, once per change
to them. One JVM then runs the workload in one Spark local[N] session and
writes its figures under perfbench/out/. For the query workloads this
script afterwards compares every timed query's result with its DuckDB
oracle through tools/compare.py. It prints a report, then one JSON line:
{"correct", "attempted", "failed", "metrics"}, metrics being every
end_to_end metric of BENCHMARK.json (--trace 0) or every per_layer metric
(--trace 1). `--full 1` times every query of the workload once instead of
the fixed pass, for the per-query artifact and the full oracle gate.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
WORKLOADS = ("sql_analytics", "corpus_curation", "ros_record")
# A run may take 180 s: the JVM and the oracle compare of a pass must
# end within that (a --full run has no limit).
JVM_TIMEOUT_S = 140
COMPARE_TIMEOUT_S = 30

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx3g",
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compiles library and harness when their sources changed; returns
    the runtime classpath."""
    build = os.path.join(HERE, ".build")
    stamp_file = os.path.join(build, "stamp")
    cp_file = os.path.join(build, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    print("perfbench: building", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env={**os.environ, **SBT_ENV}, capture_output=True, text=True,
        timeout=800)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    os.makedirs(build, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, a, out, cores):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(out, 'derby.log')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--full", str(a.full), "--sf", FIXTURES,
            "--out", out, "--cores", str(cores)]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S if not a.full else None)
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish in {JVM_TIMEOUT_S} s; see {log.name}")
    if r.returncode != 0:
        fail(f"the run failed (exit {r.returncode}); see {log.name}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_mismatches(out, checked, cores, full):
    """Queries whose result differs from the DuckDB oracle under the
    exact rules of tools/compare.py (or that it could not compare)."""
    check = os.path.join(out, "check")
    jsonl = os.path.join(out, "compare.jsonl")
    env = {**os.environ, "GRAFT_DUCKDB_SPILL": os.path.join(out, "duckdb"),
           "GRAFT_DUCKDB_MEMLIMIT": "2GB", "GRAFT_DUCKDB_THREADS": str(cores),
           "PYTHONDONTWRITEBYTECODE": "1"}
    with open(os.path.join(out, "compare.log"), "w") as log:
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        FIXTURES, check, "--only-present", "--jsonl", jsonl],
                       env=env, stdout=log, stderr=subprocess.STDOUT,
                       timeout=None if full else COMPARE_TIMEOUT_S)
    passed = set()
    if os.path.exists(jsonl):
        with open(jsonl) as f:
            passed = {r["query"] for r in map(json.loads, f) if r["hash_match"]}
    return {q for q in checked if q not in passed}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "tools/compare.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    if not os.path.isdir(FIXTURES):
        fail(f"fixtures missing at {FIXTURES}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = classpath()
    # N <= nproc, one core left to the driver, the JIT and the GC: with
    # every core running tasks, per-query times on 4 cores spread twice
    # as wide and the passes ran slower.
    cores = max(1, min(4, len(os.sched_getaffinity(0))) - 1)
    out = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}"
                       + ("-full" if a.full else ""))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(cp, a, out, cores)

    failures = dict(res.get("failures", {}))
    attempted = int(res["attempted"])
    if a.workload == "ros_record":
        failed = int(res["failed"])
        fail_ratio = {"record_fail_ratio": failed / attempted}
    else:
        for q in oracle_mismatches(out, res["checked"], cores, a.full):
            failures.setdefault(q, "result differs from the DuckDB oracle")
        # A query that fails fails every one of its invocations.
        failed = sum(r["invocations"] for r in res["queries"] if r["query"] in failures)
        fail_ratio = {"query_fail_ratio": failed / attempted}
        with open(os.path.join(out, "per_query.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "cores": cores,
                       "queries": res["queries"]}, f, indent=1)
    # Keep the reports; drop sink data, result parquet and Spark scratch.
    for d in os.listdir(out):
        if os.path.isdir(os.path.join(out, d)):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    if a.trace:
        wanted = spec["per_layer"]
        got = {**res["layers"], **{k: {"value": v, "unit": "ratio"}
                                   for k, v in fail_ratio.items()}}
    else:
        wanted = spec["end_to_end"]
        got = res["e2e"]
    metrics = {}
    for m in wanted:
        # A layer this workload does not run did no work: it reads 0.
        g = got.get(m["name"], {"value": 0.0, "n": 0})
        metrics[m["name"]] = {"value": g["value"], "unit": m["unit"]}
        print(f"{m['name']:32s} {g['value']:>16.6f} {m['unit']:8s} n={g.get('n', 1)}")
    correct = failed == 0
    print(f"correctness gate: {'passed' if correct else 'FAILED'}"
          f" ({failed} of {attempted} operations failed)")
    for q, why in sorted(failures.items()):
        print(f"  {q}: {why[:300]}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
