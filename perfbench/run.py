#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 10 --trace 0 --queries all
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --expect <verified-output-dir>

Run from the repository root. The harness (perfbench/src) and the engine
(src/main/scala) are compiled together by perfbench/build.sbt whenever a
source is newer than the last build. Records (one JSON object per line) go
to stdout and to perfbench/out/; the final line is the result object.
See perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "built.stamp")
OUT = os.path.join(BENCH, "out")
DATA = os.path.join(BENCH, "data", "sf0.01")
SCHEMA = os.path.join(BENCH, "data", "schema.json")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# A full pass over every query of a workload is a manual run, not a timed one.
JVM_TIMEOUT_ALL_S = 3600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile when any source is newer than the last successful build, then
    refuse to run classes older than their sources."""
    src = newest_source_mtime()
    if not os.path.exists(STAMP) or os.path.getmtime(STAMP) < src:
        print("perfbench: compiling (sbt compile)", file=sys.stderr)
        started = time.time()
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                           stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            die(3, "build failed")
        with open(STAMP, "w") as f:
            f.write(f"{started}\n")
        os.utime(STAMP, (started, started))
    if not os.path.isdir(CLASSES) or os.path.getmtime(STAMP) < newest_source_mtime():
        die(4, "compiled classes are older than the sources")


def table_schemas():
    import pyarrow.parquet as pq
    return {f[:-len(".parquet")]: pq.read_schema(os.path.join(DATA, f)).to_string(show_schema_metadata=False)
            for f in sorted(os.listdir(DATA)) if f.endswith(".parquet")}


def check_schemas():
    """The expected digests hold only for the tables they were made from:
    stop when a fixture table's parquet schema differs from schema.json."""
    with open(SCHEMA) as f:
        want = json.load(f)
    got = table_schemas()
    bad = sorted(t for t in set(want) | set(got) if want.get(t) != got.get(t))
    if bad:
        die(8, f"fixture tables {bad} differ from {os.path.relpath(SCHEMA, ROOT)}")


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(a, b):
    total, steal = b[0] - a[0], b[1] - a[1]
    return round(100.0 * steal / total, 2) if total > 0 else 0.0


def cpu_probe_ms():
    """Best of five timings of a fixed single-threaded loop: how fast the
    host runs plain CPU work right now, to tell host drift from a change
    in the program when two runs differ."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(300000))
        best = min(best, time.perf_counter() - t)
    return round(best * 1000, 3)


def host_sample():
    a = cpu_times()
    time.sleep(0.2)
    b = cpu_times()
    return {"steal_pct": steal_pct(a, b), "loadavg": [round(x, 2) for x in os.getloadavg()],
            "cpu_probe_ms": cpu_probe_ms()}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def jvm(args, log_path, timeout_s=JVM_TIMEOUT_S):
    cp = os.pathsep.join([CLASSES, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(5, f"timed out after {timeout_s}s (log: {log_path})")
    return proc.returncode, out


def check_result(line, spec, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        die(6, f"result keys {sorted(res)}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if want != got:
        die(6, f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
               f"extra {sorted(set(got) - set(want))}, units "
               f"{sorted(k for k in want if k in got and want[k] != got[k])}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", choices=["timed", "all"], default="timed")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--expect", metavar="VERIFIED_DIR")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die(2, f"no engine sources under {ROOT}/src; run from a full checkout")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        die(2, "SPARK_HOME must point at a Spark installation")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.makedirs(OUT, exist_ok=True)
    build()

    rel = os.path.relpath(BENCH, ROOT)
    if a.expect:
        with open(SCHEMA, "w") as f:
            json.dump(table_schemas(), f, indent=1, sort_keys=True)
    check_schemas()
    if a.selftest or a.expect:
        args = ["selftest", rel] if a.selftest else ["expect", rel, os.path.abspath(a.expect)]
        code, out = jvm(args, os.path.join(OUT, "selftest.log" if a.selftest else "expect.log"))
        sys.stdout.write(out)
        sys.exit(code)

    with open(os.path.join(BENCH, "workloads.json")) as f:
        names = sorted(set(w["name"] for w in spec["workloads"]) | set(json.load(f)))
    if a.workload not in names:
        die(2, f"--workload must be one of {names}")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    before = host_sample()
    run0 = cpu_times()
    code, out = jvm(["run", a.workload, str(a.seed), str(a.seconds), str(a.trace), rel,
                     os.path.join(OUT, tag + ".jsonl")] + (["all"] if a.queries == "all" else []),
                    os.path.join(OUT, tag + ".log"),
                    JVM_TIMEOUT_ALL_S if a.queries == "all" else JVM_TIMEOUT_S)
    run1 = cpu_times()
    after = host_sample()
    lines = [x for x in out.splitlines() if x.strip()]
    if code != 0 or not lines:
        die(7, f"run failed with code {code} (log: {os.path.join(OUT, tag + '.log')})")
    result = check_result(lines[-1], spec, a.trace == 1)
    for x in lines[:-1]:
        print(x)
    print(json.dumps({
        "record": "provenance", "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "git_commit": git_commit(), "nproc": nproc,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"], "heap": HEAP,
        "before": before, "after": after, "steal_pct_run": steal_pct(run0, run1)}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
