#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload elt_month|lake_queries \\
        --seed N --seconds S --trace 0|1

The first run builds the engine (``src/main/scala``) and the JVM side of
the benchmark (``perfbench/scala``) with the Scala compiler shipped in
Spark's jars (``$SPARK_HOME/jars``) into ``.bench_build/classes``; later
runs reuse that build while the sources are unchanged. Each run generates
its inputs from the seed under ``.bench_build/``, runs the workload in one
JVM, checks the outputs, deletes its inputs and outputs, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last stdout line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
A readable summary goes to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import spec  # noqa: E402
from stats import highest_percentile, median, percentile  # noqa: E402

ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
LAKE_SF = 0.01
TRIPS = 30_000
RUN_LIMIT_S = 170
# -XX:-UsePerfData: no hsperfdata file in the system temp directory
JVM_OPTS = ["-Xmx3g", "-Xss4m", "-XX:-UsePerfData"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("Spark jars with the Scala compiler not found; set SPARK_HOME")
    return jars


def build(jars):
    """Compile the engine and the benchmark's JVM side unless up to date."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BenchError(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    sources = engine + sorted(glob.glob(os.path.join(BENCH, "scala", "**", "*.scala"),
                                        recursive=True))
    h = hashlib.sha256("\n".join(sorted(os.listdir(jars))).encode())
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(h.hexdigest())
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"[perfbench] built {len(sources)} sources in {time.time() - t:.1f}s", file=sys.stderr)
    return classes


def oracle_mismatches(lake, result):
    """Queries whose output row count differs from the DuckDB oracle's."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")
    bad = []
    for name, sql in sorted(result["oracle"].items()):
        want = con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
        if want != result["rows"][name]:
            print(f"[perfbench] {name}: {result['rows'][name]} rows, oracle {want}",
                  file=sys.stderr)
            bad.append(name)
    return bad


def end_to_end(result, gen_s):
    walls = [p["wall_s"] for p in result["passes"]]
    lat_ms = [o["wall_s"] * 1000 for p in result["passes"] for o in p["ops"] if o["query"]]
    print(f"[perfbench] inputs {gen_s:.2f}s, boot {result['boot_s']:.2f}s, set-up step "
          f"{' '.join(f'{x:.2f}' for x in result['prepare_s'])}s; pass walls "
          f"{' '.join(f'{w:.2f}' for w in walls)}s; {len(lat_ms)} query samples, highest "
          f"percentile with >=10 beyond: {highest_percentile(len(lat_ms))}", file=sys.stderr)
    # everything before the first pass, the repeated set-up step counted once
    prep = result["prepare_s"]
    return {"setup_s": gen_s + result["ready_s"] - sum(prep) + median(prep),
            "pass_s": median(walls),
            "query_p50_ms": percentile(lat_ms, 50),
            "query_p90_ms": percentile(lat_ms, 90)}


def per_layer(traced, untraced, workload):
    values = {name: median([p["layers"].get(name, 0.0) for p in traced["passes"]])
              for name, *_ in spec.PER_LAYER}
    traced_s = median([p["wall_s"] for p in traced["passes"]])
    untraced_s = median([p["wall_s"] for p in untraced["passes"]])
    values["trace.overhead_ratio"] = traced_s / untraced_s
    if workload == "elt_month":
        values["etl.trips_per_s"] = TRIPS / untraced_s
    return values


def run_jvm(args, classes, jars, work, lake, month, trace, deadline):
    """One JVM run of the workload; returns its raw result."""
    out = os.path.join(work, f"result-{trace}.json")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
        "--workload", args.workload, "--seconds", str(args.seconds), "--trace", str(trace),
        "--lake", lake, "--month", month, "--trips", str(TRIPS),
        "--work", work, "--out", out]
    log_path = os.path.join(work, f"jvm-{trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("JVM run exceeded the time limit")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            raise BenchError(f"JVM run failed ({proc.returncode}):\n{f.read()[-4000:]}")
    with open(out) as f:
        return json.load(f)


def check(result, lake):
    """(attempted, failed) operations; an oracle mismatch fails every
    execution of that query."""
    executions = {}
    for p in result["passes"]:
        for o in p["ops"]:
            executions[o["name"]] = executions.get(o["name"], 0) + 1
    failed = sum(1 for p in result["passes"] for o in p["ops"] if not o["ok"])
    if result["oracle"]:
        failed += sum(executions[n] for n in oracle_mismatches(lake, result))
    return sum(executions.values()), failed


def run(args):
    jars = spark_jars()
    classes = build(jars)
    # the first run in a checkout may take longer: it builds
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        lake, month = os.path.join(work, "lake"), os.path.join(work, "month")
        t = time.time()
        if args.workload == "elt_month":
            inputs.write_month(month, TRIPS, args.seed)
        else:
            inputs.write_lake(lake, LAKE_SF, args.seed)
        gen_s = time.time() - t
        # the traced run is a second JVM on the same inputs, so the tracing
        # overhead compares two runs that differ only in the hooks
        t = time.time()
        results = [run_jvm(args, classes, jars, work, lake, month, trace, deadline)
                   for trace in range(args.trace + 1)]
        jvm_s, t = time.time() - t, time.time()
        attempted = failed = 0
        for r in results:
            a, f = check(r, lake)
            attempted, failed = attempted + a, failed + f
        print(f"[perfbench] JVM runs {jvm_s:.2f}s, output checks {time.time() - t:.2f}s",
              file=sys.stderr)
        if args.trace:
            values = per_layer(results[1], results[0], args.workload)
            values["failed_ratio"] = failed / attempted
            table = spec.PER_LAYER
        else:
            values = end_to_end(results[0], gen_s)
            table = spec.END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {name: {"value": values[name], "unit": unit} for name, unit, *_ in table}
    for name, m in metrics.items():
        print(f"[perfbench] {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"[perfbench] failed_ratio = {failed}/{attempted}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=[w for w, _ in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
