#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the library
(`src/main/scala`) and the benchmark (`perfbench/scala`) with the Scala
compiler shipped in the Spark distribution into `.bench_build/classes`;
later runs reuse the classes while the sources are unchanged. The run then
drives the workload in one JVM (`perfbench.Main`), checks its outputs and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value": v, "unit": u}}}

With `--trace 0` the metrics are the `end_to_end` ones of BENCHMARK.json,
with `--trace 1` the `per_layer` ones. Everything the run writes stays
under `.bench_build/`. See perfbench/README.md for the workloads and
metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BUILD = ".bench_build"
JVM_TIMEOUT_S = 170
# A fixed heap, touched in full at start (AlwaysPreTouch), so that peak RSS
# is the heap plus what the JVM holds outside it, and does not depend on
# how far the collector got through the heap: without it, query_mix's peak
# RSS ranged from 2.1 to 3.3 GB between runs with a 3 GB heap, and from
# 1.25 to 1.5 GB with 1 GB.
HEAP = "1g"
# Cores the benchmark JVM sees, which also sizes Spark's local[n] and the
# GC and JIT thread pools. Fewer than the machine's 4 vCPUs: with all 4
# busy, time stolen by other tenants of a shared host and the JVM's own
# GC and JIT threads made runs of the same code differ by up to 1.6x.
CORES = 2
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)) + sorted(
        glob.glob("perfbench/scala/**/*.scala", recursive=True))
    if not glob.glob("src/main/scala/graft/*.scala"):
        fail("no library sources under src/main/scala: run from the root of a graft checkout")
    return files


def build(jars):
    """Compiles library and benchmark together; returns the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-d", tmp, "-classpath", cp, "-nowarn", "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(classes, jars, args, work):
    """Runs perfbench.Main; returns (exit status, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-XX:ActiveProcessorCount={CORES}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j.configurationFile=perfbench/log4j2.properties",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", os.path.join(work, "result.json")]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    deadline = time.time() + JVM_TIMEOUT_S
    while True:
        # wait4, not wait: it returns the child's own peak RSS.
        pid, status, usage = os.wait4(p.pid, os.WNOHANG)
        if pid:
            return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0
        if time.time() > deadline:
            p.kill()
            os.wait4(p.pid, 0)
            fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
        time.sleep(0.1)


def norm(v):
    """Value normalization of the DuckDB compare: floats to 9 significant
    digits (accumulation order differs between engines), NaN and -0.0
    made canonical."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return format(0.0 if v == 0.0 else v, ".9g")
    return repr(v)


def oracle_compare(data):
    """Compares each query_mix result with its oracle SQL run by DuckDB.
    Returns (compared, failed)."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    for t in TABLES:
        if not os.path.isdir(os.path.join(data, f"{t}.parquet")):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    oracles = json.load(open(os.path.join(data, "oracle_sql.json")))
    failed = 0
    for name, sql in sorted(oracles.items()):
        try:
            want = con.execute(sql).fetch_arrow_table()
            got = pq.read_table(os.path.join(data, "results", name))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            print(f"ORACLE FAILED {name}: {e}", file=sys.stderr)
            failed += 1
            continue
        want = want.select(sorted(want.column_names))
        got = got.select(sorted(got.column_names))
        ok = want.column_names == got.column_names and want.num_rows == got.num_rows
        if ok:
            wl = sorted([norm(v) for v in d.values()] for d in want.to_pylist())
            gl = sorted([norm(v) for v in d.values()] for d in got.to_pylist())
            ok = wl == gl
        if not ok:
            print(f"ORACLE FAILED {name}: result differs from DuckDB", file=sys.stderr)
            failed += 1
    return len(oracles), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    if not os.path.exists("BENCHMARK.json"):
        fail("BENCHMARK.json not found: run from the root of a graft checkout")
    spec = json.load(open("BENCHMARK.json"))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    jars = spark_jars()
    classes = build(jars)

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, rss_mb = run_jvm(classes, jars, args, work)
        if code != 0:
            fail(f"workload exited with status {code}")
        res = json.load(open(os.path.join(work, "result.json")))
        if args.workload == "query_mix":
            compared, bad = oracle_compare(os.path.join(work, "data"))
            res["attempted"] += compared
            res["failed"] += bad
            res["correct"] = res["correct"] and bad == 0
        if args.trace:
            os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, "trace", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = dict(res["metrics"])
    if not args.trace:
        values["peak_rss_mb"] = rss_mb
    declared = spec["per_layer" if args.trace else "end_to_end"]
    names = [m["name"] for m in declared]
    if set(values) != set(names):
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(names))}")
    print(json.dumps(res["info"]), file=sys.stderr)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }))


if __name__ == "__main__":
    main()
