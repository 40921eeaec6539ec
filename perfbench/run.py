#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tiles|copy|spatial|queries \
        --seed N --seconds S --trace 0|1 [--tiny]

Run from the root of a checkout. Builds the program and the harness from
source with sbt on first use (perfbench/build.sbt), runs one JVM for the
workload, checks its outputs, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones in BENCHMARK.json, with
--trace 1 the per-layer ones. Everything the run writes goes under
.bench_build/ in the checkout; the traced run's spans land in
.bench_build/traces/<workload>.json. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
CDS = os.path.join(HERE, "target", "classes.jsa")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), HERE):
        for dirpath, dirs, files in os.walk(base):
            dirs[:] = [d for d in dirs if d not in ("target", "project", "data")]
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    yield os.path.join(dirpath, f)


def build():
    """Compile with sbt unless the classpath file is newer than every source."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) < stamp for f in sources()):
            return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    log("building with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit("[perfbench] build failed")
    if os.path.exists(CDS):
        os.remove(CDS)
    log(f"built in {time.time() - t0:.1f} s")


def cds():
    """JVM flags for a class-data-sharing archive: the first run after a
    build writes it at exit, later runs (of any workload) map it, which
    takes seconds off JVM and Spark start-up (loading and verifying
    classes) and nothing off the measured passes."""
    if os.path.exists(CDS):
        return [f"-XX:SharedArchiveFile={CDS}"]
    return [f"-XX:ArchiveClassesAtExit={CDS}"]


def run_jvm(args, tmp):
    cp = open(CLASSPATH).read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap: one that grows and shrinks around the
    # full GCs between passes made whole runs differ by 20%
    cmd += cds() + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--tmp", tmp, "--out", tmp, "--data", DATA, "--tiny", "1" if args.tiny else "0"]
    p = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit("[perfbench] workload timed out")
    if rc != 0:
        sys.exit(f"[perfbench] workload exited with {rc}")
    with open(os.path.join(tmp, "result.json")) as f:
        return json.load(f)


def frame_hash(df):
    """Order-independent hash of a result: columns sorted by name, rows
    sorted, values compared as strings (the repo's oracle-check rule)."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True).astype(str)
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return len(df), h.hexdigest()


def check_queries(tmp):
    """Mismatches between each written query result and its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(DATA, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(tmp, "oracle_sql.json")) as f:
        oracle = json.load(f)
    want = {q: frame_hash(con.sql(sql).df()) for q, sql in oracle.items()}
    failed = 0
    for out in sorted(glob.glob(os.path.join(tmp, "qout", "p*", "*"))):
        q = os.path.basename(out)
        got = frame_hash(con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')").df())
        if q not in want or got != want[q]:
            log(f"{q} ({os.path.basename(os.path.dirname(out))}) does not match the oracle")
            failed += 1
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["tiles", "copy", "spatial", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] program sources (src/main/scala) not found; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build()
    tmp = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        res = run_jvm(args, tmp)
        failed = res["failed"]
        if args.workload == "queries":
            failed += check_queries(tmp)
        metrics = res["metrics"]
        if args.trace:
            # a layer the workload never calls did zero work there
            for m in spec["per_layer"]:
                metrics.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(tmp, "trace.json"),
                        os.path.join(BUILD, "traces", f"{args.workload}.json"))
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {m["name"]: metrics[m["name"]] for m in wanted}
        print(json.dumps({"host": res["host"], "workload": args.workload}))
        print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
