#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backfill|trickle|entries \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program from
`src/main/scala` together with `perfbench/src` and generates the source
tables; both land in `.bench_build/` and are reused while their inputs
are unchanged. Each run then starts one JVM, which sets up, drives the
workload through the program's public entry points, checks its outputs
and writes a raw record that `reduce.py` turns into metrics. The last
line on stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`trickle` lands its files over `--seconds`; `backfill` and `entries` are
fixed work. With `--trace 0` the metrics are the end-to-end ones of
BENCHMARK.json; with `--trace 1` the run repeats its measured phase with
Spark listeners attached and prints the per-layer ones. See
perfbench/NOTES.md.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import reduce  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170
# The source tables' ship-day range (see tables.py).
SHIP_START = datetime.date(1995, 1, 2)
SHIP_DAYS = 2499

# Workload shapes. The seed picks only the date window and the entry order.
BACKFILL_DAYS = 270     # the backlog: one day-file per day, ~240 trips each
TRICKLE_FILES = 100     # enough files for a supported freshness p90
WARM_DAYS = 10          # drained once in set-up, before the window
CLIENTS = 2             # closed-loop consumer clients on `trickle`
# The lead entry of each of SparkEntry's twelve packs, plus one entry
# served from a session store (the k-means fit), so a fill is timed too.
ENTRIES = ["s1_table_scan", "p3_variant_get", "g1_secure_view_agg",
           "pipe_shred_roundtrip", "d1_exact_dedup", "n1_knn_cosine",
           "t1_token_stats", "m1_binary_meta", "e1_event_windowed_agg",
           "sp1_split_assign", "b1_bm25_stats", "x1_corpus_pipeline",
           "n13_kmeans_assign"]
TABLE_SFS = {"backfill": ["0.1"], "trickle": ["0.1"], "entries": ["0.001", "0.01"]}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against;
    either way it must hold the Scala compiler too."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars in '{jars}'; set SPARK_HOME")
    return jars


def build(jars):
    """Compile the program and the benchmark driver with scalac, once per
    source digest."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"program sources not found at {main}; run from a full checkout")
    srcs = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    srcs += glob.glob(os.path.join(HERE, "src", "*.scala"))
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    key = digest(srcs)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)  # also creates BUILD
    cp = os.path.join(jars, "*")
    args = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
            "-nowarn", "-d", classes, "-cp", cp, "@" + os.path.join(BUILD, "sources.txt")]
    with open(os.path.join(BUILD, "sources.txt"), "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def source_tables(sf):
    """Generate the tables at scale factor `sf`, once per tables.py digest."""
    out = os.path.join(BUILD, "tables", f"sf{sf}")
    stamp = out + ".stamp"
    key = digest([os.path.join(HERE, "tables.py")])
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        import tables
        shutil.rmtree(out, ignore_errors=True)
        tables.generate(out, float(sf))
        with open(stamp, "w") as f:
            f.write(key)


def workload_args(workload, seed, seconds):
    """Every seeded choice of a run, as JVM arguments."""
    rng = random.Random(f"{workload}/{seed}")
    if workload == "entries":
        order = list(ENTRIES)
        rng.shuffle(order)
        return ["--entries", ",".join(order)]
    if workload == "backfill":
        days, extra = BACKFILL_DAYS, []
    else:
        # open loop: TRICKLE_FILES day-files spread evenly over `seconds`
        days = TRICKLE_FILES + 1  # the first one primes the query
        interval = int(seconds * 1000 / TRICKLE_FILES)
        extra = ["--interval-ms", str(interval), "--clients", str(CLIENTS)]
    first = rng.randrange(0, SHIP_DAYS - WARM_DAYS - days)
    day = SHIP_START + datetime.timedelta(days=first)
    return ["--start-day", day.isoformat(), "--warm-days", str(WARM_DAYS),
            "--days", str(days)] + extra


JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(args, classes, jars, work, started):
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", *JAVA_OPENS,
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Main", *args]
    os.makedirs(os.path.join(work, "tmp"))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:  # timed out, or this process was interrupted
                p.kill()
                p.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM exited with {code}:\n{tail}")


def oracle_mismatches(records, data):
    """Row counts of the timed entries against DuckDB on the same tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, 'sf0.01', t)}.parquet'")
    got = {}
    for r in reduce.by_kind(records, "entry", "main"):
        got.setdefault(r["name"], r.get("rows"))
    bad = []
    for r in reduce.by_kind(records, "oracle"):
        want = con.execute(f"SELECT count(*) FROM ({r['sql']})").fetchone()[0]
        if got.get(r["name"]) != want:
            bad.append(f"{r['name']}: {got.get(r['name'])} rows, oracle {want}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(TABLE_SFS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # On SIGTERM, unwind through the `finally` blocks that stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes = build(jars)
    for sf in TABLE_SFS[a.workload]:
        source_tables(sf)
    data = os.path.join(BUILD, "tables")
    started = time.time()  # the first run's build has its own allowance

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record = os.path.join(work, "record.jsonl")
        cores = len(os.sched_getaffinity(0))
        args = ["--workload", a.workload, "--record", record, "--work", work,
                "--data", data, "--cores", str(cores), "--trace", str(a.trace),
                *workload_args(a.workload, a.seed, a.seconds)]
        run_jvm(args, classes, jars, work, started)
        with open(record) as f:
            records = [json.loads(line) for line in f]
        bad = oracle_mismatches(records, data) if a.workload == "entries" else []
        for b in bad:
            print(f"perfbench: oracle mismatch {b}", file=sys.stderr)
        for r in reduce.by_kind(records, "check"):
            if not r["ok"]:
                print(f"perfbench: check {r['name']} failed: {r['detail']}", file=sys.stderr)
        attempted, failed = reduce.failures(records, len(bad))
        if a.trace:
            metrics = reduce.per_layer(a.workload, records, attempted, failed)
        else:
            metrics = reduce.end_to_end(a.workload, records)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in declared}
        missing = [k for k in units if metrics.get(k) is None]
        if missing:
            fail(f"no value for {missing}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
