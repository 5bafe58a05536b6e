#!/usr/bin/env python3
"""Benchmark of the graft Spark program: two workloads, one closed-loop client.

    python3 perfbench/run.py --workload llm_ops --seed 1 --seconds 8 --trace 0

Run from the repository root. It compiles `src/main/scala` together with
`perfbench/src` (scalac from the Spark jars the build file names) into the
build directory, generates the inputs, runs the workload in a fresh JVM,
checks the outputs with DuckDB and prints one JSON line: `correct`,
`attempted`, `failed` and the end-to-end (`--trace 0`) or per-layer
(`--trace 1`) metrics. Everything it writes goes under
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`).
See perfbench/README.md.
"""
import argparse
import decimal
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the tree

# A pass has to fit the run length, so llm_ops runs a fixed slice of its
# query family that reaches every layer (README, "Workloads").
LLM_OPS = ["q11_minhash_lsh_pairs", "q277_index_build", "q278_index_serve"]
STAR_SCALE = 0.01
# a quarter of the 2M/10k/200k rows of the reference probe, so that a run
# fits the time budget; sales.csv (about 18 MB) is still read in 4 splits
ETL_SIZES = {"n_sales": 500_000, "n_products": 2_500, "n_customers": 50_000}
JVM_HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory `build.sbt` compiles against (`unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars at {jars}")
    return jars


def build(root, out):
    """Compile the program and the harness once per source state."""
    jars = spark_jars(root)
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(classes):
        for old in glob.glob(os.path.join(out, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", tmp, "-cp", cp] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
        os.rename(tmp, classes)
    return classes, jars


def fixtures(out):
    import gen
    d = os.path.join(out, f"inputs/star-{STAR_SCALE}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.star(d, STAR_SCALE)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def run_jvm(classes, jars, work, args, timeout_s):
    # C1 only: C2's profile-guided compiles made pass times differ by a
    # quarter from one JVM to the next. C1 alone gets a 48 MB code cache, in
    # which the sweeper began flushing compiled methods within a minute, and
    # recompiling them added up to two thirds to a round. The serial
    # collector with a fixed young generation and no -Xms lets the heap
    # follow the live data (README, "How a run goes").
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC", "-Xmn256m",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
              "-Dspark.ui.enabled=false",
              "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main"])
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    deadline = time.time() + timeout_s
    pid = 0
    try:
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                fail(f"workload JVM timed out after {timeout_s:.0f} s")
            time.sleep(0.05)
    finally:
        if not pid:  # not reaped yet: timed out or interrupted
            p.kill()
            p.wait()
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        kept = os.path.join(os.path.dirname(os.path.dirname(work)), "failed-jvm.log")
        shutil.copy(os.path.join(work, "jvm.log"), kept)
        fail(f"workload JVM exited with {code}; its log is in {kept}")
    return usage.ru_maxrss / 1024.0  # kB -> MB


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def check_queries(fix, info, ops):
    """Each query's rows against its DuckDB twin, as tools/verify_local.py does."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(fix, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    problems = []
    for q in ops:
        sql = info["oracle"].get(q, "")
        res = os.path.join(info["results"], q)
        if not sql or not glob.glob(os.path.join(res, "*.parquet")):
            problems.append(f"{q}: no result or no oracle")
            continue
        s = con.execute(f"SELECT * FROM '{res}/*.parquet'").fetch_arrow_table()
        o = con.execute(sql).fetch_arrow_table()
        cols = sorted(s.column_names)
        if cols != sorted(o.column_names) or s.num_rows != o.num_rows or s.num_rows == 0:
            problems.append(f"{q}: shape {s.num_rows}x{cols} vs oracle {o.num_rows}x{sorted(o.column_names)}")
            continue
        key = lambda t: tuple((x is None, str(x)) for x in t)
        srows = sorted((tuple(r[c] for c in cols) for r in s.to_pylist()), key=key)
        orows = sorted((tuple(r[c] for c in cols) for r in o.to_pylist()), key=key)
        bad = next(((a, b) for a, b in zip(srows, orows)
                    if not all(same_value(x, y) for x, y in zip(a, b))), None)
        if bad:
            problems.append(f"{q}: row {bad[0]!r} vs oracle {bad[1]!r}")
    return problems


def check_etl(out, tallies):
    """Published parquet against the generator's own tallies."""
    import duckdb
    con = duckdb.connect()
    problems = []
    left = [e for e in os.listdir(out) if e.endswith((".staging", ".old"))]
    if left:
        problems.append(f"left behind: {left}")
    for table, n in tallies["rows"].items():
        got = con.execute(f"SELECT count(*) FROM '{out}/{table}/*.parquet'").fetchone()[0]
        if got != n:
            problems.append(f"{table}: {got} rows, generated {n}")
    total = con.execute(f"SELECT sum(AMOUNT) FROM '{out}/fact_table/*.parquet'").fetchone()[0]
    if decimal.Decimal(total) != decimal.Decimal(tallies["amount_cents"]) / 100:
        problems.append(f"sum(AMOUNT) {total}, generated {tallies['amount_cents'] / 100}")
    codes = dict(con.execute(
        f"SELECT COUNTRY, count(*) FROM '{out}/customers/*.parquet' GROUP BY 1").fetchall())
    if codes != tallies["customers_per_code"]:
        problems.append(f"customers per code {codes}, generated {tallies['customers_per_code']}")
    return problems


def main():
    # a SIGTERM unwinds like an error: the JVM is killed and waited for,
    # and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["llm_ops", "etl_load"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the repository root: src/main/scala/graft/SparkEntry.scala not found")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    classes, jars = build(root, out)
    fix = fixtures(out)
    if os.path.exists(os.path.join(out, "failed-jvm.log")):
        os.remove(os.path.join(out, "failed-jvm.log"))

    work = os.path.join(out, f"runs/{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = {"workload": a.workload, "fixtures": fix, "work": work,
                "seconds": a.seconds, "trace": a.trace,
                "cores": len(os.sched_getaffinity(0)),
                "out": os.path.join(work, "result.json")}
        if a.trace:
            os.makedirs(os.path.join(out, "spans"), exist_ok=True)
            args["spans"] = os.path.join(out, f"spans/{a.workload}-{a.seed}.jsonl")
        if a.workload == "etl_load":
            import gen
            tallies = gen.etl(os.path.join(work, "etl"), a.seed, **ETL_SIZES)
            args.update(etl=os.path.join(work, "etl"),
                        source_rows=sum(tallies["rows"].values()),
                        fact_rows=tallies["rows"]["fact_table"])
        else:
            ops = list(LLM_OPS)
            random.Random(a.seed).shuffle(ops)
            # q278 serves the index q277 builds in the same round
            ops.remove("q277_index_build")
            ops.insert(ops.index("q278_index_serve"), "q277_index_build")
            args["ops"] = ",".join(ops)
        t_jvm = time.time()
        # set-up and the first pass come on top of the timed rounds
        peak_mb = run_jvm(classes, jars, work, args, 150 + 2 * a.seconds)
        t_check = time.time()
        res = json.load(open(args["out"]))
        if a.workload == "etl_load":
            problems = check_etl(res["check"]["out"], tallies)
        else:
            problems = check_queries(fix, res["check"], ops)
        print(f"perfbench: jvm {t_check - t_jvm:.1f} s, check {time.time() - t_check:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems + res["errors"]:
        print(f"perfbench: {p}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in sorted(res["per_layer"].items())}
    else:
        e2e = dict(res["end_to_end"], peak_rss_mb=peak_mb)
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in e2e.items()}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_ratio", "_per_input_byte")):
        return "ratio"
    if name.endswith("_rows"):
        return "rows"
    return "count"


if __name__ == "__main__":
    main()
