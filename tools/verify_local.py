#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/verify_local.py [sfDir] [outDir]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already produced
<outDir>/<name>/ parquet dirs + <outDir>/oracle_sql.json.  Loads each
Spark result and its DuckDB-oracle result, sorts columns by name,
compares row counts, column names, and values (with float tolerance
reporting so we can see HOW far off a mismatch is).

Every twin gets a bounded run, so the script always reaches its tally:
DuckDB spills into <outDir>/.duckdb_tmp up to TEMP_LIMIT (a twin that
needs more fails with DuckDB's error instead of filling the disk), and a
twin still running after ORACLE_TIMEOUT_S seconds is interrupted. Either
way the twin counts as a failure and the exit code is 1.
"""
import json, sys, glob, math, threading
import duckdb

TEMP_LIMIT = "8GB"
ORACLE_TIMEOUT_S = 600

sys.stdout.reconfigure(line_buffering=True)
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
con.execute(f"SET temp_directory = '{out}/.duckdb_tmp'")
con.execute(f"SET max_temp_directory_size = '{TEMP_LIMIT}'")


def run_oracle(sql):
    """The twin's result, or None when it ran past ORACLE_TIMEOUT_S."""
    fired = threading.Event()

    def stop():
        fired.set()
        con.interrupt()

    timer = threading.Timer(ORACLE_TIMEOUT_S, stop)
    timer.start()
    try:
        return con.execute(sql).fetch_arrow_table()
    except duckdb.InterruptException:
        if fired.is_set():
            return None
        raise
    finally:
        timer.cancel()

for p in glob.glob(f"{sf}/*.parquet"):
    name = p.split("/")[-1].replace(".parquet", "")
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    spark_dir = f"{out}/{name}"
    try:
        sdf = con.execute(
            f"SELECT * FROM '{spark_dir}/*.parquet'").fetch_arrow_table()
    except Exception as e:
        print(f"FAIL {name}: spark result unreadable: {e}"); fails += 1; continue
    try:
        odf = run_oracle(sql)
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}"); fails += 1; continue
    if odf is None:
        print(f"FAIL {name}: oracle timed out after {ORACLE_TIMEOUT_S} s")
        fails += 1; continue

    scols, ocols = sorted(sdf.column_names), sorted(odf.column_names)
    if scols != ocols:
        print(f"FAIL {name}: columns spark={scols} oracle={ocols}"); fails += 1; continue

    # --- oracle-type gate -------------------------------------------------
    # The driver's hash is type-sensitive: a DuckDB output type with no
    # exact Spark-parquet twin (HUGEINT from an un-cast SUM(BIGINT) is the
    # classic) hash-mismatches even when every value is equal.  Fail fast on
    # any such type so the class can never ship again (round-4 verdict #2).
    BANNED = ("HUGEINT", "UHUGEINT", "INT128", "UTINYINT", "USMALLINT",
              "UINTEGER", "UBIGINT")
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    bad_types = [(c, t) for (c, t, *_) in desc
                 if any(b in t.upper() for b in BANNED)]
    if bad_types:
        print(f"FAIL {name}: oracle emits non-Spark-representable types "
              f"{bad_types} — CAST them (e.g. AS BIGINT) in the oracle SQL")
        fails += 1; continue
    # Arrow-level type agreement (sorted by column name, like the hash).
    # The driver hashes PYTHON values, so widths inside one family are
    # interchangeable (int32 == int64 as Python ints); what matters is a
    # FAMILY change (int vs float/decimal/string), which survives to the
    # hash even when every value is numerically equal.
    def family(t):
        s = str(t)
        if s.startswith(("int", "uint")): return "int"
        if s.startswith(("float", "halffloat", "double")): return "float"
        if s.startswith("decimal"): return s       # exact: scale matters
        if s.startswith(("string", "large_string")): return "string"
        if s.startswith("date"): return "date"
        if s.startswith("timestamp"): return "timestamp"
        return s
    stypes = {f.name: str(f.type) for f in sdf.schema}
    otypes = {f.name: str(f.type) for f in odf.schema}
    tdiff = [(c, stypes[c], otypes[c]) for c in scols
             if family(stypes[c]) != family(otypes[c])]
    if tdiff:
        print(f"FAIL {name}: column type families differ spark-vs-oracle: "
              f"{tdiff}")
        fails += 1; continue
    if sdf.num_rows != odf.num_rows:
        print(f"FAIL {name}: rows spark={sdf.num_rows} oracle={odf.num_rows}"); fails += 1; continue

    srows = [tuple(r[c] for c in scols) for r in sdf.to_pylist()]
    orows = [tuple(r[c] for c in ocols) for r in odf.to_pylist()]
    # driver sorts before hashing; emulate with a canonical sort
    key = lambda t: tuple((x is None, str(x)) for x in t)
    srows.sort(key=key); orows.sort(key=key)
    bad = None
    for i, (a, b) in enumerate(zip(srows, orows)):
        for x, y in zip(a, b):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if x != y and not (math.isnan(x) and math.isnan(y)):
                    bad = (i, x, y, abs(x - y)); break
            else:
                bad = (i, x, y, None); break
        if bad: break
    if bad:
        i, x, y, d = bad
        print(f"FAIL {name}: row {i} spark={x!r} oracle={y!r}" +
              (f" absdiff={d}" if d is not None else ""))
        fails += 1
    else:
        print(f"OK   {name}: {sdf.num_rows} rows")

print(f"\n{len(oracle) - fails}/{len(oracle)} oracle queries match")
sys.exit(1 if fails else 0)
