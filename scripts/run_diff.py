"""Driver-style differential sweep: vanilla ANSI session (NOT the
engine's tuned session — replicates the external driver's config),
every queries() entry vs its oracle_sql() on the given sf dir.

Usage: python scripts/run_diff.py [/root/testdata/sf0.01] [prefix,...]

The optional second arg restricts the sweep to queries whose name
starts with one of the comma-separated prefixes (e.g. "dedup_,sim_"
for the near-dup/similarity families on a replicated skew corpus —
oracle-ing all 50 queries at 64× would take hours in DuckDB).

Each PASS line carries the sha256 of the query's normalized Spark rows
(`hash=`), so the PASS lines of two sweeps diff to nothing when the
two trees return the same results.
"""
import os
import sys
import time
import traceback

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _repo)
sys.path.insert(0, os.path.join(_repo, "tests"))
sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
from oracle_harness import compare_query

qs = E.queries()
oracles = E.oracle_sql()
if len(sys.argv) > 2:
    prefixes = tuple(p for p in sys.argv[2].split(",") if p)
    qs = {n: f for n, f in qs.items() if n.startswith(prefixes)}
    if not qs:
        print(f"no queries match prefixes {prefixes}")
        sys.exit(1)
passed = failed = 0
for name, fn in qs.items():
    t0 = time.time()
    try:
        res = compare_query(spark, fn, oracles.get(name), sf_dir, name)
        print(f"PASS {name}: rows={res['rows']} oracle={res['oracle']} hash={res['hash']} "
              f"{time.time()-t0:.1f}s", flush=True)
        passed += 1
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}", flush=True)
        traceback.print_exc(limit=3)
        failed += 1
print(f"{passed} passed, {failed} failed")
sys.exit(1 if failed else 0)
