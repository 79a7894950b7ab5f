"""gate_sim variant: same DuckDB-oracle compare, DIFFERENT execution
geometry (local[4], shuffle.partitions=7) — proves every catalog
result is partitioning-insensitive (order-dependent float sums or
partition-id-dependent logic would hash-mismatch here).

Usage: python scripts/gate_alt_parallelism.py — gates the checkout
the script lives in; exits 1 when any query mismatches or errors."""
import json, os, sys, time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.chdir(ROOT)
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from shopify_db_spark.testing import compare_frames, duckdb_con

spark = (
    SparkSession.builder.appName("gate_alt")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "7")
    .config("spark.driver.memory", "16g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.01"
queries, oracles = entrymod.queries(), entrymod.oracle_sql()
bad = []
for name in sorted(queries):
    t0 = time.time()
    try:
        spdf = queries[name](spark, sf).toPandas()
        with duckdb_con(sf) as con:
            opdf = con.execute(oracles[name]).df()
        p = compare_frames(spdf, opdf)
    except Exception as e:
        p = [f"ERR {type(e).__name__}: {e}"]
    print(f"{name:32s} {'OK' if not p else p[:1]} {time.time()-t0:6.2f}s", flush=True)
    if p:
        bad.append(name)
print(json.dumps({"bad": bad, "n": len(queries)}))
sys.exit(1 if bad else 0)
