"""Drive the driver contract exactly as the verification driver would:
fresh process, its own plain SparkSession (NOT etl_spark.session),
entry() smoke at sf0.001, then every oracle-paired query at sf0.01
compared to DuckDB. Each FAIL prints up to 5 mismatching row pairs.

    python tools/drive_contract.py
    DRIVE_ONLY='sim_*,ml_kmeans_step' python tools/drive_contract.py
"""
import os
import sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as E
from etl_spark.operators.caching import evict
from tools.contract_compare import compare_result, oracle_connection

# Defaults mirror the round driver exactly (local[8], 8 shuffle
# partitions, default 1g heap). The env overrides exist for the
# BIGGER-than-driver receipts (sf1 = 10x bench scale): a 60M-row
# dataset with 8 shuffle partitions means ~GB-sized sort partitions
# against a 1g heap, which measures the JVM, not the plan. The sf1
# receipt uses DRIVE_DRIVER_MEM=4g DRIVE_SHUFFLE_PARTITIONS=64 —
# still 32x below the machine's RAM; the plans must spill, not OOM.
builder = (
    SparkSession.builder.master(f"local[{os.environ.get('DRIVE_CPUS', '8')}]")
    .config(
        "spark.sql.shuffle.partitions",
        os.environ.get("DRIVE_SHUFFLE_PARTITIONS", "8"),
    )
    .config("spark.ui.enabled", "false")
    .appName("driver-sim")
)
if os.environ.get("DRIVE_DRIVER_MEM"):
    builder = builder.config("spark.driver.memory", os.environ["DRIVE_DRIVER_MEM"])
spark = builder.getOrCreate()

# --- smoke: entry() ---
t0 = time.time()
df = E.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows in {time.time()-t0:.1f}s, schema={[f.name for f in df.schema.fields]}")
if rows:
    print("first row:", rows[0])
else:
    print("FAIL entry: returned 0 rows (smoke check expects > 0)")

# --- correctness at sf0.01, driver-style ---
SF = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")
con = oracle_connection()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    # Driver testdata ships one file per table; Spark-written copies
    # (e.g. make_sfbig output) are directories of part files.
    src = f"{SF}/{t}.parquet"
    if os.path.isdir(src):
        src = f"{src}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

qs = E.queries()
oracles = E.oracle_sql()
# DRIVE_ONLY=<glob>[,<glob>...] restricts the drive to query names
# matching ANY listed glob — iteration aid and the perturbed-corpus
# superlinear slice; full round receipts always run the whole registry.
# A glob that matches no registered query is a FAIL (a typo must not
# end in ALL GREEN).
fail = 0
only = os.environ.get("DRIVE_ONLY")
if only:
    import fnmatch
    globs = [g for g in only.split(",") if g]
    for g in globs:
        if not fnmatch.filter(qs, g):
            print(f"FAIL DRIVE_ONLY glob {g!r} matches no registered query")
            fail += 1
    qs = {
        n: q
        for n, q in qs.items()
        if any(fnmatch.fnmatch(n, g) for g in globs)
    }
    print(f"DRIVE_ONLY={only}: {len(qs)} queries")
for name in sorted(qs):
    t0 = time.time()
    try:
        spdf = qs[name](spark, SF).toPandas()
    except Exception as ex:
        print(f"FAIL {name}: spark raised {type(ex).__name__}: {str(ex)[:100]}")
        fail += 1
        continue
    if name not in oracles:
        print(f"rows-only {name}: {len(spdf)} rows  ({time.time()-t0:.1f}s)")
        continue
    ddf = con.execute(oracles[name]).df()
    r = compare_result(spdf, ddf, max_diffs=5)
    for x, y in r["diffs"]:
        print(f"  spark={x}\n  duck ={y}")
    status = "OK  " if r["ok"] else "FAIL"
    if not r["ok"]:
        fail += 1
    print(f"{status} {name}: spark={len(spdf)} duck={len(ddf)} cols_ok={r['cols_ok']} "
          f"dtype_ok={r['dtype_ok']} vals_ok={r['val_ok']}  ({time.time()-t0:.1f}s){r['dtype_detail']}")

evict()  # releases the registry's temp directories
print(f"\n{'ALL GREEN' if fail == 0 else f'{fail} FAILURES'}")
sys.exit(1 if fail else 0)
