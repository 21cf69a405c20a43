"""Simulate the driver harness: plain SparkSession (driver's own configs,
NOT our session factory), entry() smoke, then per-query DuckDB oracle compare
at sf0.01 — row count + schema + order-insensitive value hash.

Usage: driver_sim.py [--json OUT.json] [KEY ...]
  --json writes the per-key results as a committed artifact
  (CORRECTNESS_LOCAL_rN.json) so full-surface evidence is durable,
  not a private run. With no KEY args, every registered query runs."""
import hashlib, json as _json, math, os, sys
import duckdb
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .appName("driver-sim")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())

# the checkout this script lives in, wherever it was copied to
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod
from samza_hello_samza_spark.session import released

# 1. smoke: entry()
df = entry_mod.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): rows={len(rows)} schema={df.schema.simpleString()}")
assert len(rows) >= 0

# SPARK_GRAFT_ORACLE_SF overrides the compare scale factor: the driver
# gate runs at sf0.01; a supplementary sf0.1 sweep catches float
# knife-edges and plan differences that only appear with more data.
import os as _os
SF = _os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{round(v,6):.6f}"
    if hasattr(v, "isoformat"): return v.isoformat()
    if isinstance(v, list): return "[" + ",".join(str(norm(x)) for x in v) + "]"
    return str(v)

qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
argv = sys.argv[1:]
json_out = None
if argv and argv[0] == "--json":
    json_out = argv[1]
    argv = argv[2:]
only = set(argv)
if only:
    qs = {k: v for k, v in qs.items() if k in only}
fails = 0
results = {}
for name, fn in sorted(qs.items()):
    # what the key materialised is freed before the next key runs
    with released():
        sdf = fn(spark, SF)
        cols = sorted(sdf.columns)
        srows = sorted("|".join(norm(r[c]) for c in cols) for r in sdf.collect())
    shash = hashlib.sha256("\n".join(srows).encode()).hexdigest()[:12]
    if name in os_:
        ddf = con.execute(os_[name]).df()
        dcols = sorted(ddf.columns.tolist())
        if dcols != cols:
            print(f"FAIL {name}: schema spark={cols} duck={dcols}"); fails += 1
            results[name] = {"status": "fail_schema", "rows": len(srows)}
            continue
        drows = sorted("|".join(norm(v) for v in row) for row in ddf[cols].itertuples(index=False, name=None))
        dhash = hashlib.sha256("\n".join(drows).encode()).hexdigest()[:12]
        status = "OK  " if (shash == dhash and len(srows) == len(drows)) else "FAIL"
        if status == "FAIL":
            fails += 1
            diff = [(a,b) for a,b in zip(srows,drows) if a!=b][:2]
            print(f"FAIL {name}: rows {len(srows)}/{len(drows)} hash {shash}/{dhash} first_diff={diff}")
            results[name] = {"status": "fail_values", "rows": len(srows),
                             "oracle_rows": len(drows)}
        else:
            print(f"{status} {name}: rows={len(srows)} hash={shash}")
            results[name] = {"status": "ok", "rows": len(srows), "hash": shash}
    else:
        print(f"ROWS {name}: rows={len(srows)} (no oracle)")
        results[name] = {"status": "rows_only", "rows": len(srows), "hash": shash}
verdict = "FAIL" if fails else "ALL-MATCH"
print("RESULT:", verdict, f"({len(qs)} queries)")
if json_out:
    n_ok = sum(1 for r in results.values() if r["status"] == "ok")
    n_rows = sum(1 for r in results.values() if r["status"] == "rows_only")
    with open(json_out, "w") as f:
        _json.dump({"result": verdict, "sf_dir": SF, "n_queries": len(qs),
                    "n_oracle_match": n_ok, "n_rows_only": n_rows,
                    "n_fail": fails, "queries": results}, f, indent=1, sort_keys=True)
sys.exit(1 if fails else 0)
