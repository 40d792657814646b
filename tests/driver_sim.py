"""Simulate the driver's verify: plain SparkSession (driver-style, none of
the engine's session config), run entry() + every queries() entry at sf0.01,
compare oracle-paired ones against DuckDB on count/schema/values."""
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e

# deliberately a PLAIN session — the driver won't use our get_spark()
spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

SF = "/root/testdata/sf0.01"

df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={df.schema.simpleString()}", flush=True)
assert len(rows) >= 0

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    # BIT-level float compare (hex, not rounding): the driver's value hash
    # is bit-sensitive — DuckDB ROUND's -0.0 vs Spark's +0.0, or a 1-ULP
    # accumulation difference, hash-fails there even though round(v, 6)
    # would mask it here. tests/test_oracle_parity.py compares hex for the
    # same reason; this sim must not be weaker than the thing it simulates.
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v

queries = e.queries()
oracles = e.oracle_sql()
if len(sys.argv) > 1:  # targeted re-verify: driver_sim.py name [name ...]
    unknown = [n for n in sys.argv[1:] if n not in queries]
    assert not unknown, f"unknown query names: {unknown}"
    queries = {n: queries[n] for n in queries if n in set(sys.argv[1:])}
n_ok = n_rowsonly = 0
failures = []
for name in queries:  # sorted by name; every query is checked
    t0 = time.perf_counter()
    try:
        sdf = queries[name](spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name in oracles:
            import pyarrow as pa
            arrow_schema = con.execute(
                f"SELECT * FROM ({oracles[name]}) q LIMIT 0"
            ).fetch_arrow_table().schema
            decimal_cols = [
                f.name for f in arrow_schema if pa.types.is_decimal(f.type)
            ]
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ok_schema = sorted(scols) == sorted(dcols) and not decimal_cols
            ok_count = len(srows) == len(drows)
            o = sorted(range(len(scols)), key=lambda i: scols[i])
            od = sorted(range(len(dcols)), key=lambda i: dcols[i])
            sv = sorted(tuple(norm(r[i]) for i in o) for r in srows)
            dv = sorted(tuple(norm(r[i]) for i in od) for r in drows)
            ok_vals = sv == dv
            # Driver fidelity: the real driver canonicalizes via a pandas
            # lexsort, which raises on values Python tuple-sort handles
            # fine (nested lists — the round-5 embedding_quantize_int8
            # TypeError). Replicate it so such outputs fail HERE first.
            import pandas as pd
            pd.DataFrame(srows, columns=scols).sort_values(by=sorted(scols))
            pd.DataFrame(drows, columns=dcols).sort_values(by=sorted(dcols))
            if ok_schema and ok_count and ok_vals:
                n_ok += 1
                status = "MATCH"
            else:
                failures.append(name)
                status = f"MISMATCH schema={ok_schema} count={ok_count}({len(srows)}/{len(drows)}) vals={ok_vals}"
                if decimal_cols:
                    status += f" decimal_cols={decimal_cols}"
        else:
            n_rowsonly += 1
            status = f"rows-only ({len(srows)} rows)"
        print(f"  {name}: {status} [{time.perf_counter()-t0:.1f}s]", flush=True)
    except Exception as ex:
        failures.append(name)
        print(f"  {name}: ERROR {type(ex).__name__}: {str(ex)[:200]}", flush=True)

print(f"\n{n_ok} oracle-matched, {n_rowsonly} rows-only, {len(failures)} failures: {failures}")
sys.exit(1 if failures else 0)
