#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/verify_local.py <sfDir> <verifyOutDir>

Reads verify_status.json first: an entry the Spark Verify main recorded as
failed reports its error class. For the others it reads each <name>.parquet
Verify wrote, runs the matching oracle SQL from oracle_sql.json in DuckDB
(views over the sfDir tables), and compares: columns sorted by name, rows
sorted, values canonicalized.
"""
import sys, json, glob, os
from decimal import Decimal
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        # Float-style rendering: the driver's hasher canonicalizes decimal
        # cells asymmetrically (fixed-scale "12.310000" vs float "12.31"),
        # which is why the catalog convention is NO DECIMAL columns in final
        # projections. Rendering decimals float-style here makes the local
        # gate predict the driver gate rather than silently passing.
        return repr(float(v))
    return str(v)

def rowset(rows, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    status_path = os.path.join(out_dir, "verify_status.json")
    status = json.load(open(status_path)) if os.path.exists(status_path) else {}
    results = {name: f"SPARK_FAIL: {st['error_class']}"
               for name, st in status.items() if st["status"] != "ok"}
    for name in sorted(oracle):
        if name in results:
            continue
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            results[name] = "MISSING_SPARK_OUTPUT"
            continue
        files = glob.glob(os.path.join(spark_dir, "*.parquet"))
        try:
            srel = con.execute(
                f"SELECT * FROM read_parquet({files!r})")
            snames = [d[0] for d in srel.description]
            srows = srel.fetchall()
        except Exception as e:
            results[name] = f"SPARK_READ_FAIL: {e}"
            continue
        try:
            drel = con.execute(oracle[name])
            dnames = [d[0] for d in drel.description]
            drows = drel.fetchall()
        except Exception as e:
            results[name] = f"ORACLE_FAIL: {str(e)[:200]}"
            continue
        if sorted(snames) != sorted(dnames):
            results[name] = f"SCHEMA_MISMATCH spark={sorted(snames)} duck={sorted(dnames)}"
            continue
        s, d = rowset(srows, snames), rowset(drows, dnames)
        if len(s) != len(d):
            results[name] = f"ROWCOUNT spark={len(s)} duck={len(d)}"
        elif s != d:
            diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
            results[name] = f"VALUE_MISMATCH n={sum(1 for a,b in zip(s,d) if a!=b)} first={diffs}"
        else:
            results[name] = f"OK rows={len(s)}"
    # rows-only queries (no oracle): report row counts
    for spark_dir in sorted(glob.glob(os.path.join(out_dir, "*"))):
        name = os.path.basename(spark_dir)
        if name in oracle or name in results or not os.path.isdir(spark_dir):
            continue
        files = glob.glob(os.path.join(spark_dir, "*.parquet"))
        try:
            n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
            results[name] = f"ROWS_ONLY rows={n}"
        except Exception as e:
            results[name] = f"ROWS_ONLY_FAIL: {e}"
    ok = sum(1 for v in results.values() if v.startswith(("OK", "ROWS_ONLY rows")))
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith(('OK','ROWS_ONLY rows')) else 'FAIL':4} {k}: {v}")
    print(f"\n{ok}/{len(results)} pass")
    return 0 if ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
