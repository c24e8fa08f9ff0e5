#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify first,
then this script compares each query parquet against the DuckDB oracle
(columns sorted by name, rows sorted by all columns, values compared with
exact equality for ints/strings/bools/timestamps and tight tolerance for
floats — mirroring a hash compare while giving usable diffs).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Exits 0 only when every oracle passes, so it can gate a command chain
(the query pins, see src/test/scala/graft/QueryPins.scala).
"""
import sys, json, glob, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    sf, out = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    sqls = json.load(open(f"{out}/oracle_sql.json"))
    # Verify now dual-keys each SQL as "qNN" and "qNN.parquet" (driver
    # handshake defensiveness); iterate the bare names only here.
    sqls = {k: v for k, v in sqls.items() if not k.endswith(".parquet")}
    results = {}
    for name in sorted(sqls):
        sql = sqls[name]
        files = glob.glob(f"{out}/{name}.parquet/*.parquet")
        if not files:
            results[name] = "MISSING_SPARK_OUTPUT"
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        got = duckdb.sql(
            f"SELECT * FROM read_parquet('{out}/{name}.parquet/*.parquet')").df()
        # sort columns by name
        exp = exp[sorted(exp.columns)]
        got_cols = sorted(got.columns)
        if sorted(exp.columns) != got_cols:
            results[name] = f"SCHEMA_COLS exp={sorted(exp.columns)} got={got_cols}"
            continue
        got = got[got_cols]
        if len(exp) != len(got):
            results[name] = f"ROWS exp={len(exp)} got={len(got)}"
            continue
        exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
        got = got.sort_values(by=list(got.columns), ignore_index=True)
        mismatch = None
        for c in exp.columns:
            e, g = exp[c], got[c]
            if str(e.dtype) != str(g.dtype):
                # dtype drift (e.g. int32 vs int64) — compare values anyway
                pass
            if e.dtype.kind == 'f' or g.dtype.kind == 'f':
                bad = [(i, a, b) for i, (a, b) in enumerate(zip(e, g))
                       if not (a == b or (isinstance(a, float) and isinstance(b, float)
                               and (math.isnan(a) and math.isnan(b)
                                    or abs(a - b) <= 1e-9)))]
            else:
                bad = [(i, a, b) for i, (a, b) in enumerate(zip(e, g)) if
                       str(a) != str(b)]
            if bad:
                mismatch = f"COL {c}: {bad[:3]} (+{len(bad)-3 if len(bad)>3 else 0})"
                break
        results[name] = mismatch or f"OK ({len(exp)} rows)"
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    for name, v in sorted(results.items()):
        print(("PASS " if v.startswith("OK") else "FAIL ") + name + ": " + v)
    print(f"== {n_ok}/{len(results)} PASS")
    return 0 if results and n_ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main())
