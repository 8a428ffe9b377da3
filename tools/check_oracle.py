#!/usr/bin/env python3
"""Local pre-check of SparkEntry.oracleSql vs Verify output, mimicking the
driver's DuckDB compare: register each test table as a view, run the oracle
SQL, and compare to the Spark-written parquet with columns sorted by name
and rows sorted. Exact value equality (no float tolerance) — if this
passes, any reasonable hash compare passes. Every registered query has an
oracle, so a Spark output directory without one is a FAIL too."""
import sys, json, glob
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """The compare rule: columns by name, rows sorted, exact values.
    Returns "" when equal, else why not."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} vs {ec}"
    g = got[gc].sort_values(gc, ignore_index=True)
    e = exp[ec].sort_values(ec, ignore_index=True)
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        return ""
    except AssertionError as ex:
        msg = str(ex).splitlines()
        return f"values differ{dtype_notes(g, e)}: {' / '.join(msg[:3])}"

def dtype_notes(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """Columns whose dtypes differ (the compare ignores dtypes)."""
    return "".join(f" [dtype {c}: {got[c].dtype} vs {exp[c].dtype}]"
                   for c in sorted(got.columns) if str(got[c].dtype) != str(exp[c].dtype))

def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = ok = 0
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); failures += 1; continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}"); failures += 1; continue
        why = compare(got, exp)
        if why:
            print(f"FAIL {name}: {why}"); failures += 1
        else:
            print(f"OK   {name}: {len(got)} rows{dtype_notes(got, exp)}")
            ok += 1
    for name in sorted({q.split('/')[-1] for q in glob.glob(f"{out_dir}/q_*")} - set(oracle)):
        print(f"FAIL {name}: spark output has no oracle"); failures += 1
    print(f"{ok} OK, {failures} FAIL")
    return failures

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
