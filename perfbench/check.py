"""Output checks for perfbench runs, in DuckDB.

Registry ops are compared with their `SparkEntry.oracleSql` statement run
over the same generated input, by `tools/check_oracle.py`'s rule: columns
sorted by name, rows sorted, exact value equality. Expected frames are
cached per (input digest, SQL digest) under `.perfbench_cache/`, since the
same seed always regenerates the same input.

The ETL run is compared with an independent DuckDB computation of the
staging semantics: normalize (scrub CR/LF/backslash, dedup on key, drop
null keys), pass A (`mapIds`) and pass B (auto-mapping to the primary key)
endpoint rewrites with the post-mapping endpoint dedup, and the loader's
match strategy (edges whose endpoints are not loaded nodes are dropped).
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _input_digest(in_dir, tables):
    h = hashlib.sha256()
    for t in tables:
        with open(f"{in_dir}/{t}.parquet", "rb") as f:
            h.update(t.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _same(got, exp):
    """Empty string when equal under check_oracle.py's rule, else why not."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} vs {ec}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g = got[gc].sort_values(gc, ignore_index=True)
    e = exp[ec].sort_values(ec, ignore_index=True)
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return "values differ: " + " / ".join(str(ex).splitlines()[:3])
    return ""


def check_registry(in_dir, out_dir, oracle, ops, cache_dir):
    """{op: error or ''} for every op."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    digest = _input_digest(in_dir, TABLES)
    os.makedirs(cache_dir, exist_ok=True)
    errors = {}
    for op in ops:
        sql = oracle.get(op)
        files = glob.glob(f"{out_dir}/{op}/*.parquet")
        if sql is None:
            errors[op] = "no oracle SQL"
            continue
        if not files:
            errors[op] = "no output written"
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = f"{cache_dir}/{digest}_{key}.pkl"
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            if os.path.exists(cached):
                exp = pd.read_pickle(cached)
            else:
                exp = con.sql(sql).df()
                exp.to_pickle(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
            errors[op] = _same(got, exp)
        except Exception as e:  # a broken oracle or output is a failed check
            errors[op] = f"{type(e).__name__}: {e}"
    con.close()
    return errors


SCRUB = r"regexp_replace({}, '[\r\n\\]', '', 'g')"


def _expected_etl(con, in_dir):
    """Create the expected relations from the raw ETL inputs: n_exp(label, id),
    e_exp(type, src, dst), deg_exp(label, id, out_deg, in_deg), the loaded
    Customer rows cust_exp and the catalog counts cat_exp(kind, name, n)."""
    src = lambda t: f"read_parquet('{in_dir}/{t}.parquet')"  # noqa: E731
    s = SCRUB.format
    # staged node keys: dedup on key, drop null keys; ids load as strings
    con.execute(f"""CREATE VIEW nodes_staged AS
        SELECT 'Customer' AS label, id::VARCHAR AS id FROM {src('etl_customer')} WHERE id IS NOT NULL
        UNION SELECT 'Part', id::VARCHAR FROM {src('etl_part')} WHERE id IS NOT NULL
        UNION SELECT 'Supplier', {s('id')} FROM {src('etl_supplier')} WHERE id IS NOT NULL
        UNION SELECT 'Order', id::VARCHAR FROM {src('etl_order')} WHERE id IS NOT NULL""")
    # pass B: Customer.c_name -> Customer.id (names scrubbed on both sides)
    con.execute(f"""CREATE VIEW cust_map AS SELECT DISTINCT {s('c_name')} AS old_value,
        id::VARCHAR AS new_value FROM {src('etl_customer')} WHERE id IS NOT NULL AND c_name IS NOT NULL""")
    con.execute(f"""CREATE VIEW supp_map AS SELECT suppkey AS old_value, {s('id')} AS new_value
        FROM {src('etl_supplier')}""")
    con.execute(f"""CREATE VIEW placed AS SELECT DISTINCT "start", {s('"end"')} AS "end"
        FROM {src('etl_placed_by')} WHERE "start" IS NOT NULL AND "end" IS NOT NULL""")
    con.execute(f"""CREATE VIEW contains AS SELECT DISTINCT "start", "end"
        FROM {src('etl_contains')} WHERE "start" IS NOT NULL AND "end" IS NOT NULL""")
    con.execute(f"""CREATE VIEW supplied AS SELECT DISTINCT "start", "end"
        FROM {src('etl_supplied_by')} WHERE "start" IS NOT NULL AND "end" IS NOT NULL""")
    con.execute("""CREATE VIEW edges_mapped AS
        SELECT DISTINCT 'PLACED_BY' AS type, 'Order' AS sl, 'Customer' AS el, p."start"::VARCHAR AS src,
               coalesce(m.new_value, p."end") AS dst
          FROM placed p LEFT JOIN cust_map m ON p."end" = m.old_value
        UNION ALL SELECT 'CONTAINS', 'Order', 'Part', "start"::VARCHAR, "end"::VARCHAR FROM contains
        UNION ALL SELECT DISTINCT 'SUPPLIED_BY', 'Part', 'Supplier', s."start"::VARCHAR,
               coalesce(m.new_value, s."end"::VARCHAR)
          FROM supplied s LEFT JOIN supp_map m ON s."end" = m.old_value""")
    con.execute("""CREATE VIEW n_exp AS SELECT label, id FROM nodes_staged""")
    con.execute("""CREATE VIEW e_full AS SELECT * FROM edges_mapped e
        WHERE e.src <> '' AND e.dst <> ''
          AND EXISTS (SELECT 1 FROM nodes_staged n WHERE n.label = e.sl AND n.id = e.src)
          AND EXISTS (SELECT 1 FROM nodes_staged n WHERE n.label = e.el AND n.id = e.dst)""")
    con.execute("""CREATE VIEW e_exp AS SELECT type, src, dst FROM e_full""")
    # duplicate customer rows are exact copies, so the surviving row's
    # properties are known: scrubbed strings, arrays joined with '|'
    con.execute(f"""CREATE VIEW cust_exp AS SELECT DISTINCT id::VARCHAR AS id, {s('c_name')} AS c_name,
        c_nationkey, c_acctbal, c_mktsegment, array_to_string(tags, '|') AS tags, {s('comment')} AS comment
        FROM {src('etl_customer')} WHERE id IS NOT NULL""")
    con.execute("""CREATE VIEW cat_exp AS
        SELECT 'node' AS kind, label AS name, count(*) AS n FROM nodes_staged GROUP BY label
        UNION ALL SELECT 'edge', type, count(*) FROM edges_mapped GROUP BY type""")
    con.execute("""CREATE VIEW deg_exp AS
        SELECT n.label, n.id, coalesce(o.d, 0) AS out_deg, coalesce(i.d, 0) AS in_deg
        FROM n_exp n
        LEFT JOIN (SELECT sl, src, count(*) AS d FROM e_full GROUP BY ALL) o
          ON o.sl = n.label AND o.src = n.id
        LEFT JOIN (SELECT el, dst, count(*) AS d FROM e_full GROUP BY ALL) i
          ON i.el = n.label AND i.dst = n.id""")


def _diff(con, got, exp):
    """Multiset difference size between two relations (0 when equal)."""
    return con.sql(f"""SELECT count(*) FROM ((SELECT * FROM {got} EXCEPT ALL SELECT * FROM {exp})
        UNION ALL (SELECT * FROM {exp} EXCEPT ALL SELECT * FROM {got}))""").fetchone()[0]


def check_etl(in_dir, out_dir):
    """{check: error or ''} for the ETL run's catalog, nodes, edges, degrees,
    Customer rows and GraphX counts."""
    con = duckdb.connect()
    errors = {}
    try:
        _expected_etl(con, in_dir)
        con.execute(f"CREATE VIEW n_got AS SELECT label, id FROM read_parquet('{out_dir}/nodes/*.parquet')")
        con.execute(f"CREATE VIEW e_got AS SELECT type, src, dst FROM read_parquet('{out_dir}/edges/*.parquet')")
        con.execute(f"""CREATE VIEW deg_got AS SELECT label, id, out_deg, in_deg
            FROM read_parquet('{out_dir}/degrees/*.parquet')""")
        con.execute(f"""CREATE VIEW cust_got AS SELECT id, c_name, c_nationkey, c_acctbal, c_mktsegment,
            tags, comment FROM read_parquet('{out_dir}/customer/*.parquet')""")
        cat = json.load(open(f"{out_dir}/catalog.json"))
        rows = [("node", label, sum(f["count"] for f in cfg["files"].values()))
                for label, cfg in cat["nodes"].items()]
        rows += [("edge", etype, sum(f["count"] for f in files.values()))
                 for etype, files in cat["edges"].items()]
        con.register("cat_got_df", pd.DataFrame(rows, columns=["kind", "name", "n"]))
        con.execute("CREATE VIEW cat_got AS SELECT kind, name, n::BIGINT AS n FROM cat_got_df")
        for name, got, exp in [("catalog", "cat_got", "cat_exp"), ("nodes", "n_got", "n_exp"),
                               ("edges", "e_got", "e_exp"), ("degrees", "deg_got", "deg_exp"),
                               ("customer_rows", "cust_got", "cust_exp")]:
            d = _diff(con, got, exp)
            errors[f"etl:{name}"] = f"{d} rows differ" if d else ""
        gx = json.load(open(f"{out_dir}/graphx.json"))
        nv = con.sql("SELECT count(*) FROM n_exp").fetchone()[0]
        ne = con.sql("SELECT count(*) FROM e_exp").fetchone()[0]
        errors["etl:graphx"] = ("" if (gx["vertices"], gx["edges"]) == (nv, ne)
                                else f"graph {gx['vertices']}v/{gx['edges']}e, expected {nv}v/{ne}e")
    except Exception as e:
        errors["etl:check"] = f"{type(e).__name__}: {e}"
    con.close()
    return errors
