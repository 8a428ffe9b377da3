"""Seeded input generation for the perfbench workloads.

Every input is derived from the small base tables in `perfbench/data`
(the sf0.01 layout the registry queries read) by hash sampling keyed on
the seed, so the same seed always gives byte-identical tables and a
different seed gives a different, equally valid input.

- `registry_inputs`: a 90% sample of every table, hashed on the table's
  key, written in the layout `SparkEntry.queries` and `SparkEntry.oracleSql`
  read (`<dir>/<table>.parquet`).
- `etl_inputs`: the graph-ETL source frames -- node tables for Customer,
  Part, Supplier and Order and edge tables for PLACED_BY, CONTAINS and
  SUPPLIED_BY -- built from a 50% order sample and its lineitems, with
  seeded duplicate keys, null keys, dangling endpoints, a string-array
  column and CR/LF/backslash characters injected.
"""
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data")

# table -> key expression the sample is hashed on
TABLE_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey::VARCHAR || '/' || l_linenumber::VARCHAR",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# share of the base orders (with their lineitems) the ETL input keeps, in percent
ETL_ORDER_PCT = 50

ETL_TABLES = ["etl_customer", "etl_part", "etl_supplier", "etl_order",
              "etl_placed_by", "etl_contains", "etl_supplied_by"]


def _bucket(seed, key, salt=""):
    """Seeded 0..99 bucket of a key expression."""
    return f"(hash('{salt}{seed}:' || ({key})::VARCHAR) % 100)"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, COMPRESSION snappy)")


def _base(table):
    return f"read_parquet('{BASE}/{table}.parquet')"


def registry_inputs(seed, out_dir):
    """Write the 90% sample of every base table; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    rows = {}
    for table, key in TABLE_KEYS.items():
        sql = f"SELECT * FROM {_base(table)} WHERE {_bucket(seed, key)} < 90"
        _copy(con, sql, f"{out_dir}/{table}.parquet")
        rows[table] = con.sql(f"SELECT count(*) FROM '{out_dir}/{table}.parquet'").fetchone()[0]
    con.close()
    return rows


def etl_inputs(seed, out_dir):
    """Write the graph-ETL source frames; returns {table: rows}.

    Endpoint specs the harness stages them under:
      PLACED_BY   Order:id -> Customer:c_name  (end rewritten by auto-mapping)
      CONTAINS    Order:id -> Part:id
      SUPPLIED_BY Part:id  -> Supplier:id      (end rewritten by mapIds suppkey -> s_name)
    Supplier nodes are keyed by `s_name`; the mapIds frame comes from
    `etl_supplier`'s (suppkey, id) columns. Duplicate rows repeat the key
    fields exactly, so the surviving row of a dedup never changes an id.
    """
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    b = lambda key, salt: _bucket(seed, key, salt)  # noqa: E731
    con.execute(f"""CREATE TEMP VIEW o AS SELECT * FROM {_base('orders')}
                    WHERE {b("o_orderkey", "ord")} < {ETL_ORDER_PCT}""")
    con.execute(f"""CREATE TEMP VIEW li AS SELECT l.* FROM {_base('lineitem')} l
                    SEMI JOIN o ON l.l_orderkey = o.o_orderkey""")
    # customers: string-array tags, CR/LF/backslash in the comment and in 2% of
    # names, 3% exact duplicate keys, 1% null keys
    con.execute(f"""CREATE TEMP VIEW c0 AS SELECT
        c_custkey AS id,
        CASE WHEN {b('c_custkey', 'nm')} < 2
             THEN replace(c_name, '#', E'#\\r\\n\\\\') ELSE c_name END AS c_name,
        c_nationkey, c_acctbal, c_mktsegment,
        [c_mktsegment, 'n' || c_nationkey::VARCHAR, 'seg' || ({b('c_custkey', 'tag')} % 7)::VARCHAR] AS tags,
        'line one' || chr(13) || chr(10) || 'line two \\ ' || c_custkey::VARCHAR AS comment
        FROM {_base('customer')}""")
    _copy(con, f"""SELECT * FROM c0
        UNION ALL SELECT * FROM c0 WHERE {b('id', 'dup')} < 3
        UNION ALL SELECT NULL AS id, * EXCLUDE (id) FROM c0 WHERE {b('id', 'nul')} < 1""",
          f"{out_dir}/etl_customer.parquet")
    _copy(con, f"""SELECT p_partkey AS id, p_name, p_brand, p_type, p_size, p_retailprice
        FROM {_base('part')}""", f"{out_dir}/etl_part.parquet")
    _copy(con, f"""SELECT s_name AS id, s_suppkey AS suppkey, s_nationkey, s_acctbal
        FROM {_base('supplier')}""", f"{out_dir}/etl_supplier.parquet")
    _copy(con, f"""SELECT o_orderkey AS id, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM o UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM o WHERE {b('o_orderkey', 'dup')} < 3""", f"{out_dir}/etl_order.parquet")
    # edges: 2% dangling ends, 1% null starts on top of the natural duplicates
    _copy(con, f"""SELECT o.o_orderkey AS "start",
        CASE WHEN {b('o_orderkey', 'dng')} < 2 THEN 'Customer#missing' || o.o_orderkey::VARCHAR
             ELSE c.c_name END AS "end"
        FROM o JOIN c0 c ON c.id = o.o_custkey
        UNION ALL SELECT NULL, c.c_name FROM o JOIN c0 c ON c.id = o.o_custkey
        WHERE {b('o_orderkey', 'nul')} < 1""", f"{out_dir}/etl_placed_by.parquet")
    _copy(con, f"""SELECT l_orderkey AS "start",
        CASE WHEN {b("l_orderkey::VARCHAR || '/' || l_linenumber::VARCHAR", 'dng')} < 2
             THEN l_partkey + 1000000000 ELSE l_partkey END AS "end",
        l_quantity AS quantity, l_linenumber AS line
        FROM li""", f"{out_dir}/etl_contains.parquet")
    _copy(con, f"""SELECT l_partkey AS "start",
        CASE WHEN {b("l_orderkey::VARCHAR || '/' || l_linenumber::VARCHAR", 'dng')} < 2
             THEN l_suppkey + 1000000000 ELSE l_suppkey END AS "end"
        FROM li UNION ALL
        SELECT l_partkey, NULL FROM li
        WHERE {b("l_orderkey::VARCHAR || '/' || l_linenumber::VARCHAR", 'nul')} < 1""",
          f"{out_dir}/etl_supplied_by.parquet")
    rows = {t: con.sql(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
            for t in ETL_TABLES}
    con.close()
    return rows


def input_bytes(in_dir):
    return sum(os.path.getsize(os.path.join(in_dir, f)) for f in os.listdir(in_dir))
