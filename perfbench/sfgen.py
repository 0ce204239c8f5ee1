"""Seeded generator for the operator workload's sf directory: `documents`
and `orders` parquet files shaped like the repo's TPC-H-ish test tables
(same columns and types; word-salad document text), written by DuckDB.
Every value is a hash of (seed, row), so a seed always yields the same files.
"""
import os

import duckdb

VOCAB = ["a", "the", "data", "spark", "stream", "batch", "table", "query", "join",
         "group", "agg", "filter", "scan", "sort", "hash", "key", "value", "row",
         "column", "line", "part", "order", "customer", "window", "merge", "vector",
         "fast", "slow", "big", "small"]


def write(out_dir, seed, n_docs, n_orders, n_customers):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"SET temp_directory = '{out_dir}/duckdb-tmp'")
    vocab = "[" + ",".join("'%s'" % w for w in VOCAB) + "]"
    s = int(seed)
    con.execute(f"""
        COPY (
          WITH d AS (
            SELECT i AS doc_id, CAST(8 + hash(i, {s}, 'len') % 80 AS BIGINT) AS n_words FROM range({n_docs}) t(i)),
          t AS (
            SELECT doc_id, array_to_string(list_transform(range(n_words),
              k -> {vocab}[CAST(1 + hash(doc_id, k, {s}) % {len(VOCAB)} AS BIGINT)]), ' ') AS text
            FROM d)
          SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
            ['en', 'fr', 'de', 'zh'][CAST(1 + hash(doc_id, {s}, 'lang') % 4 AS BIGINT)] AS lang,
            'gen' AS source,
            CAST(length(text) AS BIGINT) AS n_chars
          FROM t ORDER BY doc_id
        ) TO '{out_dir}/documents.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (
          SELECT CAST(i AS BIGINT) AS o_orderkey,
            CAST(hash(i, {s}, 'cust') % {n_customers} AS BIGINT) AS o_custkey,
            ['O', 'F', 'P'][CAST(1 + hash(i, {s}, 'st') % 3 AS BIGINT)] AS o_orderstatus,
            round(1000 + (hash(i, {s}, 'price') % 50000000) / 100.0, 2) AS o_totalprice,
            TIMESTAMP '1992-01-01' + to_days(CAST(hash(i, {s}, 'date') % 3650 AS INTEGER)) AS o_orderdate,
            ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][CAST(1 + hash(i, {s}, 'pr') % 5 AS BIGINT)] AS o_orderpriority
          FROM range({n_orders}) t(i) ORDER BY i
        ) TO '{out_dir}/orders.parquet' (FORMAT parquet)""")
    con.close()
