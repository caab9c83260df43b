"""Engine-free output checks: DuckDB oracles and planted ground truth.

Results are compared as digests of canonical rows, the shape
tools/check_oracle.py compares: columns sorted by name, rows sorted, every
cell stringified (None -> "NULL"). Floats are rounded to 9 significant
digits first, because Spark and DuckDB sum doubles in different orders.
"""
import decimal
import hashlib
import os

import duckdb
import numpy as np

TRIM = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else format(v, ".9g")
    if isinstance(v, decimal.Decimal):
        return str(v)
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(([columns[i] for i in order], canon)).encode())
    return h.hexdigest()[:16]


def query_digest(con, sql):
    rel = con.sql(sql)
    return digest(rel.columns, rel.fetchall())


def parquet_glob(table_dir):
    return os.path.join(table_dir, "**", "*.parquet")


def table_digest(con, table_dir):
    return query_digest(con, f"SELECT * FROM read_parquet('{parquet_glob(table_dir)}')")


def _std_date(c):
    t = f"trim({c}, {TRIM})"
    return (f"strftime(coalesce(try_strptime({t}, '%Y-%m-%d'), "
            f"try_strptime({t}, '%d/%m/%Y'), try_strptime({t}, '%b %d, %Y')),"
            " '%Y-%m-%d')")


# The star's silver tables, re-derived from the source without the engine:
# the J2 join aliasing, then T1 (distinct over all columns) and T2 (no
# null in any column), then T4 trim / T5 dates on the columns read below.
_MERGED = {
    "co": """SELECT DISTINCT c.cust_id, c.first_name, c.last_name, c.city,
                    c.signup_date, c.tier, o.order_id, o.order_date, o.status,
                    o.ship_fee
             FROM customers c JOIN orders o ON c.cust_id = o.cust_id""",
    "oi": """SELECT DISTINCT o.order_id, o.cust_id, o.order_date, o.status,
                    o.ship_fee, i.line_id, i.prod_id, i.qty, i.price
             FROM orders o JOIN order_items i ON o.order_id = i.order_id""",
    "ip": """SELECT DISTINCT i.prod_id, i.line_id, i.order_id, i.qty, i.price,
                    p.title, p.category, p.msrp
             FROM order_items i JOIN products p ON i.prod_id = p.prod_id""",
}

_EXPECTED = {
    "agg_customers_orders_merged": f"""
        SELECT trim(city, {TRIM}) AS city_customers,
               sum(ship_fee) AS ship_fee_orders_sum,
               count(ship_fee) AS ship_fee_orders_count,
               max(ship_fee) AS ship_fee_orders_max
        FROM co_clean GROUP BY 1""",
    "agg_orders_order_items_merged": f"""
        SELECT trim(status, {TRIM}) AS status_orders,
               sum(qty) AS qty_order_items_sum, min(qty) AS qty_order_items_min,
               sum(price) AS price_order_items_sum,
               min(price) AS price_order_items_min
        FROM oi_clean GROUP BY 1""",
    "agg_order_items_products_merged": f"""
        SELECT trim(category, {TRIM}) AS category_products,
               sum(qty) AS qty_order_items_sum,
               avg(qty) AS qty_order_items_mean,
               count(qty) AS qty_order_items_count
        FROM ip_clean GROUP BY 1""",
    "nl_answer": f"""
        SELECT trim(status, {TRIM}) AS status_orders,
               sum(ship_fee) AS total_ship_fee_orders
        FROM co_clean GROUP BY 1""",
    "gold_monthly": f"""
        SELECT substr({_std_date('order_date')}, 1, 7) AS month,
               trim(status, {TRIM}) AS status, count(*) AS n_orders,
               sum(ship_fee) AS fees
        FROM co_clean GROUP BY 1, 2""",
}


def star_connection(source_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("customers", "orders", "order_items", "products"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{source_dir}/{t}.parquet')")
    return con


def medallion_expected(source_dir):
    """Digest of every agg_* table and of the gold query, from the source."""
    con = star_connection(source_dir)
    for k, sql in _MERGED.items():
        con.execute(f"CREATE VIEW {k} AS {sql}")
        cols = [r[0] for r in con.execute(f"DESCRIBE {k}").fetchall()]
        nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        con.execute(f"CREATE TABLE {k}_clean AS SELECT * FROM {k} WHERE {nn}")
    return {name: query_digest(con, sql) for name, sql in _EXPECTED.items()}


def medallion_actual(out):
    """Digests of one medallion op's outputs: the agg_* and gold tables it
    wrote, and the collected answer to its question."""
    con = duckdb.connect()
    got = {"nl_answer": digest(out["answer_columns"], out["answer"])}
    for name in _EXPECTED:
        if name != "nl_answer":
            d = out["gold"] if name.startswith("gold") else out["silver"]
            got[name] = table_digest(con, os.path.join(d, f"{name}.parquet"))
    return got


def silver_connection(silver):
    """DuckDB views over the engine's silver layer, named as in Spark."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for d in sorted(os.listdir(silver)):
        if d.endswith(".parquet"):
            con.execute(f"CREATE VIEW {d[:-8]} AS SELECT * FROM "
                        f"read_parquet('{parquet_glob(os.path.join(silver, d))}')")
    return con


def raw_state(raw_dir, table, id_col):
    """(rows, max id, distinct ids) of one raw-layer table."""
    con = duckdb.connect()
    return con.execute(
        f"SELECT count(*), max({id_col}), count(DISTINCT {id_col}) FROM "
        f"read_parquet('{parquet_glob(os.path.join(raw_dir, table + '.parquet'))}')"
    ).fetchone()


def index_rows(index_dir):
    """Rows stored in an IVF-PQ index: its cell-partitioned index/ files."""
    con = duckdb.connect()
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{index_dir}/index/**/*.parquet')"
    ).fetchone()[0]


def recall_at_k(topk, corpus_ids, corpus_vecs, queries, k=10):
    """Mean share of each query's exact cosine top-k that was returned."""
    a = corpus_vecs / np.linalg.norm(corpus_vecs, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ a.T
    truth = np.argsort(-sims, axis=1)[:, :k]
    got = {}
    for qid, nid in topk:
        got.setdefault(int(qid), set()).add(int(nid))
    hits = [len(got.get(i, set()) & set(int(corpus_ids[j]) for j in truth[i]))
            for i in range(len(queries))]
    return sum(hits) / float(k * len(queries))
