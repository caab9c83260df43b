"""Harness side of each workload: input staging, the per-op command the JVM
runs, the engine-free check of every op, and the source rows/bytes each op
consumes (for rows_per_s and write_amp)."""
import os

import numpy as np

import check
import gen


def tree_bytes(d, since_ns=None, skip=()):
    """Bytes of every file under `d` (modified at or after `since_ns`)."""
    total = 0
    for root, dirs, names in os.walk(d):
        dirs[:] = [x for x in dirs if x not in skip]
        for n in names:
            st = os.stat(os.path.join(root, n))
            if since_ns is None or st.st_mtime_ns >= since_ns:
                total += st.st_size
    return total


class Driver:
    # directories under the run dir that are not layers (the JDBC source)
    skip = ()

    def __init__(self, seed, input_dir):
        self.input = input_dir
        self.rng = np.random.default_rng(seed + 1)
        self.props = {}

    def oracle(self):
        """Untimed oracle work after generation (not part of setup_s)."""

    def after_setup(self, run_dir):
        """Called once the JVM has set up the run directory `run_dir`."""

    def command(self, op):
        return {"cmd": "next"}

    def check(self, op, out):
        """Return None when op `op`'s outputs are right, else the reason."""
        raise NotImplementedError

    def consumed(self, op):
        """(source rows, source bytes) op `op` read."""
        raise NotImplementedError

    def source_bytes(self):
        """Bytes of all source input the run has consumed so far."""
        raise NotImplementedError


class MedallionFull(Driver):
    def __init__(self, seed, input_dir):
        super().__init__(seed, input_dir)
        src = os.path.join(input_dir, "source")
        gen.star(seed, "medallion_full", input_dir)
        self.props = gen.measure_star(src)

    def oracle(self):
        self.expected = check.medallion_expected(os.path.join(self.input, "source"))
        self.props["expected_digests"] = self.expected

    def check(self, op, out):
        got = check.medallion_actual(out)
        bad = [k for k in self.expected if got[k] != self.expected[k]]
        return f"digest mismatch: {bad}" if bad else None

    def consumed(self, op):
        return self.props["rows"], self.props["bytes"]

    def source_bytes(self):
        return self.props["bytes"]


class IncrementalJdbc(Driver):
    skip = ("db",)
    ids = {"customers": "cust_id", "orders": "order_id",
           "order_items": "line_id", "products": "prod_id"}

    def __init__(self, seed, input_dir):
        super().__init__(seed, input_dir)
        self.gen = gen.Incremental(seed, input_dir)
        src = os.path.join(input_dir, "source")
        self.base_bytes = tree_bytes(src)
        self.delta_bytes = {}
        self.props = {"base_rows": sum(self.gen.rows.values()),
                      "base_bytes": self.base_bytes,
                      "delta_rows_per_table": self.gen.delta}

    def command(self, op):
        self.gen.next_delta(op)
        self.delta_bytes[op] = tree_bytes(os.path.join(self.input, "delta", str(op)))
        return {"cmd": "next"}

    def check(self, op, out):
        for t, idc in self.ids.items():
            n, mx, distinct = check.raw_state(out["raw"], t, idc)
            want = (self.gen.rows[t], self.gen.max_id[t], self.gen.rows[t])
            if (n, mx, distinct) != want:
                return f"{t}: raw (rows, watermark, distinct ids) {(n, mx, distinct)} != {want}"
        return None

    def consumed(self, op):
        return self.gen.delta * len(self.ids), self.delta_bytes[op]

    def source_bytes(self):
        return self.base_bytes + sum(self.delta_bytes.values())


TRANSFORMED = {k: f"transformed_{k}_merged" for k in
               ("customers_orders", "orders_order_items", "order_items_products")}
CO, OI, IP = (TRANSFORMED[k] for k in
              ("customers_orders", "orders_order_items", "order_items_products"))
AGG_CO = "agg_customers_orders_merged"


def _shapes(r, n_orders):
    """The eight SQL shapes: (name, sql, tables read), parameters drawn
    from `r`. Each shape is valid Spark SQL and DuckDB SQL alike."""
    status = gen.STATUSES[r.integers(len(gen.STATUSES))]
    tier = gen.TIERS[r.integers(len(gen.TIERS))]
    year = 2019 + int(r.integers(5))
    return [
        ("star_join", f"""SELECT p.category_products AS category,
            c.city_customers AS city, sum(p.qty_order_items) AS qty
            FROM {IP} p JOIN {OI} o ON p.line_id_order_items = o.line_id_order_items
            JOIN {CO} c ON o.order_id = c.order_id_orders
            WHERE c.status_orders = '{status}'
            GROUP BY p.category_products, c.city_customers""", [IP, OI, CO]),
        ("rollup", f"""SELECT status_orders AS status,
            substr(order_date_orders, 1, 4) AS yr,
            sum(ship_fee_orders) AS fees, count(*) AS n
            FROM {CO} WHERE tier_customers = '{tier}'
            GROUP BY ROLLUP (status_orders, substr(order_date_orders, 1, 4))""", [CO]),
        ("window_topn", f"""SELECT category, prod_id, qty, rk FROM (
            SELECT category_products AS category, prod_id,
            sum(qty_order_items) AS qty,
            row_number() OVER (PARTITION BY category_products
                               ORDER BY sum(qty_order_items) DESC, prod_id) AS rk
            FROM {IP} GROUP BY category_products, prod_id) t
            WHERE rk <= {int(r.integers(3, 11))}""", [IP]),
        ("anti_join", f"""SELECT c.city_customers AS city, count(*) AS n
            FROM {CO} c WHERE c.tier_customers = '{tier}' AND NOT EXISTS (
              SELECT 1 FROM {OI} o WHERE o.order_id = c.order_id_orders)
            GROUP BY c.city_customers""", [CO, OI]),
        ("monthly", f"""SELECT substr(order_date_orders, 1, 7) AS month,
            count(DISTINCT cust_id) AS customers, sum(ship_fee_orders) AS fees
            FROM {CO} WHERE substr(order_date_orders, 1, 4) = '{year}'
            GROUP BY substr(order_date_orders, 1, 7)""", [CO]),
        ("distinct_counts", f"""SELECT status_orders AS status,
            count(DISTINCT cust_id_orders) AS customers,
            count(DISTINCT prod_id_order_items) AS products
            FROM {OI} WHERE qty_order_items >= {int(r.integers(1, 9))}
            GROUP BY status_orders""", [OI]),
        ("point_lookup", f"""SELECT * FROM {CO}
            WHERE order_id_orders = {int(r.integers(1, n_orders + 1))}""", [CO]),
        ("preview", f"SELECT * FROM {AGG_CO} ORDER BY city_customers LIMIT 5",
         [AGG_CO]),
    ]


def _questions(r):
    """Natural-language questions with the SQL the template generator
    must produce for them: (question, expected sql, tables read)."""
    n = int(r.integers(3, 8))
    return [
        (f"top {n} {AGG_CO} by ship_fee_orders_sum",
         f"SELECT * FROM {AGG_CO} ORDER BY ship_fee_orders_sum DESC LIMIT {n};",
         [AGG_CO]),
        (f"how many {OI}", f"SELECT count(*) AS n FROM {OI};", [OI]),
        (f"number of {CO} by tier_customers",
         f"SELECT tier_customers, count(*) AS n FROM {CO} GROUP BY tier_customers;",
         [CO]),
        (f"total qty_order_items by category_products in {IP}",
         f"SELECT category_products, sum(qty_order_items) AS total_qty_order_items "
         f"FROM {IP} GROUP BY category_products;", [IP]),
    ]


class AnalystSql(Driver):
    def __init__(self, seed, input_dir):
        super().__init__(seed, input_dir)
        gen.star(seed, "analyst_sql", input_dir)
        self.props = gen.measure_star(os.path.join(input_dir, "source"))
        self.plan = {}

    def after_setup(self, run_dir):
        silver = os.path.join(run_dir, "silver")
        self.con = check.silver_connection(silver)
        self.table_rows, self.table_bytes = {}, {}
        for t in list(TRANSFORMED.values()) + [AGG_CO]:
            self.table_rows[t] = self.con.execute(
                f"SELECT count(*) FROM {t}").fetchone()[0]
            self.table_bytes[t] = tree_bytes(os.path.join(silver, f"{t}.parquet"))
        self.props["silver_rows"] = self.table_rows
        self.props["silver_bytes"] = self.table_bytes
        self.props["working_set_bytes"] = sum(self.table_bytes.values())

    def command(self, op):
        """1 op in 4 is a question, 1 in 4 saves its result to gold."""
        if op % 4 == 1:
            q, sql, tables = _questions(self.rng)[self.rng.integers(4)]
            cmd = {"cmd": "next", "question": q}
        else:
            _, sql, tables = _shapes(self.rng, gen.SIZES["analyst_sql"]["orders"])[
                self.rng.integers(8)]
            cmd = {"cmd": "next", "sql": sql}
            if op % 4 == 3:
                cmd["save"] = f"gold_op{op}"
        self.plan[op] = (sql, tables)
        return cmd

    def check(self, op, out):
        sql, _ = self.plan[op]
        want = check.query_digest(self.con, sql)
        got = check.digest(out["columns"], out["rows"])
        if got != want:
            return f"result digest {got} != {want} for: {sql}"
        if out.get("saved"):
            saved = check.table_digest(self.con, out["saved"])
            if saved != want:
                return f"gold digest {saved} != {want}"
        return None

    def consumed(self, op):
        tables = self.plan[op][1]
        return (sum(self.table_rows[t] for t in tables),
                sum(self.table_bytes[t] for t in tables))

    def source_bytes(self):
        return self.props["bytes"]


class CorpusRefresh(Driver):
    # the engine's default IVF-PQ serve reaches about 0.9 on these
    # clusters; below this floor the index or the search lost neighbours
    RECALL_FLOOR = 0.75

    def __init__(self, seed, input_dir):
        super().__init__(seed, input_dir)
        self.gen = gen.Corpus(seed, input_dir)
        s = gen.SIZES["corpus_refresh"]
        self.ids = np.arange(s["corpus"])
        self.vecs = self.gen.vecs
        self.base_bytes = tree_bytes(os.path.join(input_dir, "corpus"))
        self.batch_bytes = {}
        self.recalls = []
        self.kept_frac = []
        self.props = {"corpus_docs": s["corpus"], "corpus_bytes": self.base_bytes,
                      "batch_docs": s["batch"],
                      "planted_near_dup_share": s["planted_dups"] / s["batch"],
                      "off_language_share": s["junk_lang"] / s["batch"],
                      "queries_per_op": s["queries"], "dim": s["dim"]}

    def command(self, op):
        self.gen.next_batch(op)
        self.batch_bytes[op] = os.path.getsize(
            os.path.join(self.input, "batch", f"{op}.parquet"))
        return {"cmd": "next"}

    def check(self, op, out):
        p = self.gen.planted[op]
        # the index must hold exactly what the op appended, right or wrong,
        # so one wrong screen fails one op, not every op after it
        kept = sorted(out["kept"])
        self.ids = np.concatenate([self.ids, kept])
        self.vecs = np.concatenate([self.vecs] + [p["vec_of"][i][None] for i in kept])
        self.kept_frac.append(len(kept) / (self.gen.s["batch"] - len(out["dups"])))
        self.index_rows = check.index_rows(out["index"])
        recall = check.recall_at_k(out["topk"], self.ids, self.vecs, p["queries"])
        self.recalls.append(recall)
        if set(out["dups"]) != p["dups"]:
            return f"near-duplicates found {sorted(out['dups'])} != planted {sorted(p['dups'])}"
        if set(kept) != p["kept"]:
            return "curation kept a different document set"
        if self.index_rows != len(self.ids):
            return f"index rows {self.index_rows} != {len(self.ids)}"
        if recall < self.RECALL_FLOOR:
            return f"recall@10 {recall:.3f} below {self.RECALL_FLOOR}"
        return None

    def consumed(self, op):
        return self.gen.s["batch"], self.batch_bytes[op]

    def source_bytes(self):
        return self.base_bytes + sum(self.batch_bytes.values())


DRIVERS = {"medallion_full": MedallionFull, "incremental_jdbc": IncrementalJdbc,
           "analyst_sql": AnalystSql, "corpus_refresh": CorpusRefresh}
