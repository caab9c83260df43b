"""Seeded input generators for the four workloads.

Every generator draws from numpy's PCG64 seeded with the run's --seed, so
the same seed writes byte-identical inputs. The stateful generators keep
the ground truth the output checks need (row counts and watermarks,
planted duplicates); `measure_star` measures a star's dirt shares.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload. BENCHMARK.json's "sizes" mirror these.
SIZES = {
    "medallion_full": dict(customers=1500, orders=8000, order_items=16000,
                           products=400),
    "analyst_sql": dict(customers=1500, orders=8000, order_items=16000,
                        products=400),
    "incremental_jdbc": dict(customers=2000, orders=4000, order_items=6000,
                             products=500, delta=1000),
    "corpus_refresh": dict(corpus=3000, batch=100, planted_dups=10,
                           junk_lang=10, queries=20, dim=32, clusters=16),
}

CITIES = ["Lisbon", "Porto", "Madrid", "Paris", "Lyon", "Berlin", "Munich",
          "Hamburg", "Vienna", "Zurich", "Milan", "Rome", "Oslo", "Bergen",
          "Dublin", "Cork", "Prague", "Brno", "Warsaw", "Krakow", "Riga",
          "Tallinn", "Vilnius", "Sofia", "Athens", "Seville", "Valencia",
          "Bilbao", "Ghent", "Antwerp"]
FIRST = ["Ana", "Bruno", "Carla", "Duarte", "Eva", "Filipe", "Gil", "Helena",
         "Ines", "Joao", "Karin", "Luis", "Marta", "Nuno", "Olga", "Pedro"]
LAST = ["Silva", "Santos", "Ferreira", "Pereira", "Oliveira", "Costa",
        "Rodrigues", "Martins", "Jesus", "Sousa", "Fernandes", "Goncalves"]
TIERS = ["bronze", "silver", "gold", "platinum"]
STATUSES = ["placed", "paid", "shipped", "delivered", "returned", "cancelled"]
CATEGORIES = ["books", "music", "garden", "toys", "kitchen", "sports",
              "beauty", "office", "tools", "games", "health", "pets"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]

NULL_SHARE = 0.02
PAD_SHARE = 0.10
DUP_SHARE = 0.05
EPOCH = datetime.date(2019, 1, 1)
DAYS = 5 * 365


def _decimal(cents):
    """int64 cents -> decimal128(10, 2) without a per-value Python loop."""
    cents = np.asarray(cents, dtype=np.int64)
    words = np.empty((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    return pa.Array.from_buffers(pa.decimal128(10, 2), len(cents),
                                 [None, pa.py_buffer(words.tobytes())])


def _dates(rng, n):
    """Date strings in three formats the engine's T5 parser reads:
    ISO, day-first slashes, and "Mon d, yyyy"."""
    base = np.datetime64(EPOCH) + rng.integers(0, DAYS, n)
    ymd = base.astype("datetime64[D]").astype(object)
    fmt = rng.integers(0, 3, n)
    out = []
    for d, f in zip(ymd, fmt):
        if f == 0:
            out.append(d.isoformat())
        elif f == 1:
            out.append(f"{d.day:02d}/{d.month:02d}/{d.year}")
        else:
            out.append(f"{MONTHS[d.month - 1]} {d.day}, {d.year}")
    return out


def _pad(rng, values):
    """Wrap PAD_SHARE of the values in leading/trailing spaces or tabs."""
    pads = ["  ", " ", "\t", " \t"]
    hit = rng.random(len(values)) < PAD_SHARE
    sides = rng.integers(0, 3, len(values))
    which = rng.integers(0, len(pads), len(values))
    out = list(values)
    for i in np.flatnonzero(hit):
        p = pads[which[i]]
        out[i] = (p + out[i] if sides[i] != 1 else out[i]) + \
            (p if sides[i] != 0 else "")
    return out


def _nulls(rng, arr, share=NULL_SHARE):
    mask = pa.array(rng.random(len(arr)) < share)
    return pa.compute.if_else(mask, pa.scalar(None, arr.type), arr)


def _skewed_keys(rng, n, n_keys):
    """Zipf-like key draw (p ~ 1/rank^1.1): a few hot customers."""
    p = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    perm = rng.permutation(n_keys) + 1
    return perm[rng.choice(n_keys, size=n, p=p / p.sum())]


def star_tables(rng, sizes, id_base=None, dirt=True):
    """The e-commerce star. `id_base` offsets every table's ids (the
    incremental deltas); foreign keys then point into [1, id_base + n]."""
    id_base = id_base or {t: 0 for t in sizes}
    out = {}

    def ids(t):
        return np.arange(1, sizes[t] + 1, dtype=np.int64) + id_base[t]

    def pick(vocab, n):
        return [vocab[i] for i in rng.integers(0, len(vocab), n)]

    n = sizes["customers"]
    out["customers"] = pa.table({
        "cust_id": ids("customers"),
        "first_name": pick(FIRST, n),
        "last_name": pick(LAST, n),
        "city": _pad(rng, pick(CITIES, n)) if dirt else pick(CITIES, n),
        "signup_date": _dates(rng, n),
        "tier": pick(TIERS, n),
    })
    n = sizes["orders"]
    n_cust = sizes["customers"] + id_base["customers"]
    out["orders"] = pa.table({
        "order_id": ids("orders"),
        "cust_id": _skewed_keys(rng, n, n_cust).astype(np.int64),
        "order_date": _dates(rng, n),
        "status": _pad(rng, pick(STATUSES, n)) if dirt else pick(STATUSES, n),
        "ship_fee": _decimal(rng.integers(0, 2500, n)),
    })
    n = sizes["order_items"]
    out["order_items"] = pa.table({
        "line_id": ids("order_items"),
        "order_id": rng.integers(1, sizes["orders"] + id_base["orders"] + 1,
                                 n).astype(np.int64),
        "prod_id": rng.integers(1, sizes["products"] + id_base["products"] + 1,
                                n).astype(np.int64),
        "qty": rng.integers(1, 10, n).astype(np.int32),
        "price": _decimal(rng.integers(100, 50000, n)),
    })
    n = sizes["products"]
    out["products"] = pa.table({
        "prod_id": ids("products"),
        "title": [f"item {i}" for i in ids("products")],
        "category": _pad(rng, pick(CATEGORIES, n)) if dirt
        else pick(CATEGORIES, n),
        "msrp": _decimal(rng.integers(100, 60000, n)),
    })
    if dirt:
        nullable = {"customers": ["city", "signup_date", "tier"],
                    "orders": ["cust_id", "status", "ship_fee"],
                    "order_items": ["qty", "price"],
                    "products": ["category"]}
        for t, cols in nullable.items():
            tab = out[t]
            for c in cols:
                i = tab.schema.get_field_index(c)
                tab = tab.set_column(i, c, _nulls(rng, tab.column(c).combine_chunks()))
            # exact duplicate rows, appended: what "Remove Duplicates" drops
            dup = rng.choice(tab.num_rows, int(tab.num_rows * DUP_SHARE),
                             replace=False)
            out[t] = pa.concat_tables([tab, tab.take(np.sort(dup))])
    return out


def write_tables(tables, d):
    os.makedirs(d, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(d, f"{name}.parquet"))


def star(seed, workload, d):
    """Dirty star source for medallion_full / analyst_sql."""
    rng = np.random.default_rng(seed)
    sizes = SIZES[workload]
    write_tables(star_tables(rng, sizes), os.path.join(d, "source"))


class Incremental:
    """Initial star plus one seeded ~`delta`-row batch per table per cycle,
    every id past the table's current watermark."""

    def __init__(self, seed, d):
        self.rng = np.random.default_rng(seed)
        self.d = d
        self.sizes = dict(SIZES["incremental_jdbc"])
        self.delta = self.sizes.pop("delta")
        base = star_tables(self.rng, self.sizes, dirt=False)
        write_tables(base, os.path.join(d, "source"))
        self.rows = {t: tab.num_rows for t, tab in base.items()}
        self.max_id = dict(self.sizes)

    def next_delta(self, op):
        sizes = {t: self.delta for t in self.sizes}
        tabs = star_tables(self.rng, sizes, id_base=dict(self.max_id),
                           dirt=False)
        write_tables(tabs, os.path.join(self.d, "delta", str(op)))
        for t in self.sizes:
            self.rows[t] += self.delta
            self.max_id[t] += self.delta


class Corpus:
    """Documents with clustered embeddings. Each batch plants near-copies
    of corpus documents (one word appended) and off-language documents;
    each query batch samples the cluster centres."""

    def __init__(self, seed, d):
        s = SIZES["corpus_refresh"]
        self.s = s
        self.rng = np.random.default_rng(seed)
        self.d = d
        vocab_rng = np.random.default_rng(7)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        self.vocab = ["".join(vocab_rng.choice(letters, k))
                      for k in vocab_rng.integers(3, 10, 4000)]
        self.centers = self.rng.normal(size=(s["clusters"], s["dim"]))
        n = s["corpus"]
        self.texts = [self._text() for _ in range(n)]
        self.vecs = self._vectors(n)
        self.next_id = n
        self._write(os.path.join(d, "corpus", "docs.parquet"),
                    np.arange(n), self.texts,
                    list(self.rng.choice(["en", "de"], n, p=[0.7, 0.3])),
                    self.vecs)
        self.planted = {}

    def _text(self):
        k = int(self.rng.integers(40, 80))
        return " ".join(self.vocab[i] for i in
                        self.rng.integers(0, len(self.vocab), k))

    def _vectors(self, n):
        c = self.rng.integers(0, len(self.centers), n)
        v = self.centers[c] + 0.35 * self.rng.normal(size=(n, self.s["dim"]))
        return v.astype(np.float32)

    def _write(self, path, ids, texts, langs, vecs):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), vecs.shape[1])
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()), "text": texts,
            "lang": langs,
            "embedding": emb.cast(pa.list_(pa.float32())),
        }), path)

    def next_batch(self, op):
        """Write batch `op` and its queries; record the expected
        duplicates, survivors and vectors in `planted[op]`."""
        s = self.s
        n = s["batch"]
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        texts, langs = [], []
        dups, junk = set(), set()
        n_corpus = s["corpus"]
        for j, i in enumerate(ids):
            if j < s["planted_dups"]:
                # one appended word: Jaccard >= 0.97 on word 3-grams, so a
                # 16-hash minhash screen misses it with probability < 1e-6
                src = self.texts[int(self.rng.integers(0, n_corpus))]
                texts.append(src + " " + self.vocab[
                    int(self.rng.integers(0, len(self.vocab)))])
                langs.append("en")
                dups.add(int(i))
            elif j < s["planted_dups"] + s["junk_lang"]:
                texts.append(self._text())
                langs.append("xx")
                junk.add(int(i))
            else:
                texts.append(self._text())
                langs.append(str(self.rng.choice(["en", "de"])))
        order = self.rng.permutation(n)
        vecs = self._vectors(n)
        self._write(os.path.join(self.d, "batch", f"{op}.parquet"),
                    ids[order], [texts[k] for k in order],
                    [langs[k] for k in order], vecs[order])
        kept = set(int(i) for i in ids) - dups - junk
        qv = self._vectors(s["queries"])
        os.makedirs(os.path.join(self.d, "queries"), exist_ok=True)
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(qv.reshape(-1), pa.float32()), s["dim"])
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(s["queries"]), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
        }), os.path.join(self.d, "queries", f"{op}.parquet"))
        self.planted[op] = dict(dups=dups, kept=kept, queries=qv,
                                vec_of=dict(zip((int(i) for i in ids), vecs)))


def measure_star(source_dir):
    """Measured properties of a star source: rows, bytes and dirt shares."""
    import duckdb
    con = duckdb.connect()
    props = {"rows": 0, "bytes": 0}
    dup = nul = rows = pad = strs = 0
    for t in ("customers", "orders", "order_items", "products"):
        f = os.path.join(source_dir, f"{t}.parquet")
        props["bytes"] += os.path.getsize(f)
        rel = f"read_parquet('{f}')"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
        types = dict(con.execute(f"SELECT column_name, column_type FROM "
                                 f"(DESCRIBE SELECT * FROM {rel})").fetchall())
        n, distinct = con.execute(
            f"SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT * FROM {rel})) "
            f"FROM {rel}").fetchone()
        anynull = " OR ".join(f"{c} IS NULL" for c in cols)
        nul += con.execute(f"SELECT count(*) FROM {rel} WHERE {anynull}").fetchone()[0]
        for c in cols:
            if types[c] == "VARCHAR":
                a, b = con.execute(
                    f"SELECT count({c}), count_if({c} <> trim({c}, ' ' || chr(9))) "
                    f"FROM {rel}").fetchone()
                strs += a
                pad += b
        rows += n
        dup += n - distinct
    props["rows"] = rows
    props["dup_share"] = dup / rows
    props["null_row_share"] = nul / rows
    props["padded_share"] = pad / max(strs, 1)
    dates = os.path.join(source_dir, "orders.parquet")
    iso, dmy, mon, n = con.execute(
        f"SELECT count_if(order_date LIKE '____-__-__'), "
        f"count_if(order_date LIKE '__/__/____'), "
        f"count_if(order_date LIKE '___ %, ____'), count(order_date) "
        f"FROM read_parquet('{dates}')").fetchone()
    props["date_format_shares"] = {"iso": iso / n, "dmy": dmy / n,
                                   "mon_d_yyyy": mon / n}
    props["top1pct_key_share"] = con.execute(
        f"WITH k AS (SELECT cust_id, count(*) AS c FROM read_parquet('{dates}') "
        f"WHERE cust_id IS NOT NULL GROUP BY 1), "
        f"r AS (SELECT c, row_number() OVER (ORDER BY c DESC) AS i, "
        f"count(*) OVER () AS nk FROM k) "
        f"SELECT sum(c) FILTER (WHERE i <= greatest(1, nk // 100)) / sum(c) FROM r"
    ).fetchone()[0]
    return props
