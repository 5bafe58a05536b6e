"""Input generators for the benchmark.

`star(dir)` writes the ten fixture tables the queries read
(`Tables.names`): a TPC-H-like star schema plus the `events`, `documents`
and `embeddings` tables, with the column names and parquet types of the
program's fixtures. It uses a fixed generator seed, so every run of
`llm_ops` reads the same tables and the workload seed only orders the
queries.

`etl(dir, seed, ...)` writes the three source CSVs of the reference load
(`sales`, `products`, `customers`) from the workload seed, and returns the
tallies the published tables are checked against.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
VOCAB = ("a the key row scan slow fast table value part hash batch window "
         "spark order data column agg join small line customer query big "
         "merge filter sort stream group vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def star(out, scale=0.01):
    """Write the fixture tables at `scale` (0.01: 60k lineitem rows)."""
    rng = np.random.default_rng(STAR_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(50_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)})

    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_evt // 66, 2), n_evt), i64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # one document in twenty is an earlier document plus a marker word:
    # the near-duplicates the dedup operators look for
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# ISO 3166 alpha-3 codes of the countries the load's customers live in.
COUNTRIES = {
    "ARGENTINA": "ARG", "AUSTRALIA": "AUS", "BRAZIL": "BRA", "CANADA": "CAN",
    "COLOMBIA": "COL", "DENMARK": "DNK", "FINLAND": "FIN", "FRANCE": "FRA",
    "GERMANY": "DEU", "INDIA": "IND", "INDONESIA": "IDN", "JAPAN": "JPN",
    "MEXICO": "MEX", "NETHERLANDS": "NLD", "NIGERIA": "NGA", "NORWAY": "NOR",
    "POLAND": "POL", "PORTUGAL": "PRT", "SPAIN": "ESP", "SWEDEN": "SWE",
    "SWITZERLAND": "CHE", "UNITED KINGDOM": "GBR", "UNITED STATES": "USA",
    "VIETNAM": "VNM",
}
# Names that differ from their country's name by one letter and from every
# other country name by at least three: only a fuzzy match resolves them.
MISSPELLED = {
    "ARGENTNA": "ARG", "AUSTRALLA": "AUS", "BRAZEL": "BRA", "CANADDA": "CAN",
    "GERMANNY": "DEU", "INDONESA": "IDN", "MEXIKO": "MEX", "NETHERLAND": "NLD",
    "PORTUGUL": "PRT", "SWITZERLND": "CHE", "UNITED KINGDON": "GBR",
    "UNITED STATS": "USA",
}
MISSPELLED_SHARE = 0.05
CATEGORIES = ["Electronics", "Home", "Garden", "Toys", "Books", "Sports"]


def etl(out, seed, n_sales, n_products, n_customers):
    """Write sales/products/customers CSVs; return the expected tallies."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    cents = rng.integers(1, 100_000, n_sales)            # AMOUNT > 0
    days = rng.integers(0, 3 * 365, n_sales)
    start = dt.date(2022, 1, 1).toordinal()
    date_str = [dt.date.fromordinal(start + int(d)).isoformat() for d in days]
    cust = rng.integers(1, n_customers + 1, n_sales)
    prod = rng.integers(1, n_products + 1, n_sales)
    with open(f"{out}/sales.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["TransactionID", "Date", "CustomerID", "ProductID", "Amount"])
        w.writerows(zip(range(1, n_sales + 1), date_str, cust.tolist(), prod.tolist(),
                        (f"{c // 100}.{c % 100:02d}" for c in cents.tolist())))

    price = rng.integers(0, 50_000, n_products)
    with open(f"{out}/products.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["ProductID", "ProductName", "Category", "Price"])
        w.writerows((i + 1, f"Product {i + 1}", CATEGORIES[i % len(CATEGORIES)],
                     f"{p // 100}.{p % 100:02d}") for i, p in enumerate(price.tolist()))

    names = sorted(COUNTRIES)
    typos = sorted(MISSPELLED)
    per_code = {}
    with open(f"{out}/customers.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["CustomerID", "Name", "Email", "Country"])
        for i in range(1, n_customers + 1):
            if rng.random() < MISSPELLED_SHARE:
                spelling = typos[int(rng.integers(0, len(typos)))]
                code = MISSPELLED[spelling]
            else:
                name = names[int(rng.integers(0, len(names)))]
                code = COUNTRIES[name]
                # case and spacing variants resolve on the exact tier
                spelling = [name, name.title(), name.lower(), f" {name.title()} "][i % 4]
            per_code[code] = per_code.get(code, 0) + 1
            w.writerow([i, f"Customer {i}", f"customer{i}@example.com", spelling])

    in_bytes = sum(os.path.getsize(f"{out}/{t}.csv")
                   for t in ("sales", "products", "customers"))
    return {
        "rows": {"fact_table": n_sales, "products": n_products,
                 "customers": n_customers},
        "amount_cents": int(cents.sum()),
        "customers_per_code": per_code,
        "input_bytes": in_bytes,
    }
