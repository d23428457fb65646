"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical inputs. The program under test only ever sees the files.

- :func:`write_tpch` writes the TPC-H-shaped star schema (plus the
  ``events`` table) that the registry's ``bi_*``/``sql_*``/``olap_*``
  entries read, one parquet file per table.
- :func:`write_etl_csvs` derives the reference DAG's sales / products /
  customers CSVs from the lineitem, part and customer-join-nation
  columns, breaks a seeded set of rows per validation rule, and returns
  the counts the load must reproduce.
- :func:`orders_seed` gives the versioned-table workload its starting
  rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Canonical TPC-H nation names in nationkey order; the program maps
# them (case-insensitively) to ISO3 codes.
NATIONS = [
    "Algeria", "Argentina", "Brazil", "Canada", "Egypt", "Ethiopia", "France",
    "Germany", "India", "Indonesia", "Iran", "Iraq", "Japan", "Jordan", "Kenya",
    "Morocco", "Mozambique", "Peru", "China", "Romania", "Saudi Arabia",
    "Vietnam", "Russia", "United Kingdom", "United States",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "green", "big", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings")
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
WORDS = ("a the data spark table query join scan sort group value key row line part order "
         "customer stream batch window hash vector column filter merge agg fast slow big small").split()
LANGS = ["en", "de", "es", "fr", "zh"]

# Values that break exactly one validation rule each.
BAD_DATES = ["not-a-date", "TBD", "2021-99-99", "31/31/2020"]
BAD_EMAILS = ["customer.at.example.com", "no-domain@", "user#1@example.com", "@example.com"]
UNKNOWN_COUNTRIES = ["Atlantis", "Elbonia", "Narnia", "Freedonia"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money as a double with exactly two decimals."""
    return rng.integers(lo, hi, n) / 100.0


def _ts(days_us: np.ndarray) -> pa.Array:
    return pa.array(days_us, type=pa.timestamp("us"))


@dataclass(frozen=True)
class Scale:
    """Row counts of the TPC-H-shaped tables (sf0.1 by default)."""

    customer: int = 15_000
    supplier: int = 1_000
    part: int = 20_000
    orders: int = 150_000
    lineitem: int = 600_000
    events: int = 100_000
    documents: int = 5_000
    embeddings: int = 2_000


def tpch_tables(seed: int, scale: Scale = Scale()) -> dict[str, pa.Table]:
    r = _rng(seed, 1)
    nc, ns, npart, no, nl = scale.customer, scale.supplier, scale.part, scale.orders, scale.lineitem
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents(r, -99_999, 999_999, nc),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _cents(r, -99_999, 999_999, ns),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    part = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": names[r.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{k}" for k in range(1, 26)])[r.integers(0, 25, npart)],
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": (90_000 + (np.arange(npart) % 1000) * 10) / 100.0,
    })
    # a third of the customers never order (bi_customers_no_purchase)
    buyers = np.flatnonzero(np.arange(nc) % 3 != 0)
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": buyers[r.integers(0, len(buyers), no)].astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
        "o_totalprice": _cents(r, 100_000, 50_000_000, no),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 7 * 365, no) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)],
    })
    lineitem = pa.table({
        "l_orderkey": r.integers(0, no, nl).astype(np.int64),
        "l_partkey": r.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(r, 90_000, 10_500_000, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 7 * 365, nl) * _DAY_US),
    })
    ne = scale.events
    events = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.sort(r.integers(0, 30 * _DAY_US, ne))),
        "user_id": r.integers(0, nc, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
        "value": _cents(r, 0, 50_000, ne),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
    })
    nd = scale.documents
    words = np.array(WORDS)
    lengths = r.integers(10, 80, nd)
    text = [" ".join(words[r.integers(0, len(words), k)]) for k in lengths]
    documents = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), nd)],
        "source": [f"src{k}" for k in r.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    nv = scale.embeddings
    vecs = r.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_tpch(out_dir: str, seed: int, scale: Scale = Scale()) -> dict[str, pa.Table]:
    """Write one ``<table>.parquet`` per table under ``out_dir``; returns
    the tables (the DuckDB oracles read the same files)."""
    os.makedirs(out_dir, exist_ok=True)
    tables = tpch_tables(seed, scale)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables


@dataclass(frozen=True)
class EtlExpect:
    """What one truncate-and-load of the generated CSVs must produce."""

    loaded: dict[str, int]
    quarantined: dict[str, int]
    violations: dict[str, int]
    fact_amount_cents: int
    csv_bytes: int


def _pick(r: np.random.Generator, n: int, frac: float) -> np.ndarray:
    return r.random(n) < frac


def write_etl_csvs(out_dir: str, seed: int, sales_rows: int = 600_000,
                   scale: Scale = Scale()) -> tuple[dict[str, str], EtlExpect]:
    """The reference DAG's three CSVs, derived from the seeded lineitem,
    part and customer-join-nation columns. Sales replicate the lineitem
    rows (with fresh transaction ids) up to ``sales_rows``.

    The seed decides which rows break which rule: about 0.5% of sales get
    a negative amount and 0.5% an unparseable date (a row may break
    both), 1% of products a negative price, and 2% of customers each a
    malformed email or an unknown country."""
    os.makedirs(out_dir, exist_ok=True)
    t = tpch_tables(seed, scale)
    r = _rng(seed, 2)
    li, orders, part, cust = t["lineitem"], t["orders"], t["part"], t["customer"]

    reps = -(-sales_rows // li.num_rows)
    idx = np.tile(np.arange(li.num_rows), reps)[:sales_rows]
    o_cust = orders["o_custkey"].to_numpy()
    amount_cents = np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64)[idx]
    ship_days = li["l_shipdate"].to_numpy().astype("datetime64[D]")[idx]
    neg_amount = _pick(r, sales_rows, 0.005)
    bad_date = _pick(r, sales_rows, 0.005)
    amount_cents = np.where(neg_amount, -amount_cents, amount_cents)
    dates = np.datetime_as_string(ship_days).astype(object)
    dates[bad_date] = np.array(BAD_DATES, dtype=object)[r.integers(0, len(BAD_DATES), bad_date.sum())]
    sales = pa.table({
        "TransactionID": np.arange(sales_rows, dtype=np.int64),
        "Date": pa.array(dates, pa.string()),
        "CustomerID": o_cust[li["l_orderkey"].to_numpy()[idx]],
        "ProductID": li["l_partkey"].to_numpy()[idx],
        "Amount": amount_cents / 100.0,
    })
    sales_bad = neg_amount | bad_date

    price = part["p_retailprice"].to_numpy()
    neg_price = _pick(r, len(price), 0.01)
    products = pa.table({
        "ProductID": part["p_partkey"],
        "ProductName": part["p_name"],
        "Category": part["p_type"],
        "Price": np.where(neg_price, -price, price),
    })

    nc = cust.num_rows
    keys = cust["c_custkey"].to_numpy()
    emails = np.array([f"customer.{k}@example.com" for k in keys], dtype=object)
    bad_email = _pick(r, nc, 0.02)
    emails[bad_email] = np.array(BAD_EMAILS, dtype=object)[r.integers(0, len(BAD_EMAILS), bad_email.sum())]
    country = np.array(NATIONS, dtype=object)[cust["c_nationkey"].to_numpy()]
    unknown = _pick(r, nc, 0.02)
    country[unknown] = np.array(UNKNOWN_COUNTRIES, dtype=object)[
        r.integers(0, len(UNKNOWN_COUNTRIES), unknown.sum())
    ]
    customers = pa.table({
        "CustomerID": keys,
        "Name": cust["c_name"],
        "Email": pa.array(emails, pa.string()),
        "Country": pa.array(country, pa.string()),
    })

    paths = {}
    opts = pacsv.WriteOptions(quoting_style="needed")
    for name, table in (("sales", sales), ("products", products), ("customers", customers)):
        paths[name] = os.path.join(out_dir, f"{name}.csv")
        pacsv.write_csv(table, paths[name], opts)
    n_bad = {"sales": int(sales_bad.sum()), "products": int(neg_price.sum()),
             "customers": int((bad_email | unknown).sum())}
    rows = {"sales": sales_rows, "products": len(price), "customers": nc}
    return paths, EtlExpect(
        loaded={k: rows[k] - n_bad[k] for k in rows},
        quarantined=n_bad,
        violations={
            "amount_positive": int(neg_amount.sum()),
            "date_valid": int(bad_date.sum()),
            "price_non_negative": int(neg_price.sum()),
            "email_well_formed": int(bad_email.sum()),
            "country_recognized": int(unknown.sum()),
        },
        fact_amount_cents=int(amount_cents[~sales_bad].sum()),
        csv_bytes=sum(os.path.getsize(p) for p in paths.values()),
    )


def orders_seed(seed: int, rows: int = 150_000) -> pa.Table:
    """Starting rows of the versioned table: sf0.1 orders with an
    integer-cents amount column (keys 0..rows-1)."""
    o = tpch_tables(seed, Scale(orders=rows, lineitem=1, events=1))["orders"]
    return pa.table({
        "o_orderkey": o["o_orderkey"],
        "o_custkey": o["o_custkey"],
        "o_totalcents": np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64),
        "o_orderdate": o["o_orderdate"],
        "o_rev": np.zeros(rows, dtype=np.int64),
    })
