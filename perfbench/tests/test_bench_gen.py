"""The seeded generators: determinism and the violation counts the
``etl_load`` check relies on, recounted from the written files."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa

import gen
from workloads import TableModel, key_hash, table_summary, value_hash

SMALL = gen.Scale(customer=3000, supplier=50, part=2000, orders=5000, lineitem=20000,
                  events=100, documents=10, embeddings=10)
EMAIL = re.compile(r"^[\w\.-]+@[\w\.-]+\.\w+$")


def _write(tmp_path, seed):
    return gen.write_etl_csvs(str(tmp_path / f"csv{seed}"), seed, sales_rows=50_000, scale=SMALL)


def test_violation_counts_match_the_files(tmp_path):
    paths, exp = _write(tmp_path, 5)
    sales = pd.read_csv(paths["sales"], dtype={"Date": str})
    products = pd.read_csv(paths["products"])
    customers = pd.read_csv(paths["customers"])

    neg_amount = sales["Amount"] <= 0
    bad_date = pd.to_datetime(sales["Date"], format="%Y-%m-%d", errors="coerce").isna()
    neg_price = products["Price"] < 0
    bad_email = ~customers["Email"].map(lambda e: bool(EMAIL.match(e)))
    known = {n.upper() for n in gen.NATIONS}
    unknown = ~customers["Country"].str.strip().str.upper().isin(known)

    assert exp.violations == {
        "amount_positive": int(neg_amount.sum()),
        "date_valid": int(bad_date.sum()),
        "price_non_negative": int(neg_price.sum()),
        "email_well_formed": int(bad_email.sum()),
        "country_recognized": int(unknown.sum()),
    }
    assert all(v > 0 for v in exp.violations.values())
    assert exp.quarantined == {
        "sales": int((neg_amount | bad_date).sum()),
        "products": int(neg_price.sum()),
        "customers": int((bad_email | unknown).sum()),
    }
    assert exp.loaded["sales"] == len(sales) - exp.quarantined["sales"]
    good = sales.loc[~(neg_amount | bad_date), "Amount"]
    assert exp.fact_amount_cents == int(np.round(good.to_numpy() * 100).astype(np.int64).sum())


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a, _ = _write(tmp_path / "a", 9)
    b, _ = _write(tmp_path / "b", 9)
    c, _ = _write(tmp_path / "c", 10)
    for name in a:
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb, open(c[name], "rb") as fc:
            da, db, dc = fa.read(), fb.read(), fc.read()
        assert da == db
        assert da != dc


def test_value_hash_ignores_order_and_int_float_spelling():
    t1 = pa.table({"b": [1.0, 2.5], "a": ["x", "y"]})
    t2 = pa.table({"a": ["y", "x"], "b": [2.5, 1]})
    assert value_hash(t1) == value_hash(t2)
    assert value_hash(t1) != value_hash(pa.table({"a": ["x", "y"], "b": [1.0, 2.6]}))


def test_table_model_summary_matches_a_table_of_the_same_rows():
    keys = np.array([5, 1, 9], dtype=np.int64)
    cents = np.array([100, 200, 300], dtype=np.int64)
    model = TableModel(keys, cents)
    t = pa.table({"o_orderkey": keys[::-1], "o_totalcents": cents[::-1]})
    assert model.summary() == table_summary(t)
    assert model.summary(1, 5) == (2, key_hash(np.array([1, 5])), 300)
    assert key_hash(np.array([1, 5])) != key_hash(np.array([1, 6]))
