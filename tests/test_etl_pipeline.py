"""End-to-end run of the reference's three-task ETL DAG
(ETL_DAG.py:241-277) on crafted CSVs: renames, validations, country
normalization, quarantine vs strict failure, idempotent reload."""

from __future__ import annotations

import os

import pytest

from etl_dag_spark.plans.etl_pipeline import run_pipeline

SALES = """TransactionID,Date,CustomerID,ProductID,Amount
1,2024-01-01,10,100,49.99
2,2024-01-02,11,101,15.50
3,2024-01-03,12,102,-5.00
4,not-a-date,13,103,20.00
"""
PRODUCTS = """ProductID,ProductName,Category,Price
100,Widget,Tools,9.99
101,Gadget,Tools,19.99
102,Gizmo,Toys,-1.00
103,Doohickey,Toys,4.99
"""
CUSTOMERS = """CustomerID,Name,Email,Country
10,Ada,ada@example.com,United States
11,Grace,grace@example.org,UK
12,Alan,not-an-email,France
13,Edsger,edsger@example.nl,Atlantis
"""

# the crafted inputs without their violating rows
SALES_CLEAN = "".join(SALES.splitlines(keepends=True)[:3])
PRODUCTS_CLEAN = "".join(
    line for line in PRODUCTS.splitlines(keepends=True) if not line.startswith("102,")
)
CUSTOMERS_CLEAN = "".join(CUSTOMERS.splitlines(keepends=True)[:3])


@pytest.fixture()
def csv_paths(tmp_path):
    paths = {}
    for name, content in [("sales", SALES), ("products", PRODUCTS), ("customers", CUSTOMERS)]:
        p = tmp_path / f"{name}.csv"
        p.write_text(content)
        paths[name] = str(p)
    return paths


def test_pipeline_quarantines_and_loads(spark, csv_paths, tmp_path):
    out = str(tmp_path / "wh")
    ctx = run_pipeline(spark, csv_paths, out)
    # bad rows: sales tx 3 (negative) + 4 (bad date); products 102
    # (negative price); customers 12 (bad email) + 13 (unknown country)
    assert ctx["load_data"] == {"sales": 2, "products": 3, "customers": 2}

    fact = spark.read.parquet(os.path.join(out, "fact_table"))
    assert {r.TRANSACTION_ID for r in fact.collect()} == {1, 2}
    cust = {r.CUSTOMER_ID: r.COUNTRY for r in spark.read.parquet(os.path.join(out, "customers")).collect()}
    assert cust == {10: "USA", 11: "GBR"}  # normalized to ISO3, like the reference
    q = spark.read.parquet(os.path.join(out, "quarantine", "sales"))
    assert {r.TRANSACTION_ID: sorted(r["__failed_rules"]) for r in q.collect()} == {
        3: ["amount_positive"],
        4: ["date_valid"],
    }
    # the observed counts agree with what was written
    targets = {"sales": "fact_table", "products": "products", "customers": "customers"}
    written = {k: spark.read.parquet(os.path.join(out, v)).count() for k, v in targets.items()}
    assert ctx["load_data"] == written
    quarantined = {
        k: spark.read.parquet(os.path.join(out, "quarantine", k)).count() for k in targets
    }
    assert quarantined == {"sales": 2, "products": 1, "customers": 2}


def test_pipeline_runs_one_job_per_write(spark, csv_paths, tmp_path):
    """Each table's CSV is parsed once for its valid write and once for
    its quarantine write; the loaded and rejected counts ride those
    writes as observations. All three crafted tables have violations,
    so a load is exactly six Spark jobs."""
    sc = spark.sparkContext
    sc.setJobGroup("etl-pipeline-jobs", "run_pipeline job count")
    try:
        run_pipeline(spark, csv_paths, str(tmp_path / "wh6"))
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("etl-pipeline-jobs")
    assert len(jobs) == 6, f"run_pipeline launched {len(jobs)} Spark jobs: {sorted(jobs)}"


def test_pipeline_strict_reproduces_reference_failure(spark, csv_paths, tmp_path):
    with pytest.raises(ValueError, match="validation failed for sales"):
        run_pipeline(spark, csv_paths, str(tmp_path / "wh2"), strict=True)


def test_pipeline_strict_checks_every_table_before_writing(spark, csv_paths, tmp_path):
    """Clean sales, dirty products: strict mode must raise before the
    fact table is written, not after."""
    with open(csv_paths["sales"], "w") as fh:
        fh.write(SALES_CLEAN)
    out = tmp_path / "wh7"
    with pytest.raises(ValueError, match=r"products: price_non_negative \(1 rows\)"):
        run_pipeline(spark, csv_paths, str(out), strict=True)
    assert not (out / "fact_table").exists()


def test_clean_reload_truncates_quarantine(spark, csv_paths, tmp_path):
    out = str(tmp_path / "wh8")
    run_pipeline(spark, csv_paths, out)
    for name, content in [
        ("sales", SALES_CLEAN), ("products", PRODUCTS_CLEAN), ("customers", CUSTOMERS_CLEAN)
    ]:
        with open(csv_paths[name], "w") as fh:
            fh.write(content)
    ctx = run_pipeline(spark, csv_paths, out)
    assert ctx["load_data"] == {"sales": 2, "products": 3, "customers": 2}
    for name in ("sales", "products", "customers"):
        q = spark.read.parquet(os.path.join(out, "quarantine", name))
        assert q.count() == 0, f"stale quarantine rows left in {name}"
        assert "__failed_rules" in q.columns


def test_pipeline_is_idempotent_truncate_and_load(spark, csv_paths, tmp_path):
    out = str(tmp_path / "wh3")
    run_pipeline(spark, csv_paths, out)
    run_pipeline(spark, csv_paths, out)  # rerun must not duplicate
    assert spark.read.parquet(os.path.join(out, "fact_table")).count() == 2


def test_pipeline_missing_file_fails_in_validate(spark, csv_paths, tmp_path):
    csv_paths["products"] = str(tmp_path / "nope.csv")
    with pytest.raises(FileNotFoundError, match="products"):
        run_pipeline(spark, csv_paths, str(tmp_path / "wh4"))


def test_require_config_fail_fast_lists_all_missing(monkeypatch):
    from etl_dag_spark.plans.etl_pipeline import require_config

    env = {"WAREHOUSE_URL": "jdbc:x", "WAREHOUSE_USER": ""}
    with pytest.raises(ValueError, match="WAREHOUSE_PASSWORD"):
        require_config(
            ["WAREHOUSE_URL", "WAREHOUSE_USER", "WAREHOUSE_PASSWORD"], env
        )
    # the error names EVERY missing/empty var (reference reports the
    # full list in one run, ETL_DAG.py:54-56), not just the first
    try:
        require_config(["WAREHOUSE_USER", "WAREHOUSE_PASSWORD"], env)
    except ValueError as e:
        assert "WAREHOUSE_USER" in str(e) and "WAREHOUSE_PASSWORD" in str(e)
    # resolved snapshot comes back when everything is present
    assert require_config(["WAREHOUSE_URL"], env) == {"WAREHOUSE_URL": "jdbc:x"}


def test_pipeline_required_env_is_first_task(spark, csv_paths, tmp_path, monkeypatch):
    from etl_dag_spark.plans.etl_pipeline import build_pipeline

    monkeypatch.delenv("REFETL_WH_TOKEN", raising=False)
    dag = build_pipeline(
        spark, csv_paths, str(tmp_path / "wh5"), required_env=["REFETL_WH_TOKEN"]
    )
    with pytest.raises(ValueError, match="REFETL_WH_TOKEN"):
        dag.run()
    # nothing was written: the config gate ran before any Spark job
    assert not (tmp_path / "wh5").exists()
    monkeypatch.setenv("REFETL_WH_TOKEN", "secret")
    ctx = dag.run()
    assert ctx["config"] == {"REFETL_WH_TOKEN": "secret"}
    assert "load_data" in ctx
