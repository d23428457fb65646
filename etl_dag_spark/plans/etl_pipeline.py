"""The reference's complete ETL DAG (ETL_DAG.py:241-277), re-expressed
Spark-first: ``load_env_vars → validate_files → load_data`` over the
same three CSV sources (sales / products / customers), with the same
column renames (ETL_DAG.py:169-187), the same data-quality checks
(ETL_DAG.py:90-142), the same country→ISO3 normalization
(ETL_DAG.py:144-151), and truncate-and-load semantics
(ETL_DAG.py:210-229) into parquet star-schema tables.

Differences that matter at 100 TB (each one deliberate):

- Reads are lazy Spark scans with explicit schemas (no inferSchema
  pass); renames are metadata-only projections.
- The default quarantines invalid rows to parquet and loads the rest —
  a 100 TB load shouldn't be aborted by three bad rows. Each table's CSV
  is parsed once for its valid write, plus once for its quarantine write
  when rows failed; the loaded and rejected counts are ``Observation``
  metrics on the valid write, so counting launches no job.
- ``strict=True`` reproduces the reference's raise-on-any-violation: one
  ``rule_counts`` aggregate scan per table, all three before the first
  write, so a violation leaves the previous load in place.
- Country normalization is a literal-map Column expression, not a
  per-row ``pycountry.search_fuzzy`` call.
- The load step is idempotent ``mode("overwrite")`` parquet — rerunning
  the DAG is the TRUNCATE+load of the reference.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from etl_dag_spark.functions.country import iso3_column
from etl_dag_spark.operators.validation import (
    Rule,
    require_columns,
    rule_counts,
    split_valid,
)
from etl_dag_spark.plans.dag import DAG, Task
from etl_dag_spark.sources.readers import read_source
from etl_dag_spark.sources.sinks import overwrite_parquet

# Column maps verbatim from ETL_DAG.py:169-187
SALES_RENAME = {
    "TransactionID": "TRANSACTION_ID",
    "Date": "TRANSACTION_DATE",
    "CustomerID": "CUSTOMER_ID",
    "ProductID": "PRODUCT_ID",
    "Amount": "AMOUNT",
}
PRODUCTS_RENAME = {
    "ProductID": "PRODUCT_ID",
    "ProductName": "PRODUCT_NAME",
    "Category": "CATEGORY",
    "Price": "PRICE",
}
CUSTOMERS_RENAME = {
    "CustomerID": "CUSTOMER_ID",
    "Name": "NAME",
    "Email": "EMAIL",
    "Country": "COUNTRY",
}

SALES_SCHEMA = (
    "TransactionID bigint, Date string, CustomerID bigint, ProductID bigint, Amount double"
)
PRODUCTS_SCHEMA = "ProductID bigint, ProductName string, Category string, Price double"
CUSTOMERS_SCHEMA = "CustomerID bigint, Name string, Email string, Country string"

# Required columns + checks verbatim from ETL_DAG.py:97-119 (post-rename)
REQUIRED = {
    "sales": ["TRANSACTION_ID", "TRANSACTION_DATE", "CUSTOMER_ID", "PRODUCT_ID", "AMOUNT"],
    "products": ["PRODUCT_ID", "PRODUCT_NAME", "CATEGORY", "PRICE"],
    "customers": ["CUSTOMER_ID", "NAME", "EMAIL", "COUNTRY"],
}
RULES = {
    "sales": [
        Rule("sales", "amount_positive", "AMOUNT > 0"),
        Rule("sales", "date_valid", "try_to_timestamp(TRANSACTION_DATE) IS NOT NULL"),
    ],
    "products": [Rule("products", "price_non_negative", "PRICE >= 0")],
    "customers": [
        Rule("customers", "email_well_formed", r"EMAIL RLIKE '^[\\w\\.-]+@[\\w\\.-]+\\.\\w+$'"),
        # the reference raises when search_fuzzy fails (ETL_DAG.py:195-199)
        Rule("customers", "country_recognized", "COUNTRY_ISO3 IS NOT NULL"),
    ],
}


def require_config(required: list[str], env: dict | None = None) -> dict[str, str]:
    """Fail-fast required-config validation — the first task of the
    reference DAG (ETL_DAG.py:44-58 ``load_env_vars``: a required-vars
    list checked against the environment, raising with every missing
    name at once so one run surfaces the whole configuration gap).

    Returns the resolved values so downstream tasks read the validated
    snapshot from the DAG context instead of re-reading a mutable
    ``os.environ``.
    """
    env = dict(os.environ) if env is None else env
    missing = [k for k in required if not env.get(k)]
    if missing:
        raise ValueError(f"missing required config: {', '.join(missing)}")
    return {k: env[k] for k in required}


def build_pipeline(
    spark: SparkSession,
    csv_paths: dict[str, str],
    out_dir: str,
    strict: bool = False,
    required_env: list[str] | None = None,
) -> DAG:
    """Assemble the three-task DAG. ``csv_paths`` needs keys
    sales/products/customers (the reference's env vars CSV_*_PATH).
    ``required_env`` optionally lists environment variables that must be
    set (warehouse credentials etc., ETL_DAG.py:52-53) — checked by the
    first task, before any Spark job runs.
    Outputs land under ``out_dir``: fact_table/, products/, customers/,
    plus quarantine/<table>/ for rejected rows, rewritten on every load
    (empty when no row failed)."""
    dag = DAG("reference_etl")

    def load_env_vars(ctx: dict) -> dict:
        if required_env:
            ctx["config"] = require_config(required_env)
        missing = [k for k in ("sales", "products", "customers") if not csv_paths.get(k)]
        if missing:
            raise ValueError(f"missing CSV paths: {', '.join(sorted(missing))}")
        return dict(csv_paths)

    def validate_files(ctx: dict) -> str:
        for file_type, path in ctx["load_env_vars"].items():
            if not os.path.isfile(path):
                raise FileNotFoundError(f"{file_type} file not found: {path}")
        return "ok"

    def load_data(ctx: dict) -> dict:
        paths = ctx["load_env_vars"]
        sales = read_source(
            spark, paths["sales"], "csv", schema=SALES_SCHEMA, rename=SALES_RENAME
        )
        products = read_source(
            spark, paths["products"], "csv", schema=PRODUCTS_SCHEMA, rename=PRODUCTS_RENAME
        )
        customers = read_source(
            spark, paths["customers"], "csv", schema=CUSTOMERS_SCHEMA, rename=CUSTOMERS_RENAME
        ).withColumn("COUNTRY_ISO3", iso3_column("COUNTRY"))

        frames = {"sales": sales, "products": products, "customers": customers}
        for name, df in frames.items():
            require_columns(df, REQUIRED[name])
        if strict:
            # every table is checked before the first write, so a
            # violation in any of them leaves the star schema untouched
            for name, df in frames.items():
                counts = rule_counts(df, [(r.name, r.predicate) for r in RULES[name]])
                bad = [r for r in counts.collect() if r.violations]
                if bad:
                    detail = ", ".join(f"{r.rule_name} ({r.violations} rows)" for r in bad)
                    raise ValueError(f"validation failed for {name}: {detail}")

        rows = F.count(F.lit(1)).alias("rows")
        loaded: dict[str, int] = {}
        for name, df in frames.items():
            # rows seen and rows kept are metrics of the valid write, so
            # counting launches no job of its own
            seen, kept = Observation(), Observation()
            valid, invalid = split_valid(df.observe(seen, rows), RULES[name])
            out = valid
            if name == "customers":
                # reference replaces COUNTRY with the ISO3 code (ETL_DAG.py:193)
                out = valid.withColumn("COUNTRY", F.col("COUNTRY_ISO3")).drop("COUNTRY_ISO3")
            target = "fact_table" if name == "sales" else name
            overwrite_parquet(out.observe(kept, rows), os.path.join(out_dir, target))
            loaded[name] = kept.get["rows"]
            n_bad = seen.get["rows"] - loaded[name]
            # a clean load still truncates last run's quarantine; limit(0)
            # folds to an empty relation, so that write parses no CSV
            overwrite_parquet(
                invalid if n_bad else invalid.limit(0),
                os.path.join(out_dir, "quarantine", name),
            )
        return loaded

    dag.add(Task("load_env_vars", load_env_vars))
    dag.add(Task("validate_files", validate_files, deps=("load_env_vars",)))
    dag.add(Task("load_data", load_data, deps=("validate_files",), retries=1))
    return dag


def run_pipeline(
    spark: SparkSession, csv_paths: dict[str, str], out_dir: str, strict: bool = False
) -> dict:
    return build_pipeline(spark, csv_paths, out_dir, strict).run()
