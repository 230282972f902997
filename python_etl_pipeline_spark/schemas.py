"""Declared schemas — the engine's three-tier type system.

Mirrors the reference's progressive-typing data model (SURVEY.md §1.2):

* **staging**: every business column is a string (the reference reads CSVs
  with ``dtype=str, keep_default_na=False`` — ``src/extract.py:430`` — and
  declares staging DDL as all-VARCHAR, ``src/extract.py:105-208``).
* **transformed/production**: typed + enriched (``src/transform.py:77-148``,
  ``config/config.py:72-158``): string, date, timestamp, int,
  decimal(15,2), decimal(5,2), boolean.

Schemas are declared, not inferred — CSV reads are validated set-wise
against the expected column list (``src/extract.py:380-382``) before
projection into canonical order.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Banking entities (reference config/config.py:161-190 staging,
# config/config.py:72-158 production). PK first, canonical column order.
# --------------------------------------------------------------------------

STAGING_COLUMNS: dict[str, list[str]] = {
    "branches": ["branch_id", "branch_name", "city", "state", "manager_name"],
    "customers": [
        "customer_id", "branch_id", "first_name", "last_name", "dob",
        "gender", "email", "phone", "address", "account_open_date",
    ],
    "loans": [
        "loan_id", "customer_id", "loan_type", "loan_amount",
        "interest_rate", "start_date", "end_date", "loan_status",
    ],
    "transactions": [
        "transaction_id", "customer_id", "transaction_date",
        "transaction_type", "amount", "balance_after", "fraud_flag",
    ],
}

PRIMARY_KEYS: dict[str, str] = {
    "branches": "branch_id",
    "customers": "customer_id",
    "loans": "loan_id",
    "transactions": "transaction_id",
}

# FK-safe load order (reference load.py:305)
LOAD_ORDER = ["branches", "customers", "loans", "transactions"]

LARGE_TABLES = {"transactions"}  # config/config.py:145 'large_table': True


def staging_schema(table: str) -> T.StructType:
    """All-string staging schema (tier 1): schema-on-read, no inference."""
    return T.StructType(
        [T.StructField(c, T.StringType(), True) for c in STAGING_COLUMNS[table]]
    )


_D152 = T.DecimalType(15, 2)
_D52 = T.DecimalType(5, 2)

TRANSFORMED_SCHEMAS: dict[str, T.StructType] = {
    "branches": T.StructType([
        T.StructField("branch_id", T.StringType(), False),
        T.StructField("branch_name", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("manager_name", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
    ]),
    "customers": T.StructType([
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("branch_id", T.StringType(), True),
        T.StructField("first_name", T.StringType(), True),
        T.StructField("last_name", T.StringType(), True),
        T.StructField("dob", T.DateType(), True),
        T.StructField("age", T.IntegerType(), True),
        T.StructField("gender", T.StringType(), True),  # CHAR(1) semantics
        T.StructField("email", T.StringType(), True),
        T.StructField("phone", T.StringType(), True),
        T.StructField("address", T.StringType(), True),
        T.StructField("account_open_date", T.DateType(), True),
        T.StructField("customer_tenure_days", T.IntegerType(), True),
        T.StructField("customer_segment", T.StringType(), True),
    ]),
    "loans": T.StructType([
        T.StructField("loan_id", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("loan_type", T.StringType(), True),
        T.StructField("loan_amount", _D152, True),
        T.StructField("interest_rate", _D52, True),
        T.StructField("start_date", T.DateType(), True),
        T.StructField("end_date", T.DateType(), True),
        T.StructField("loan_status", T.StringType(), True),
        T.StructField("loan_duration_months", T.IntegerType(), True),
        T.StructField("risk_category", T.StringType(), True),
    ]),
    "transactions": T.StructType([
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("transaction_date", T.TimestampType(), True),
        T.StructField("transaction_type", T.StringType(), True),
        T.StructField("amount", _D152, True),
        T.StructField("balance_after", _D152, True),
        T.StructField("fraud_flag", T.BooleanType(), True),
        T.StructField("transaction_category", T.StringType(), True),
    ]),
}

# --------------------------------------------------------------------------
# Driver testdata tables (/root/testdata/sf*/, TESTDATA.md)
# --------------------------------------------------------------------------

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
