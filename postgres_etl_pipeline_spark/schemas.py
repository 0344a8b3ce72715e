"""Every schema the engine's data model needs (SURVEY §1.2, FIXTURES.md).

Explicit StructTypes everywhere — contracts are never inferred
(reference validates ingest against a JSON Schema draft 2020-12:
``grocery_validate_dag.py:17-41``; fixed DDL: ``sql/init.sql:4-44``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- POS transaction payload (reference mock_pos_api/app.py:20-36,77-81) ---

TXN_SCHEMA = T.StructType(
    [
        T.StructField("ok", T.BooleanType(), True),
        T.StructField("event_time", T.StringType(), False),  # ISO-8601 UTC
        T.StructField("txn_id", T.StringType(), False),
        T.StructField("store_id", T.StringType(), False),
        T.StructField("sku", T.StringType(), False),
        T.StructField("quantity", T.IntegerType(), False),
        T.StructField("unit_price_cents", T.IntegerType(), True),
        T.StructField("tender_type", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), True),  # null ~40%
    ]
)

# Drifted variant: unit_price_cents renamed to unit_price (app.py:69-73).
TXN_SCHEMA_DRIFTED = T.StructType(
    [f for f in TXN_SCHEMA.fields]
    + [T.StructField("unit_price", T.IntegerType(), True)]
)

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("transactions", T.ArrayType(TXN_SCHEMA), False),
    ]
)

# Permissive read variant: tolerate drift + corrupt records in one pass.
PAYLOAD_SCHEMA_PERMISSIVE = T.StructType(
    [
        T.StructField("ok", T.BooleanType(), True),
        T.StructField("run_id", T.StringType(), True),
        T.StructField("transactions", T.ArrayType(TXN_SCHEMA_DRIFTED), True),
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)

# --- grocery star schema (reference sql/init.sql:4-44) ---

DIM_STORE_SCHEMA = T.StructType(
    [
        T.StructField("store_id", T.StringType(), False),
        T.StructField("store_name", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("opened_date", T.DateType(), True),
    ]
)

DIM_PRODUCT_SCHEMA = T.StructType(
    [
        T.StructField("sku", T.StringType(), False),
        T.StructField("category", T.StringType(), True),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("is_perishable", T.BooleanType(), True),
    ]
)

STG_TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("txn_id", T.StringType(), False),
        T.StructField("store_id", T.StringType(), False),
        T.StructField("sku", T.StringType(), False),
        T.StructField("quantity", T.IntegerType(), False),
        T.StructField("unit_price_cents", T.IntegerType(), False),
        T.StructField("tender_type", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("raw_payload", T.StringType(), True),  # JSONB → JSON string
        T.StructField("inserted_at", T.TimestampType(), True),
    ]
)

FCT_SALES_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("txn_id", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("store_id", T.StringType(), False),
        T.StructField("region", T.StringType(), True),
        T.StructField("sku", T.StringType(), False),
        T.StructField("category", T.StringType(), True),
        T.StructField("quantity", T.IntegerType(), False),
        T.StructField("unit_price_cents", T.IntegerType(), False),
        T.StructField("revenue_cents", T.LongType(), False),
        T.StructField("tender_type", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), True),
    ]
)

# --- retail source (reference retail_seed_dag.py:49-57) ---
# amount_cents is TEXT on purpose ("to simulate bad-data issues").

RETAIL_TRANSACTIONS_SRC_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("store_id", T.IntegerType(), True),
        T.StructField("amount_cents", T.StringType(), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("transaction_ts", T.TimestampType(), True),
    ]
)

# --- driver testdata tables (/root/testdata/sf*/; TESTDATA.md) ---

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_testdata(spark, sf_dir: str, *tables: str):
    """Load driver testdata parquet tables as DataFrames (dict name→df)."""
    names = tables or TESTDATA_TABLES
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in names}
