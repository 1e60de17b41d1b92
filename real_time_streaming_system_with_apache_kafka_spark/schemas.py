"""Canonical schemas.

``TRADE_SCHEMA`` is the single declaration of the reference's 20-column
trade-event schema (reference declares it three times: producer dict
producer.py:107-128, Postgres DDL consumer.py:37-58, pandas re-inference
dashboard.py:70-71). Generator, stream reader, and batch tables all share
this one StructType.

Star-schema StructTypes mirror the driver-provisioned parquet tables
(FIXTURES.md §2); they are declared for schema-on-read streaming sources
and validation, while plain batch reads rely on parquet's own metadata.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Reference consumer.py:37-58 (Postgres DDL) mapped to Spark types
# (SURVEY.md §1.3). Decimal preserved where the DDL is NUMERIC.
TRADE_SCHEMA = T.StructType(
    [
        T.StructField("trade_id", T.StringType(), False),
        T.StructField("asset_class", T.StringType(), False),
        T.StructField("instrument", T.StringType(), False),
        T.StructField("side", T.StringType(), False),
        T.StructField("quantity", T.DecimalType(15, 2), False),
        T.StructField("price", T.DecimalType(15, 6), False),
        T.StructField("notional_value", T.DecimalType(20, 2), False),
        T.StructField("counterparty", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("settlement_venue", T.StringType(), False),
        T.StructField("trade_date", T.DateType(), False),
        T.StructField("settlement_date", T.DateType(), False),
        T.StructField("brokerage_fee", T.DecimalType(12, 2), False),
        T.StructField("clearing_fee", T.DecimalType(12, 2), False),
        T.StructField("exchange_fee", T.DecimalType(12, 2), False),
        T.StructField("total_fees", T.DecimalType(12, 2), False),
        T.StructField("priority", T.StringType(), False),
        T.StructField("stp_eligible", T.BooleanType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("processed_by", T.StringType(), False),
    ]
)

# JSON wire form: every field is a string/number/bool in the JSON object
# (producer.py:136 json.dumps). Dates/timestamps travel as ISO-8601
# strings and are coerced on ingest (consumer.py insert coercion).
TRADE_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("trade_id", T.StringType()),
        T.StructField("asset_class", T.StringType()),
        T.StructField("instrument", T.StringType()),
        T.StructField("side", T.StringType()),
        T.StructField("quantity", T.DoubleType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("notional_value", T.DoubleType()),
        T.StructField("counterparty", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("settlement_venue", T.StringType()),
        T.StructField("trade_date", T.StringType()),
        T.StructField("settlement_date", T.StringType()),
        T.StructField("brokerage_fee", T.DoubleType()),
        T.StructField("clearing_fee", T.DoubleType()),
        T.StructField("exchange_fee", T.DoubleType()),
        T.StructField("total_fees", T.DoubleType()),
        T.StructField("priority", T.StringType()),
        T.StructField("stp_eligible", T.BooleanType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("processed_by", T.StringType()),
    ]
)

# Logical (post-load) schemas of the extension tables. NOTE: do NOT use
# these for schema-on-read of the raw parquet — read through
# sources/tables.py::load, the only supported read path. The provisioned
# events.parquet stores `ts` as microsecond TIMESTAMP with
# isAdjustedToUTC=false, which the loader reads as session-tz TIMESTAMP;
# a TIMESTAMP(NANOS) input surfaces as long and the loader converts it.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

STAR_TABLES = (
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
