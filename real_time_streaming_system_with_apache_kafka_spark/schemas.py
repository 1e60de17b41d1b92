"""Canonical schemas.

``TRADE_SCHEMA`` is the single declaration of the reference's 20-column
trade-event schema (reference declares it three times: producer dict
producer.py:107-128, Postgres DDL consumer.py:37-58, pandas re-inference
dashboard.py:70-71). Generator, stream reader, and batch tables all share
this one StructType.

``STAR_TABLES`` names the driver-provisioned parquet tables (FIXTURES.md
§2). They declare no StructType here: the batch loader
(``sources/tables.py``) reads each table's schema from its parquet footer.
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
