"""Explicit schemas for every declared shape in the reference pipeline.

Kafka/Event Hubs values are opaque bytes, so the order schema is never
inferred (reference: orders-generator/main.go:104-108 fixes it in the
producer struct; README.md:47-53 shows the wire JSON).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Stream schema — reference orders-generator/main.go:104-108:
#   OrderID string / CustomerID int / Amount int, JSON field tags
#   orderID / customerID / amount.
ORDER_SCHEMA = T.StructType(
    [
        T.StructField("orderID", T.StringType(), False),
        T.StructField("customerID", T.IntegerType(), False),
        T.StructField("amount", T.IntegerType(), False),
    ]
)

# Reference table schema — reference customers.sql:4-8:
#   cust_id INT NOT NULL PRIMARY KEY, cust_name NVARCHAR(30), city NVARCHAR(20).
CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("cust_id", T.IntegerType(), False),
        T.StructField("cust_name", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
    ]
)

# Sink document schema — reference README.md:112-125. ``customer_id`` is a
# STRING in the sink even though it is int on the wire (README.md:114 shows
# "customer_id": "8512") — the coercion is part of the declared semantics.
ENRICHED_ORDER_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("purchase_amount", T.IntegerType(), False),
        T.StructField("customer_name", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("id", T.StringType(), False),  # fresh GUID per doc (README.md:118)
    ]
)

# Driver testdata tables (TESTDATA.md): TPC-H-ish star schema + events +
# documents + embeddings, one parquet per table.
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

