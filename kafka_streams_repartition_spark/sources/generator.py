"""Streaming purchase-order generator — publisher parity (G1,
``publisher/.../Producer.java:84-138``).

The reference's publisher emits one random order per second in a Kafka
transaction. Spark-first: any tick source (the ``rate`` source, a
socket stream, a batch ``range``) supplies rows, and pure column
expressions derive deterministic-per-tick pseudo-random order fields
(xxhash64 of the tick value as the entropy source), so the stream is
reproducible given the tick sequence — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_USERS = 10_000
N_STORES = 1_000
N_PRODUCTS = 10_000
MAX_ITEMS = 3
MAX_QTY = 10


def _h(seed: int) -> F.Column:
    return F.abs(F.xxhash64(F.col("value"), F.lit(seed)))


def derive_purchase_orders(ticks: DataFrame) -> DataFrame:
    """Orders shaped like PURCHASE_ORDER_SCHEMA (prices null — the
    product join fills them, ``Producer.java:97``), derived by pure
    column expressions over a (timestamp, value) tick frame, streaming
    or batch."""
    n_items = (_h(0) % MAX_ITEMS + 1).cast("int")
    items = F.transform(
        F.sequence(F.lit(1), n_items),
        lambda i: F.struct(
            F.lpad(
                (F.abs(F.xxhash64(F.col("value"), i)) % N_PRODUCTS).cast("string"),
                10,
                "0",
            ).alias("sku"),
            (F.abs(F.xxhash64(F.col("value"), i, F.lit(1))) % MAX_QTY + 1)
            .cast("int")
            .alias("quantity"),
            F.lit(None).cast("decimal(12,2)").alias("quoted_price"),
            F.lit(None).cast("decimal(12,2)").alias("price"),
        ),
    )
    return ticks.select(
        F.col("timestamp"),
        F.concat(F.lit("AA-"), F.col("value")).alias("order_id"),
        (_h(1) % N_USERS).cast("string").alias("user_id"),
        (_h(2) % N_STORES).cast("string").alias("store_id"),
        items.alias("items"),
    )
