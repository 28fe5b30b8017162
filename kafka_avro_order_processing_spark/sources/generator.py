"""Synthetic order generator (SURVEY.md §2.1 S1-S3).

Distributed re-expression of the reference's driver-side loop
(/root/reference/src/producer/kafka_order_producer.py:72-108): instead
of one Python process emitting dicts, the generator is a Spark plan over
``spark.range(n)`` (batch) or the rate source (streaming) — the same
column expressions in both, so it scales to any row count with zero
Python in the loop.

Determinism: tests need reproducible orders, so the "random" product and
price derive from a hash of the row id rather than rand(seed) (rand is
partitioning-dependent; a hash of the id is not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import format_order_id

# Product catalog with per-product price ranges
# (/root/reference/src/producer/kafka_order_producer.py:79-95).
PRODUCT_PRICE_RANGES: dict[str, tuple[float, float]] = {
    "Laptop": (799.99, 1999.99),
    "Mouse": (19.99, 79.99),
    "Keyboard": (39.99, 149.99),
    "Monitor": (199.99, 799.99),
    "Headphones": (49.99, 299.99),
    "Webcam": (39.99, 149.99),
    "USB Cable": (5.99, 19.99),
    "External Drive": (59.99, 249.99),
    "Mouse Pad": (9.99, 39.99),
    "Docking Station": (99.99, 299.99),
}
PRODUCTS = list(PRODUCT_PRICE_RANGES)


def _unit_hash(col: Column, salt: str) -> Column:
    """Deterministic pseudo-uniform double in [0,1) from a row id:
    first 13 hex digits of md5(salt||id) / 16^13."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 13), 16, 10)
    return h.cast("double") / F.lit(float(16 ** 13))


def order_columns(id_col: Column, seed: str = "kaop") -> list[Column]:
    """The four order columns from a numeric id column."""
    u_prod = _unit_hash(id_col, seed + ":product")
    u_price = _unit_hash(id_col, seed + ":price")
    prod_idx = (u_prod * F.lit(len(PRODUCTS))).cast("int") + F.lit(1)
    products_arr = F.array(*[F.lit(p) for p in PRODUCTS])
    mins_arr = F.array(*[F.lit(lo) for lo, _ in PRODUCT_PRICE_RANGES.values()])
    maxs_arr = F.array(*[F.lit(hi) for _, hi in PRODUCT_PRICE_RANGES.values()])
    lo = F.element_at(mins_arr, prod_idx)
    hi = F.element_at(maxs_arr, prod_idx)
    return [
        format_order_id(id_col).alias("orderId"),
        F.element_at(products_arr, prod_idx).alias("product"),
        F.round(lo + u_price * (hi - lo), 2).alias("price"),
        F.unix_millis(F.current_timestamp()).alias("timestamp"),
    ]


def gen_orders(spark: SparkSession, n: int, seed: str = "kaop", partitions: int | None = None) -> DataFrame:
    """Batch twin of produce_batch (kafka_order_producer.py:130-157):
    n synthetic orders as a distributed DataFrame."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    return rng.select(order_columns(F.col("id"), seed))


def gen_orders_stream(spark: SparkSession, rows_per_second: int = 2, seed: str = "kaop") -> DataFrame:
    """Streaming twin (S3): rate source at the demo's offered load
    (~2 msg/s, kafka_order_producer.py:171-174) through the same exprs."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return rate.select(order_columns(F.col("value"), seed) + [F.col("timestamp").alias("event_time")])
