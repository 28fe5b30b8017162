"""Validation, valid/invalid stream split, and DLQ envelope.

Re-expresses the reference's exception-driven routing
(/root/reference/src/consumer/avro_order_consumer.py:88-149, operators
P1-P4 / T7 / T8 in SURVEY.md) as predicate splits: two filters over one
parsed DataFrame instead of try/except per record.  Both branches reuse
the same scan (Catalyst caches the common subplan inside one
foreachBatch epoch in streaming; in batch the scan is cheap and pushed
down).

One departure from the reference: its ``price <= 0`` check (SURVEY.md
P2) lets a NaN price through, since every comparison with NaN is false
in Python, and Spark orders NaN above every number, so ``NaN > 0`` is
true here too.  A JSON ``NaN`` or ``Infinity`` decodes to a double
(``orders_from_json``), and one such row would poison every per-product
sum it reaches.  So a NaN or infinite price is invalid and takes the DLQ
branch as ``Invalid price: NaN`` / ``Invalid price: Infinity``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validity_predicate(
    key: str = "product", value: str = "price", id_col: str | None = "orderId"
) -> Column:
    """P1+P2: required fields present and price strictly positive and
    finite (reference src/consumer/avro_order_consumer.py:99-103)."""
    price = F.col(value)
    pred = (
        F.col(key).isNotNull()
        & price.isNotNull()
        & (price > 0)
        & ~F.isnan(price)
        & (price < F.lit(float("inf")))
    )
    if id_col is not None:
        pred = pred & F.col(id_col).isNotNull()
    return pred


def error_message_for(
    key: str = "product", value: str = "price", id_col: str | None = "orderId"
) -> Column:
    """Deterministic error message matching the reference's ValueError
    texts (avro_order_consumer.py:100,103)."""
    missing = F.col(key).isNull() | F.col(value).isNull()
    if id_col is not None:
        missing = missing | F.col(id_col).isNull()
    return F.when(
        missing, F.lit("Missing required fields in order data")
    ).otherwise(
        F.concat(F.lit("Invalid price: "), F.col(value).cast("string"))
    )


def split_valid_invalid(
    df: DataFrame,
    key: str = "product",
    value: str = "price",
    id_col: str | None = "orderId",
) -> tuple[DataFrame, DataFrame]:
    """P3: one parsed stream -> (valid, invalid-with-error-columns)."""
    pred = validity_predicate(key, value, id_col)
    valid = df.filter(pred)
    invalid = df.filter(~pred | pred.isNull()).withColumn(
        "error_message", error_message_for(key, value, id_col)
    )
    return valid, invalid


def dlq_envelope(
    invalid: DataFrame,
    source_topic: str = "orders",
    consumer_group: str = "order-processor-group",
    retry_count: int = 0,
    error_type: str = "PermanentError",
) -> DataFrame:
    """T7/P4: wrap failed records in the DLQ envelope
    (/root/reference/src/consumer/avro_order_consumer.py:123-134).

    Kafka-source metadata columns (topic/partition/offset/key/timestamp)
    are used when present; parquet-sourced test data gets deterministic
    substitutes (partition/offset unknown -> nulls).
    """
    cols = set(invalid.columns)
    payload_cols = [c for c in invalid.columns if c not in {
        "topic", "partition", "offset", "key", "timestamp", "error_message"
    }]
    env = invalid.select(
        (F.col("topic") if "topic" in cols else F.lit(source_topic)).alias("original_topic"),
        (F.col("partition") if "partition" in cols else F.lit(None).cast("int")).alias("original_partition"),
        (F.col("offset") if "offset" in cols else F.lit(None).cast("long")).alias("original_offset"),
        (F.col("key").cast("string") if "key" in cols else F.lit(None).cast("string")).alias("original_key"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("original_value"),
        F.col("error_message"),
        # Validation failures are deterministic data errors — always the
        # reference's PermanentError path (avro_order_consumer.py:99-103
        # raises ValueError -> permanent).  Do NOT pattern-classify the
        # message here: a price like -429.95 contains '429' and would
        # misclassify as retryable.  classify_error (T8) is for
        # *exception* messages from the retry path, applied by callers
        # that capture real exceptions.
        F.lit(error_type).alias("error_type"),
        F.lit(retry_count).alias("retry_count"),
        F.unix_millis(F.current_timestamp()).alias("failed_at"),
        F.lit(consumer_group).alias("consumer_group"),
    )
    return env
