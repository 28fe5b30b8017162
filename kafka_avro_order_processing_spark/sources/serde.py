"""Order serde: JSON and Avro encode/decode (SURVEY.md §2.8 F1-F4).

The reference declares an Avro contract (/root/reference/schemas/
order.avsc:1-29) but actually writes JSON on the wire
(/root/reference/src/producer/kafka_order_producer.py:4-5,117) — so the
engine supports both paths:

- JSON: ``to_json(struct(*))`` / ``from_json`` with PERMISSIVE corrupt-
  record capture (P6, the DLQ-monitor's undecodable-payload filter at
  /root/reference/src/consumer/dead_letter_queue_consumer.py:125-128).
- Avro: ``pyspark.sql.avro.functions.from_avro/to_avro`` when the
  spark-avro module is on the classpath; otherwise a pure-Python
  Arrow-batched codec for the (flat) order record implementing the
  public Avro binary spec (zigzag varints, length-prefixed strings,
  float32 LE) — semantics identical, used by tests in jar-less
  environments.
- Confluent wire format: registry-framed messages carry a 5-byte header
  (magic 0 + schema id) before the Avro body; ``confluent_unwrap``
  strips it (SURVEY.md §2.8 F3).
"""

from __future__ import annotations

import io
import json
import struct as _struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Avro schema for the order record (re-declaration of the reference
#: contract /root/reference/schemas/order.avsc:1-29).
ORDER_AVSC: str = json.dumps(
    {
        "type": "record",
        "name": "Order",
        "namespace": "com.example.orders",
        "fields": [
            {"name": "orderId", "type": "string"},
            {"name": "product", "type": "string"},
            {"name": "price", "type": "float"},
            {"name": "timestamp", "type": "long", "logicalType": "timestamp-millis"},
        ],
    }
)

ORDER_SCHEMA = T.StructType(
    [
        T.StructField("orderId", T.StringType()),
        T.StructField("product", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("timestamp", T.LongType()),
    ]
)

ORDER_COLS = ("orderId", "product", "price", "timestamp")


# --- JSON ------------------------------------------------------------------

def orders_to_json(df: DataFrame) -> DataFrame:
    """F1: (key, value) JSON wire rows — key=orderId like the producer
    (kafka_order_producer.py:117-121)."""
    return df.select(
        F.col("orderId").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in ORDER_COLS])).alias("value"),
    )


def orders_from_json(df: DataFrame, value_col: str = "value") -> DataFrame:
    """F2 + P6: permissive JSON decode; undecodable payloads surface as
    a NULL struct alongside ``corrupt_record`` for DLQ routing."""
    schema = T.StructType(ORDER_SCHEMA.fields + [T.StructField("_corrupt", T.StringType())])
    parsed = df.withColumn(
        "o",
        F.from_json(
            F.col(value_col),
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    return parsed.select(
        F.col("o.orderId").alias("orderId"),
        F.col("o.product").alias("product"),
        F.col("o.price").alias("price"),
        F.col("o.timestamp").alias("timestamp"),
        F.col("o._corrupt").alias("corrupt_record"),
    )


# --- Avro ------------------------------------------------------------------

def spark_avro_available(spark) -> bool:
    """True if the spark-avro module is usable in this session."""
    try:
        from pyspark.sql.avro.functions import from_avro  # noqa: F401

        df = spark.range(1).select(F.lit(bytearray(b"")).alias("v"))
        from pyspark.sql.avro.functions import from_avro as fa

        df.select(fa(F.col("v"), ORDER_AVSC)).schema  # forces jar resolution
        return True
    except Exception:
        return False


def orders_to_avro(df: DataFrame, spark=None) -> DataFrame:
    """F4: order struct -> Avro binary `value` column; spark-avro when
    available, pure-Python codec otherwise."""
    spark = spark or df.sparkSession
    if spark_avro_available(spark):
        from pyspark.sql.avro.functions import to_avro

        return df.select(
            F.col("orderId").alias("key"),
            to_avro(F.struct(*[F.col(c) for c in ORDER_COLS]), ORDER_AVSC).alias("value"),
        )
    return _avro_encode_fallback(df)


def orders_from_avro(df: DataFrame, value_col: str = "value", spark=None) -> DataFrame:
    """F3: Avro binary -> order columns."""
    spark = spark or df.sparkSession
    if spark_avro_available(spark):
        from pyspark.sql.avro.functions import from_avro

        out = df.select(from_avro(F.col(value_col), ORDER_AVSC).alias("o"))
        return out.select(
            "o.orderId", "o.product",
            F.col("o.price").cast("double").alias("price"),  # float32 wire -> compute in f64
            "o.timestamp",
        )
    return _avro_decode_fallback(df, value_col)


def confluent_unwrap(value: Column | str) -> Column:
    """Strip the Confluent Schema Registry frame (1-byte magic 0 +
    4-byte schema id) from a Kafka value, leaving the bare Avro body."""
    c = F.col(value) if isinstance(value, str) else value
    return F.substring(c, 6, F.length(c) - 5)


# Pure-Python Avro binary codec for the flat order record (public Avro
# 1.x binary encoding: zigzag-varint longs, utf8 length-prefixed
# strings, IEEE754 float32 LE).  Arrow-batched via mapInPandas — the
# jar-less fallback, not the production path.

def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def avro_encode_order(order: dict) -> bytes:
    """One order record in Avro binary.  ``ORDER_AVSC`` declares every
    field non-null, so a null field raises ``ValueError``, as spark-avro's
    ``to_avro`` fails on it, instead of being written as the string
    ``"None"`` and decoding as a valid value."""
    for fld in ORDER_COLS:
        if order.get(fld) is None:
            raise ValueError(f"order field {fld!r} is null; ORDER_AVSC declares it non-null")
    out = bytearray()
    for fld in ("orderId", "product"):
        s = str(order[fld]).encode("utf-8")
        out += _zigzag_encode(len(s)) + s
    out += _struct.pack("<f", float(order["price"]))
    out += _zigzag_encode(int(order["timestamp"]))
    return bytes(out)


def avro_decode_order(payload: bytes) -> dict:
    buf = io.BytesIO(payload)
    out = {}
    for fld in ("orderId", "product"):
        ln = _zigzag_decode(buf)
        out[fld] = buf.read(ln).decode("utf-8")
    out["price"] = _struct.unpack("<f", buf.read(4))[0]
    out["timestamp"] = _zigzag_decode(buf)
    return out


def _avro_encode_fallback(df: DataFrame) -> DataFrame:
    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Arrow hands a null number over as NaN: map it back to None
            # so that the encoder rejects it (a NaN price is rejected too).
            rows = pdf[list(ORDER_COLS)].astype(object)
            rows = rows.where(rows.notna(), None)
            yield pd.DataFrame(
                {
                    "key": pdf["orderId"],
                    "value": [avro_encode_order(row) for row in rows.to_dict("records")],
                }
            )

    return df.mapInPandas(enc, schema="key string, value binary")


def _avro_decode_fallback(df: DataFrame, value_col: str) -> DataFrame:
    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [avro_decode_order(bytes(v)) for v in pdf[value_col]]
            out = pd.DataFrame(rows, columns=list(ORDER_COLS))
            # float32 wire value widened to float64 for compute (§1)
            out["price"] = out["price"].astype("float64")
            yield out

    return df.mapInPandas(
        dec, schema="orderId string, product string, price double, timestamp long"
    )
