"""Serde round-trips (JSON + fallback Avro binary + Confluent framing)
and synthetic-generator contract tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kafka_avro_order_processing_spark.sources.generator import (
    PRODUCT_PRICE_RANGES,
    gen_orders,
)
from kafka_avro_order_processing_spark.sources.serde import (
    avro_decode_order,
    avro_encode_order,
    orders_from_json,
    orders_to_json,
    spark_avro_available,
    orders_to_avro,
    orders_from_avro,
)


def test_generator_contract(spark):
    df = gen_orders(spark, 200).cache()
    rows = df.collect()
    assert len(rows) == 200
    assert rows[0]["orderId"].startswith("ORD-")
    # deterministic: same seed -> same data
    again = gen_orders(spark, 200).collect()
    assert [tuple(r) [:3] for r in rows] == [tuple(r)[:3] for r in again]
    # prices respect the per-product ranges
    for r in rows:
        lo, hi = PRODUCT_PRICE_RANGES[r["product"]]
        assert lo - 0.005 <= r["price"] <= hi + 0.005
        assert round(r["price"], 2) == r["price"]
    # coverage: all 10 products appear in 200 draws
    assert {r["product"] for r in rows} == set(PRODUCT_PRICE_RANGES)


def test_json_round_trip(spark):
    orders = gen_orders(spark, 50)
    wire = orders_to_json(orders)
    assert wire.columns == ["key", "value"]
    sample = json.loads(wire.collect()[0]["value"])
    assert set(sample) == {"orderId", "product", "price", "timestamp"}
    back = orders_from_json(wire)
    assert back.filter(F.col("corrupt_record").isNotNull()).count() == 0
    a = sorted((r["orderId"], r["product"], r["price"]) for r in orders.collect())
    b = sorted((r["orderId"], r["product"], r["price"]) for r in back.collect())
    assert a == b


def test_json_corrupt_capture(spark):
    bad = spark.createDataFrame(
        [('{"orderId": "ORD-1", "product": "Mouse", "price": 9.99, "timestamp": 1}',),
         ("not json at all",)],
        "value string",
    )
    parsed = orders_from_json(bad)
    ok = parsed.filter(F.col("corrupt_record").isNull())
    corrupt = parsed.filter(F.col("corrupt_record").isNotNull())
    assert ok.count() == 1 and corrupt.count() == 1


def test_avro_binary_codec_round_trip():
    order = {"orderId": "ORD-0042", "product": "Laptop", "price": 999.99, "timestamp": 1700000000000}
    enc = avro_encode_order(order)
    dec = avro_decode_order(enc)
    assert dec["orderId"] == order["orderId"]
    assert dec["product"] == order["product"]
    assert abs(dec["price"] - order["price"]) < 1e-3  # float32 wire
    assert dec["timestamp"] == order["timestamp"]
    # negative zigzag path
    assert avro_decode_order(avro_encode_order({**order, "timestamp": -5}))["timestamp"] == -5


def test_avro_dataframe_round_trip(spark):
    # exercises spark-avro when present, the mapInPandas fallback otherwise
    orders = gen_orders(spark, 20)
    wire = orders_to_avro(orders)
    assert set(wire.columns) == {"key", "value"}
    back = orders_from_avro(wire)
    a = sorted((r["orderId"], r["product"]) for r in orders.collect())
    b = sorted((r["orderId"], r["product"]) for r in back.collect())
    assert a == b
    # prices survive within float32 wire precision
    pa = {r["orderId"]: r["price"] for r in orders.collect()}
    for r in back.collect():
        assert abs(pa[r["orderId"]] - r["price"]) < 1e-2


def test_confluent_unwrap(spark):
    from kafka_avro_order_processing_spark.sources.serde import confluent_unwrap

    payload = avro_encode_order(
        {"orderId": "ORD-1", "product": "Mouse", "price": 9.99, "timestamp": 1}
    )
    framed = b"\x00\x00\x00\x00\x07" + payload  # magic 0 + schema id 7
    df = spark.createDataFrame([(bytearray(framed),)], "value binary")
    bare = df.select(confluent_unwrap(F.col("value")).alias("value"))
    got = bytes(bare.collect()[0]["value"])
    assert got == payload


def test_confluent_framed_avro_end_to_end(spark):
    """The full wire path the reference implements with librdkafka +
    Schema Registry: orders -> Avro binary + Confluent 5-byte frame ->
    unwrap -> decode -> validate -> aggregate."""
    from pyspark.sql import functions as F

    from kafka_avro_order_processing_spark.operators.aggregate import (
        product_price_stats,
    )
    from kafka_avro_order_processing_spark.operators.validate import (
        split_valid_invalid,
    )
    from kafka_avro_order_processing_spark.sources.serde import confluent_unwrap

    orders = gen_orders(spark, 40)
    wire = orders_to_avro(orders)
    # frame like the registry producer: magic 0 + 4-byte schema id
    framed = wire.select(
        "key",
        F.concat(F.lit(bytearray(b"\x00\x00\x00\x00\x2a")), F.col("value")).alias("value"),
    )
    decoded = orders_from_avro(
        framed.select(confluent_unwrap(F.col("value")).alias("value"))
    )
    valid, invalid = split_valid_invalid(decoded)
    assert invalid.count() == 0
    stats = product_price_stats(valid)
    # counts survive the round trip exactly; prices within f32 wire precision
    orig = {r["product"]: r["order_count"] for r in product_price_stats(orders).collect()}
    got = {r["product"]: r["order_count"] for r in stats.collect()}
    assert got == orig
    orig_sum = {r["product"]: r["price_sum"] for r in product_price_stats(orders).collect()}
    for r in stats.collect():
        assert abs(r["price_sum"] - orig_sum[r["product"]]) < 0.05


def test_datasource_bit_identical_to_expression_generator(spark):
    """The Python DataSource path and the column-expression path must
    produce the SAME rows — one generator contract, two surfaces."""
    from kafka_avro_order_processing_spark.sources.generator import gen_orders
    from kafka_avro_order_processing_spark.sources.order_datasource import register

    register(spark)
    via_ds = sorted(
        tuple(r)
        for r in spark.read.format("kaop_orders")
        .option("n", 257)
        .option("numPartitions", 5)
        .load()
        .collect()
    )
    via_expr = sorted(
        tuple(r)
        for r in gen_orders(spark, 257).select("orderId", "product", "price").collect()
    )
    assert via_ds == via_expr


def test_datasource_partitions_cover_range_exactly(spark):
    """Partition math: no dropped or duplicated ids at awkward
    n/numPartitions combinations."""
    from kafka_avro_order_processing_spark.sources.order_datasource import register

    register(spark)
    for n, p in ((1, 8), (7, 3), (100, 7)):
        ids = [
            r["orderId"]
            for r in spark.read.format("kaop_orders")
            .option("n", n)
            .option("numPartitions", p)
            .load()
            .collect()
        ]
        assert sorted(ids) == sorted(f"ORD-{i:04d}" for i in range(n)), (n, p)


def test_datasource_stream_drains_to_batch_rows(spark):
    """readStream through the custom source, drained availableNow, must
    equal the batch read — offset-as-next-id makes replay deterministic."""
    import tempfile
    import uuid

    from kafka_avro_order_processing_spark.sources.order_datasource import register

    register(spark)
    base = tempfile.mkdtemp(prefix=f"dssrc_{uuid.uuid4().hex[:8]}_")
    sink, chk = f"{base}/sink", f"{base}/chk"
    # Python micro-batch sources don't support availableNow (Spark
    # falls back to ONE batch); drain with processAllAvailable —
    # bounded because reads past n return no rows and a fixed offset.
    q = (
        spark.readStream.format("kaop_orders")
        .option("n", 230)
        .option("rowsPerBatch", 100)  # 3 micro-batches: 100/100/30
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    want = sorted(
        tuple(r)
        for r in spark.read.format("kaop_orders").option("n", 230).load().collect()
    )
    assert got == want and len(got) == 230


def test_datasource_stream_is_partitioned(spark):
    """The generator's stream reader is the partitioned form: one
    micro-batch's id range fans out over numPartitions executor
    chunks (rows never funnel through a driver-side list)."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from kafka_avro_order_processing_spark.sources.order_datasource import register

    register(spark)
    base = tempfile.mkdtemp(prefix=f"dsspart_{uuid.uuid4().hex[:8]}_")
    seen = {"pids": set(), "rows": 0}

    def body(df, _eid):
        pids = [r[0] for r in df.select(F.spark_partition_id()).collect()]
        seen["pids"].update(pids)
        seen["rows"] += len(pids)

    q = (
        spark.readStream.format("kaop_orders")
        .option("n", 120)
        .option("rowsPerBatch", 120)  # one batch...
        .option("numPartitions", 4)   # ...across four executor chunks
        .load()
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", f"{base}/chk")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["rows"] == 120
    assert len(seen["pids"]) == 4  # executor-parallel id ranges


def _orders_digest(df) -> str:
    import hashlib

    rows = sorted(tuple(r) for r in df.select("orderId", "product", "price").collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def test_generator_honours_seed(spark):
    """``seed`` reaches the draws: another seed gives other orders, while
    the default seed's output (the registered generated_orders and its
    DuckDB oracle) stays byte-for-byte what it was."""
    default = _orders_digest(gen_orders(spark, 1000))
    assert default == "67b874e09927aa4a27f07ca649da9dbb9e00be7bf6f63a02a9e1d05fb80f7f70"
    assert _orders_digest(gen_orders(spark, 1000, seed="kaop")) == default
    a = gen_orders(spark, 200, seed="a").collect()
    b = gen_orders(spark, 200, seed="b").collect()
    assert [r["orderId"] for r in a] == [r["orderId"] for r in b]
    assert [(r["product"], r["price"]) for r in a] != [(r["product"], r["price"]) for r in b]
    again = gen_orders(spark, 200, seed="a").collect()
    assert [(r["product"], r["price"]) for r in again] == [(r["product"], r["price"]) for r in a]


def test_generator_stream_honours_seed():
    """The rate-source twin passes its seed to the same draws."""
    from unittest import mock

    from kafka_avro_order_processing_spark.sources import generator

    spark = mock.MagicMock()
    with mock.patch.object(generator, "order_columns", return_value=[]) as cols:
        generator.gen_orders_stream(spark, seed="s7")
    assert cols.call_args.args[1] == "s7"


def test_avro_encoder_rejects_null_required_fields(spark):
    """ORDER_AVSC declares all four fields non-null: a null field raises
    instead of being written as the string "None" (which decoded as an
    11th product and passed validation)."""
    import pytest

    order = {"orderId": "ORD-1", "product": "Mouse", "price": 9.99, "timestamp": 1}
    for fld in ("orderId", "product", "price", "timestamp"):
        with pytest.raises(ValueError, match=fld):
            avro_encode_order({**order, fld: None})
    if spark_avro_available(spark):
        return
    # the DataFrame fallback rejects it too, nulls of numeric columns included
    for fld, typ in (("product", "string"), ("price", "double")):
        df = spark.createDataFrame([("ORD-1", "Mouse", 9.99, 1)],
                                   "orderId string, product string, price double, timestamp long")
        df = df.withColumn(fld, F.lit(None).cast(typ))
        with pytest.raises(Exception, match="ValueError"):
            orders_to_avro(df).collect()
