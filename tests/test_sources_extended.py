"""Source-edge coverage: the rate-source streaming generator (S3) and
schema-evolution reads (a training-data lake reality)."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from kafka_avro_order_processing_spark.sources.generator import (
    PRODUCT_PRICE_RANGES,
    gen_orders_stream,
)


def test_rate_source_generator_stream(spark, tmp_path):
    """S3: the rate-source twin emits well-formed orders at the offered
    load (the reference's ~2 msg/s demo, kafka_order_producer.py:171-174)."""
    stream = gen_orders_stream(spark, rows_per_second=50)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_orders")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        deadline = time.time() + 15
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table("rate_orders").count() >= 5:
                break
            time.sleep(0.3)
        rows = spark.table("rate_orders").collect()
        assert len(rows) >= 5
        for r in rows:
            assert r["orderId"].startswith("ORD-")
            lo, hi = PRODUCT_PRICE_RANGES[r["product"]]
            assert lo - 0.005 <= r["price"] <= hi + 0.005
    finally:
        q.stop()


def test_schema_evolution_merge(spark, tmp_path):
    """mergeSchema read over a dataset whose later files added a column:
    old rows surface NULL for the new column — the additive-evolution
    contract a long-lived 100 TB corpus depends on."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame(
        [("ORD-1", "Laptop", 10.0)], "orderId string, product string, price double"
    ).write.mode("append").parquet(p)
    spark.createDataFrame(
        [("ORD-2", "Mouse", 20.0, "EU")],
        "orderId string, product string, price double, region string",
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"orderId", "product", "price", "region"}
    rows = {r["orderId"]: r for r in merged.collect()}
    assert rows["ORD-1"]["region"] is None
    assert rows["ORD-2"]["region"] == "EU"
    # aggregation over the union still works with null-safe handling
    n = merged.filter(F.col("region").isNull()).count()
    assert n == 1


def test_binary_file_source_reads_assets(spark, tmp_path):
    """binaryFile ingestion: one row per asset, metadata + content
    intact, glob pruning at listing time, nested dirs walked."""
    from kafka_avro_order_processing_spark.sources.files import read_binary_files

    (tmp_path / "nested").mkdir()
    payloads = {
        "a.jpg": b"\xff\xd8\xff\xe0fakejpeg",
        "b.png": b"\x89PNG\r\nfakepng",
        "nested/c.jpg": b"\xff\xd8\xff\xe1deep",
        "skip.txt": b"not an image",
    }
    for rel, data in payloads.items():
        (tmp_path / rel).write_bytes(data)

    df = read_binary_files(spark, str(tmp_path), glob="*.jpg")
    rows = {r["file_name"]: r for r in df.collect()}
    assert set(rows) == {"a.jpg", "c.jpg"}
    assert bytes(rows["a.jpg"]["content"]) == payloads["a.jpg"]
    assert rows["c.jpg"]["length"] == len(payloads["nested/c.jpg"])
    assert rows["a.jpg"]["extension"] == "jpg"

    all_rows = read_binary_files(spark, str(tmp_path)).collect()
    assert len(all_rows) == 4


def test_binary_source_feeds_multimodal_metadata(spark, tmp_path):
    """The ingestion contract: binaryFile rows slot straight into the
    multimodal metadata operator (magic-byte sniff without Python)."""
    from kafka_avro_order_processing_spark.operators.multimodal import payload_metadata
    from kafka_avro_order_processing_spark.sources.files import read_binary_files

    (tmp_path / "x.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 16)
    (tmp_path / "y.png").write_bytes(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    src = read_binary_files(spark, str(tmp_path)).select(
        F.col("file_name").alias("doc_id"), F.col("content").alias("payload")
    )
    meta = {r["doc_id"]: r for r in payload_metadata(src).collect()}
    assert meta["x.jpg"]["mime"] == "image/jpeg"
    assert meta["y.png"]["mime"] == "image/png"


def test_compact_parquet_shrinks_small_files(spark, tmp_path):
    from kafka_avro_order_processing_spark.sources.files import compact_parquet

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.range(10_000).repartition(64).write.parquet(src)
    stats = compact_parquet(spark, src, dst, target_file_bytes=10**9)
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1
    assert stats["rows"] == 10_000
    got = {r["id"] for r in spark.read.parquet(dst).collect()}
    assert got == set(range(10_000))


def test_directory_table_schema_follows_rewritten_part_file(spark, tmp_path):
    """Rewriting a directory table's part file in place leaves the
    directory's own stat unchanged; the cached schema must still follow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_avro_order_processing_spark.sources.tables import load_table

    table_dir = tmp_path / "orders.parquet"
    table_dir.mkdir()
    part = table_dir / "part-00000.parquet"
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), part)
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]

    dir_stat = os.stat(table_dir)
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_comment": ["a", "b"]}), part)
    assert (os.stat(table_dir).st_mtime_ns, os.stat(table_dir).st_size) == (
        dir_stat.st_mtime_ns, dir_stat.st_size)
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_comment"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
