"""Streaming-twin tests: batch ≡ stream equivalence, dual-sink DLQ
routing with retry envelope, per-record stateful emission, metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_avro_order_processing_spark.operators.aggregate import product_price_stats
from kafka_avro_order_processing_spark.operators.windows import running_average
from kafka_avro_order_processing_spark.sources.tables import load_table
from kafka_avro_order_processing_spark.streaming.pipeline import (
    run_streaming_product_stats,
    start_order_pipeline,
    stream_table,
)
from kafka_avro_order_processing_spark.streaming.retry import RetryHandler

SF = "/root/testdata/sf0.001"


def test_batch_stream_equivalence(spark):
    """The streaming update-mode aggregate must equal the batch groupBy
    (SURVEY.md §5 equivalence strategy)."""
    batch = product_price_stats(
        load_table(spark, SF, "events"), key="event_type", value="value"
    )
    stream = run_streaming_product_stats(spark, SF)
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s


def test_streaming_dual_sink_pipeline(spark, tmp_path):
    """foreachBatch dual-sink epoch: valid rows to one sink, enveloped
    rejects to the DLQ sink, single bounded run (T5/T7)."""
    rows = [
        ("ORD-0001", "Laptop", 999.99),
        ("ORD-0002", "Mouse", -1.0),
        (None, "Monitor", 10.0),
        ("ORD-0004", "Webcam", 49.99),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "orderId string, product string, price double") \
        .write.parquet(src)
    stream = spark.readStream.schema("orderId string, product string, price double").parquet(src)
    q = start_order_pipeline(
        stream,
        valid_sink=str(tmp_path / "valid"),
        dlq_sink=str(tmp_path / "dlq"),
        checkpoint=str(tmp_path / "chk"),
        retry_handler=RetryHandler(jitter=False, sleep=lambda _s: None),
    )
    q.awaitTermination()
    valid = spark.read.parquet(str(tmp_path / "valid"))
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert valid.count() == 2
    assert dlq.count() == 2
    assert {r["error_type"] for r in dlq.collect()} == {"PermanentError"}


def test_stateful_per_record_emission(spark):
    """applyInPandasWithState twin emits the running average after every
    record — must match the batch window form on ordered input."""
    from kafka_avro_order_processing_spark.streaming.stateful import (
        running_stats_per_record,
    )

    rows = [("Laptop", i, float(100 + i)) for i in range(1, 6)] + [
        ("Mouse", i, float(10 + i)) for i in range(1, 4)
    ]
    import tempfile
    src = tempfile.mkdtemp()
    df = spark.createDataFrame(rows, "key string, seq long, value double")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("key string, seq long, value double").parquet(src)
    out = running_stats_per_record(stream)
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("per_record_out")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["key"], r["seq"]): r["running_avg"]
        for r in spark.table("per_record_out").collect()
    }
    batch = running_average(df, key="key", value="value", order_by=("seq",))
    expected = {(r["key"], r["seq"]): r["running_avg"] for r in batch.collect()}
    assert len(got) == len(rows)
    for k, v in expected.items():
        assert got[k] == pytest.approx(v, abs=1e-9)


def test_observe_metrics(spark):
    from kafka_avro_order_processing_spark.streaming.metrics import (
        observe_order_metrics,
    )

    rows = [
        ("ORD-1", "Laptop", 10.0),
        ("ORD-2", "Mouse", -2.0),
        (None, "Monitor", 5.0),
    ]
    df = spark.createDataFrame(rows, "orderId string, product string, price double")
    observed = observe_order_metrics(df)
    observed.collect()
    # batch observe: metrics surface via the DataFrame observation API
    # (streaming path uses the listener; covered implicitly by schema)
    assert observed.count() == 3


def test_aggregated_output_stream(spark, tmp_path):
    """The reference created an `orders-aggregated` topic but never
    wrote it (scripts/setup_topics.sh:31-37, SURVEY.md §1); the engine
    implements it: per-epoch aggregate snapshots on a third sink."""
    rows = [
        ("ORD-0001", "Laptop", 100.0),
        ("ORD-0002", "Laptop", 200.0),
        ("ORD-0003", "Mouse", -1.0),   # -> DLQ, excluded from aggregates
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "orderId string, product string, price double") \
        .write.parquet(src)
    stream = spark.readStream.schema("orderId string, product string, price double").parquet(src)
    q = start_order_pipeline(
        stream,
        valid_sink=str(tmp_path / "valid"),
        dlq_sink=str(tmp_path / "dlq"),
        checkpoint=str(tmp_path / "chk"),
        aggregated_sink=str(tmp_path / "aggregated"),
    )
    q.awaitTermination()
    from kafka_avro_order_processing_spark.streaming.pipeline import (
        read_aggregated_snapshot,
    )

    snap = read_aggregated_snapshot(spark, str(tmp_path / "aggregated"))
    by_product = {r["product"]: r for r in snap.collect()}
    assert by_product["Laptop"]["order_count"] == 2
    assert by_product["Laptop"]["price_sum"] == 300.0
    assert by_product["Laptop"]["average_price"] == 150.0
    assert "Mouse" not in by_product

    # Replay idempotence: a fresh checkpoint re-processes the same
    # source (at-least-once), re-emitting epoch 0 — the epoch-partitioned
    # changelog must overwrite, not double-append, so the snapshot does
    # not double-count even though the row sinks do re-append.
    q2 = start_order_pipeline(
        spark.readStream.schema("orderId string, product string, price double").parquet(src),
        valid_sink=str(tmp_path / "valid"),
        dlq_sink=str(tmp_path / "dlq"),
        checkpoint=str(tmp_path / "chk_replay"),
        aggregated_sink=str(tmp_path / "aggregated"),
    )
    q2.awaitTermination()
    snap2 = read_aggregated_snapshot(spark, str(tmp_path / "aggregated"))
    by_product2 = {r["product"]: r for r in snap2.collect()}
    assert by_product2["Laptop"]["order_count"] == 2
    assert by_product2["Laptop"]["price_sum"] == 300.0
    # per-epoch work is O(epoch): the changelog holds partials per
    # epoch, one partition per epoch id
    agg = spark.read.parquet(str(tmp_path / "aggregated"))
    assert set(agg.columns) >= {"product", "order_count", "price_sum_dec",
                                "minimum_price", "maximum_price", "epoch_id"}


def test_update_mode_drain_folds_changelog(spark, tmp_path):
    """Update-mode drain across MULTIPLE epochs: each epoch appends
    only its changed keys; the fold must keep the latest epoch's row
    per key and equal the batch aggregate over all data."""
    from kafka_avro_order_processing_spark.operators.aggregate import (
        product_price_stats,
    )
    from kafka_avro_order_processing_spark.streaming.pipeline import drain_to_df

    src = str(tmp_path / "src")
    rows = [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    # 4 separate files -> maxFilesPerTrigger=1 forces 4 update epochs
    df.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = drain_to_df(
        product_price_stats(stream, key="event_type", value="value"),
        "update",
        key_cols=("event_type",),
    )
    want = product_price_stats(df, key="event_type", value="value")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_update_mode_drain_requires_keys(spark):
    import pytest as _pytest

    from kafka_avro_order_processing_spark.streaming.pipeline import drain_to_df

    df = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="key_cols"):
        drain_to_df(df, "update")


# --- the shared epoch writer -----------------------------------------------

_ORDER_ROWS = [
    ("ORD-0001", "Laptop", 999.99),
    ("ORD-0002", "Mouse", -1.0),
    (None, "Monitor", 10.0),
    ("ORD-0004", None, 49.99),
    ("ORD-0005", "Webcam", 0.0),
    ("ORD-0006", "Webcam", 49.99),
    ("ORD-0007", "Laptop", 1200.0),
]
_ORDER_SCHEMA = "orderId string, product string, price double"


def _order_source(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(_ORDER_ROWS, _ORDER_SCHEMA).coalesce(1).write.parquet(src)
    return src


def _sink_rows(spark, path):
    """Sink rows minus the DLQ's wall-clock ``failed_at``, sorted."""
    return sorted(map(str, spark.read.parquet(path).drop("failed_at").collect()))


def test_order_pipeline_batch_matches_stream(spark, tmp_path):
    """The batch twin and the foreachBatch body share one epoch writer:
    same counts, same valid and DLQ rows on the same input."""
    from kafka_avro_order_processing_spark.streaming.pipeline import order_pipeline_batch

    src = _order_source(spark, tmp_path)
    counts = order_pipeline_batch(
        spark.read.parquet(src), str(tmp_path / "b_valid"), str(tmp_path / "b_dlq")
    )
    q = start_order_pipeline(
        spark.readStream.schema(_ORDER_SCHEMA).parquet(src),
        valid_sink=str(tmp_path / "s_valid"),
        dlq_sink=str(tmp_path / "s_dlq"),
        checkpoint=str(tmp_path / "chk"),
    )
    q.awaitTermination()
    assert counts == (3, 4)
    for sink in ("valid", "dlq"):
        batch_rows = _sink_rows(spark, str(tmp_path / f"b_{sink}"))
        stream_rows = _sink_rows(spark, str(tmp_path / f"s_{sink}"))
        assert batch_rows == stream_rows
        assert len(batch_rows) == counts[sink == "dlq"]


def test_order_pipeline_batch_runs_only_its_two_writes(spark, tmp_path):
    """One call starts exactly two Spark jobs, its two sink writes: the
    persisted input is filled by the first write to reach it, and the
    counts come from observations on the writes.  (Counting with two
    ``count()`` actions afterwards made it six jobs.)"""
    from kafka_avro_order_processing_spark.streaming.pipeline import order_pipeline_batch

    orders = spark.read.parquet(_order_source(spark, tmp_path))  # schema job outside
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    group = f"epoch-writer-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "order_pipeline_batch job count")
    try:
        counts = order_pipeline_batch(orders, str(tmp_path / "valid"), str(tmp_path / "dlq"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == (3, 4)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert sc._jsc.getPersistentRDDs().size() == persisted


class _RecordingHandler(RetryHandler):
    """Logs, in order, each retry and each failure the envelope raises."""

    def __init__(self, events):
        super().__init__(jitter=False, sleep=lambda _s: events.append("retry"))
        self.events = events

    def execute_with_retry(self, fn, *args, **kwargs):
        try:
            return super().execute_with_retry(fn, *args, **kwargs)
        except BaseException:
            self.events.append("raise")
            raise


def _failing_dlq_write(monkeypatch, exc):
    """Make the first DLQ write raise ``exc`` at once while the valid-row
    write of the same epoch is held back, and log every write's end.  An
    epoch that ended before its slow sibling finished would log
    ``retry``/``raise`` ahead of that sibling's end."""
    import time

    from pyspark.sql.readwriter import DataFrameWriter

    events = []
    real = DataFrameWriter.parquet
    left = [1]

    def parquet(self, path, *args, **kwargs):
        sink = path.rsplit("/", 1)[-1]
        try:
            if sink == "dlq" and left[0] > 0:
                left[0] -= 1
                raise exc
            if sink == "valid":
                time.sleep(0.5)
            return real(self, path, *args, **kwargs)
        finally:
            events.append(f"end {sink}")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return events


def _run_stream(spark, tmp_path, src, handler):
    q = start_order_pipeline(
        spark.readStream.schema(_ORDER_SCHEMA).parquet(src),
        valid_sink=str(tmp_path / "valid"),
        dlq_sink=str(tmp_path / "dlq"),
        checkpoint=str(tmp_path / "chk"),
        retry_handler=handler,
        aggregated_sink=str(tmp_path / "agg"),
    )
    q.awaitTermination()


def test_epoch_writer_retries_after_every_write_ended(spark, tmp_path, monkeypatch):
    """A retryable sink failure is retried by the RetryHandler envelope,
    and the retry starts only after every write of the failed attempt
    has ended."""
    from kafka_avro_order_processing_spark.streaming.pipeline import read_aggregated_snapshot
    from kafka_avro_order_processing_spark.streaming.retry import RetryableError

    src = _order_source(spark, tmp_path)
    events = _failing_dlq_write(monkeypatch, RetryableError("sink timeout"))
    _run_stream(spark, tmp_path, src, _RecordingHandler(events))
    first = events[: events.index("retry")]
    assert sorted(first) == ["end agg", "end dlq", "end valid"]
    assert events.count("retry") == 1 and "raise" not in events
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 4
    # the replayed epoch overwrites its changelog partition
    snap = {r["product"]: r["order_count"]
            for r in read_aggregated_snapshot(spark, str(tmp_path / "agg")).collect()}
    assert snap == {"Laptop": 2, "Webcam": 1}


def test_epoch_writer_permanent_failure_after_every_write_ended(spark, tmp_path, monkeypatch):
    """A permanent sink failure surfaces as PermanentError without a
    retry, and only after every write of the epoch has ended."""
    from pyspark.errors import StreamingQueryException

    src = _order_source(spark, tmp_path)
    events = _failing_dlq_write(monkeypatch, OSError("sink rejected the write"))
    with pytest.raises(StreamingQueryException, match="PermanentError"):
        _run_stream(spark, tmp_path, src, _RecordingHandler(events))
    assert sorted(events[: events.index("raise")]) == ["end agg", "end dlq", "end valid"]
    assert "retry" not in events


def test_aggregated_snapshot_rejects_another_schema(spark, tmp_path):
    """The snapshot reads the changelog with the partials' known schema;
    a changelog written with another schema must fail, not fold NULLs."""
    from kafka_avro_order_processing_spark.streaming.pipeline import read_aggregated_snapshot

    wrong_type = str(tmp_path / "wrong_type")
    spark.createDataFrame(
        [("Laptop", 1, 10.0, 10.0, 10.0, 0)],
        "product string, order_count bigint, price_sum_dec double, "
        "minimum_price double, maximum_price double, epoch_id int",
    ).write.partitionBy("epoch_id").parquet(wrong_type)
    with pytest.raises(Exception, match="(?i)parquet|decimal|convert"):
        read_aggregated_snapshot(spark, wrong_type).collect()

    missing = str(tmp_path / "missing")
    spark.createDataFrame(
        [("Laptop", 1, 10.0, 10.0, 0)],
        "product string, order_count bigint, "
        "minimum_price double, maximum_price double, epoch_id int",
    ).write.partitionBy("epoch_id").parquet(missing)
    with pytest.raises(Exception, match="not written with the schema"):
        read_aggregated_snapshot(spark, missing).collect()

    other_key = str(tmp_path / "other_key")
    spark.createDataFrame(
        [("purchase", 1, 10.0, 10.0, 10.0, 0)],
        "event_type string, order_count bigint, price_sum_dec double, "
        "minimum_price double, maximum_price double, epoch_id int",
    ).selectExpr("event_type", "order_count", "cast(price_sum_dec as decimal(28,2)) price_sum_dec",
                 "minimum_price", "maximum_price", "epoch_id"
    ).write.partitionBy("epoch_id").parquet(other_key)
    with pytest.raises(Exception, match="not written with the schema"):
        read_aggregated_snapshot(spark, other_key).collect()


@pytest.mark.parametrize("price, shown", [
    ("NaN", "NaN"), ("Infinity", "Infinity"), ("-Infinity", "-Infinity"),
])
def test_non_finite_price_takes_the_dlq_branch(spark, price, shown):
    """A JSON NaN or infinite price decodes to a double; it is rejected,
    where the reference's ``price <= 0`` check would pass a NaN."""
    from kafka_avro_order_processing_spark.operators.validate import split_valid_invalid
    from kafka_avro_order_processing_spark.sources.serde import orders_from_json

    wire = spark.createDataFrame([
        ('{"orderId":"ORD-1","product":"Mouse","price":%s,"timestamp":1}' % price,),
        ('{"orderId":"ORD-2","product":"Mouse","price":9.5,"timestamp":1}',),
    ], "value string")
    valid, invalid = split_valid_invalid(orders_from_json(wire))
    assert [r["orderId"] for r in valid.collect()] == ["ORD-2"]
    assert [(r["orderId"], r["error_message"]) for r in invalid.collect()] == [
        ("ORD-1", f"Invalid price: {shown}")
    ]
