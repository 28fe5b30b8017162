"""Structured Streaming twins of the batch operators.

The reference's EP2 consumer loop (/root/reference/src/consumer/
avro_order_consumer.py:151-208: poll -> decode -> validate -> aggregate
-> commit, DLQ on failure) becomes one streaming plan:

    readStream -> parse -> split(valid, invalid)
      -> [valid:    valid-row sink]
      -> [invalid:  DLQ envelope -> DLQ sink]
      -> [valid:    per-epoch per-key partials -> aggregated changelog]

with the three sinks written concurrently inside the same
``foreachBatch`` epoch, and the epoch ending only when every write has
finished — the exactly-once analogue of the reference's
commit-after-DLQ-routing (T5: offsets tracked per micro-batch via
checkpointLocation, so a poison record never blocks the stream and
never double-routes).  ``order_pipeline_batch`` runs the same epoch
writer over one batch DataFrame.

State scale: per-key aggregate state lives in the Spark state store;
for 100 TB/unbounded-key workloads configure RocksDB
(spark.sql.streaming.stateStore.providerClass) instead of the
default heap store — nothing else changes.
"""

from __future__ import annotations

import tempfile
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..operators.aggregate import product_price_stats
from ..operators.validate import dlq_envelope, split_valid_invalid
from ..sources.tables import load_table


class _scoped_shuffle_partitions:
    """Temporarily size shuffle partitions to the session's parallelism
    for a bounded streaming drain, restoring the caller's setting after.

    A vanilla session carries the 200-partition default; a drained
    memory-sink aggregation over test-scale data pays ~200 empty state
    store tasks per batch for nothing.  State lives in a fresh
    checkpoint per call, so the partition count is free to differ
    between calls.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(self.spark.sparkContext.defaultParallelism),
        )

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def drain_to_df(
    stream_df: DataFrame,
    output_mode: str,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Run a bounded streaming plan to completion (availableNow,
    cluster-sized shuffle partitions, throwaway checkpoint) and return
    the result as a batch DataFrame.

    The result stays DISTRIBUTED end-to-end — no memory sink:

    - **append**: straight into a parquet file sink (executor-side
      writes; a per-record twin's output is O(input) and must never
      funnel through the driver).
    - **complete**: foreachBatch overwrites a parquet snapshot each
      epoch; the final epoch leaves the final state.  O(keys) per
      epoch — fine for drains, but prefer update at scale.
    - **update** (requires `key_cols`): each epoch APPENDS only its
      changed keys, stamped with the epoch id — an O(changed-keys)
      changelog, the scale-preferred mode (complete rewrites ALL state
      every epoch).  The drain folds the changelog with
      latest-epoch-wins per key (an update epoch emits a key at most
      once, so the fold is unambiguous).

    The returned DataFrame is a lazy scan of that sink, so downstream
    consumers keep whatever parallelism they want.  Scratch (sink +
    checkpoint) lives in a per-call temp dir that is left for the
    OS/tmp reaper — the returned plan reads from it lazily, so it
    cannot be deleted here.
    """
    spark = stream_df.sparkSession
    tag = uuid.uuid4().hex[:12]
    base = tempfile.mkdtemp(prefix=f"drain_{tag}_")
    sink, chk = f"{base}/sink", f"{base}/chk"
    with _scoped_shuffle_partitions(spark):
        if output_mode == "append":
            writer = (
                stream_df.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
            )
        elif output_mode == "complete":

            def _snapshot(df: DataFrame, epoch_id: int) -> None:
                df.write.mode("overwrite").parquet(sink)

            writer = stream_df.writeStream.outputMode("complete").foreachBatch(
                _snapshot
            )
        elif output_mode == "update":
            if not key_cols:
                raise ValueError("drain_to_df: update mode needs key_cols")

            def _delta(df: DataFrame, epoch_id: int) -> None:
                df.withColumn("__epoch", F.lit(epoch_id)).write.mode(
                    "append"
                ).parquet(sink)

            writer = stream_df.writeStream.outputMode("update").foreachBatch(
                _delta
            )
        else:
            raise ValueError(f"drain_to_df: unsupported mode {output_mode!r}")
        q = (
            writer.option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    try:
        out = spark.read.parquet(sink)
    except Exception:
        # empty stream: no epoch ever wrote the sink
        return spark.createDataFrame([], schema=stream_df.schema)
    if output_mode == "update":
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.desc("__epoch"))
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__epoch")
        )
    return out


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source streaming twin of sources.tables.load_table: same
    schema and ts normalization, rows arrive as a bounded stream
    (trigger availableNow drains it — the test/CI harness for what is a
    Kafka source in production)."""
    batch = load_table(spark, sf_dir, name)
    raw_schema = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet").schema
    # The file stream source requires a directory; select the one table
    # file out of the sf dir with a glob filter.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    if name == "events" and dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    # keep column order identical to the batch twin
    return stream.select(*batch.columns)


def run_streaming_product_stats(
    spark: SparkSession,
    sf_dir: str,
    key: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """T2 streaming twin: the same aggregate expressions as the batch
    A1 operator, run as an update-mode streaming aggregation and
    drained to completion with an availableNow trigger.

    Returns the final aggregate state — which must equal the batch
    groupBy exactly (the equivalence the driver's oracle checks).
    """
    agg = product_price_stats(stream_table(spark, sf_dir, "events"), key=key, value=value)
    return drain_to_df(agg, "complete")


def run_streaming_running_avg(
    spark: SparkSession,
    sf_dir: str,
    key: str = "event_type",
    seq: str = "event_id",
    value: str = "value",
) -> DataFrame:
    """T2 exact per-record emission: the applyInPandasWithState twin of
    the reference's per-record running average, drained with
    availableNow and returned as a batch DataFrame.

    Must equal the batch window form (AVG OVER ... ROWS UNBOUNDED
    PRECEDING ordered by seq) — the driver's oracle checks exactly that.
    """
    from .stateful import running_stats_per_record

    keyed = stream_table(spark, sf_dir, "events").select(
        F.col(key).alias("key"), F.col(seq).alias("seq"), F.col(value).alias("value")
    )
    return drain_to_df(running_stats_per_record(keyed), "append")


def _run_all(spark: SparkSession, writes: list[Callable[[], None]]) -> None:
    """Run the sink writes at the same time, one driver thread each, and
    return only when every one has finished; then raise the first
    failure in sink order.

    A sibling write is never left running: the caller unpersists the
    epoch, returns, or hands the failure to a retry envelope only after
    this returns.  Each thread inherits the calling thread's local
    properties and job tags (the stream's job group included, so
    ``query.stop()`` cancels the child jobs).  The wrapper is built once
    per write: it clones the properties when built, and threads sharing
    one clone would overwrite each other's SQL execution id.
    """
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
    for f in futures:
        f.result()


def _write_epoch(
    df: DataFrame,
    valid_sink: str,
    dlq_sink: str,
    key: str,
    value: str,
    id_col: str | None,
    source_topic: str = "orders",
    aggregated_sink: str | None = None,
    epoch_id: int = 0,
    count: bool = False,
) -> tuple[int, int] | None:
    """The epoch body shared by the streaming and batch consumers: split
    ``df`` once and write valid rows, the DLQ envelope and, if
    ``aggregated_sink`` is set, this epoch's per-key partials, all three
    concurrently (see ``_run_all``).

    Each write is a small job whose cost is mostly fixed (job submission
    plus the parquet commit), so running them side by side makes the
    epoch as long as its slowest write instead of their sum.  With
    ``count`` the valid and rejected row counts are observed on the two
    row writes and returned, with no extra job.
    """
    # Persist the epoch once: the writes would otherwise each re-scan
    # the source and re-run the validation split.
    df = df.persist()
    try:
        valid, invalid = split_valid_invalid(df, key=key, value=value, id_col=id_col)
        valid_out, invalid_out = valid, invalid
        if count:
            obs = Observation(), Observation()
            valid_out = valid.observe(obs[0], F.count(F.lit(1)).alias("n"))
            invalid_out = invalid.observe(obs[1], F.count(F.lit(1)).alias("n"))
        writes = [
            lambda: valid_out.write.mode("append").parquet(valid_sink),
            lambda: dlq_envelope(invalid_out, source_topic=source_topic)
            .write.mode("append").parquet(dlq_sink),
        ]
        if aggregated_sink is not None:
            # Built from the unobserved split: an observation completes
            # on its first action, which must be the valid-row write.
            partials = valid.groupBy(F.col(key)).agg(
                F.count("*").alias("order_count"),
                # keep the exact decimal representation in the log;
                # merge stays associative, cast to double only at read
                F.sum(F.col(value).cast("decimal(18,2)")).alias("price_sum_dec"),
                F.min(value).alias("minimum_price"),
                F.max(value).alias("maximum_price"),
            ).withColumn("epoch_id", F.lit(epoch_id))
            writes.append(
                lambda: partials.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch_id")
                .parquet(aggregated_sink)
            )
        _run_all(df.sparkSession, writes)
        if count:
            return obs[0].get["n"], obs[1].get["n"]
        return None
    finally:
        df.unpersist()


def order_pipeline_batch(
    orders: DataFrame,
    valid_sink: str,
    dlq_sink: str,
    key: str = "product",
    value: str = "price",
    id_col: str | None = "orderId",
    source_topic: str = "orders",
) -> tuple[int, int]:
    """The consumer's epoch body (T5/T7) in batch form: split one parsed
    DataFrame and write valid rows to the valid sink and enveloped
    rejects to the DLQ sink, the two writes running concurrently.  It is
    the same epoch writer the foreachBatch body of
    ``start_order_pipeline`` runs, without the aggregated sink.

    Returns (n_valid, n_rejected) for THIS call's input — the
    reference's processing counters (A9, avro_order_consumer.py:79-84)
    — observed on the two writes themselves, not by rescanning the
    sinks (sinks are append-mode and may hold earlier batches).
    """
    return _write_epoch(
        orders, valid_sink, dlq_sink, key, value, id_col,
        source_topic=source_topic, count=True,
    )


def start_order_pipeline(
    orders_stream: DataFrame,
    valid_sink: str,
    dlq_sink: str,
    checkpoint: str,
    key: str = "product",
    value: str = "price",
    id_col: str | None = "orderId",
    retry_handler=None,
    aggregated_sink: str | None = None,
):
    """Streaming entry: one foreachBatch query whose epoch body writes
    the valid-row sink, the DLQ sink and (with ``aggregated_sink``) the
    aggregated changelog concurrently, and ends only when all of them
    have finished (at-least-once to non-transactional sinks;
    exactly-once with transactional ones).  The optional retry envelope
    wraps the whole body, so a retry never starts while a write of the
    failed attempt is still running.

    ``aggregated_sink`` implements the reference's `orders-aggregated`
    topic — created in scripts/setup_topics.sh:31-37 but never written
    by any reference code (SURVEY.md §1) — as an INCREMENTAL changelog:
    each epoch writes only that epoch's mergeable per-key partials
    (count / decimal sum / min / max), so per-epoch work is O(epoch),
    not O(all data so far).  The partials land in an epoch_id-partitioned
    directory with dynamic partition overwrite, so a replayed epoch
    (at-least-once foreachBatch) overwrites its own partition instead of
    double-appending — the changelog is exactly-once even though the
    row sinks are at-least-once.  ``read_aggregated_snapshot`` folds the
    changelog into the current per-key stats, bit-identical to the batch
    ``product_price_stats`` over all valid rows.
    """

    def body(df: DataFrame, epoch_id: int) -> None:
        _write_epoch(
            df, valid_sink, dlq_sink, key, value, id_col,
            aggregated_sink=aggregated_sink, epoch_id=epoch_id,
        )

    fn = retry_handler.wrap_foreach_batch(body) if retry_handler else body
    return (
        orders_stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_watermarked_window_stream(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "17 minutes",
) -> DataFrame:
    """T4 driver-visible: append-mode tumbling-window aggregation with a
    watermark, run as TWO controlled micro-batch rounds sharing one
    checkpoint (the only deterministic way to order file-source batches
    — availableNow with maxFilesPerTrigger does not guarantee order for
    same-mtime files):

    - round 1 streams every event EXCEPT one seeded late row (the
      globally earliest event); at round end the watermark stands at
      max(ts) - delay and append mode finalizes every window whose end
      the watermark has passed;
    - round 2 delivers the seeded row, which is now far behind the
      watermark — state for its window was already evicted, so the row
      is DROPPED and the sink is unchanged.

    The result is therefore the hourly windows with end <= max(ts) -
    delay, counting all events except the seeded late one — exactly the
    oracle's batch-SQL form.  The watermark delay is deliberately an odd
    17 minutes so window ends (hour boundaries) never tie with the
    watermark.
    """
    import shutil

    ev = load_table(spark, sf_dir, "events")
    late_id = ev.orderBy("ts", "event_id").limit(1).collect()[0]["event_id"]
    base = tempfile.mkdtemp(prefix=f"wm_{uuid.uuid4().hex[:8]}_")
    src, sink, chk = f"{base}/src", f"{base}/sink", f"{base}/chk"

    # Watermarks need TIMESTAMP (session UTC), not TIMESTAMP_NTZ.
    staged = ev.withColumn("ts", F.col("ts").cast("timestamp"))

    def run_round(schema) -> None:
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", delay)
            .groupBy(F.window("ts", "1 hour"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            )
            .select(
                F.col("window.start").cast("timestamp_ntz").alias("window_start"),
                "n_events",
                "sum_value",
            )
        )
        with _scoped_shuffle_partitions(spark):
            q = (
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    try:
        staged.filter(F.col("event_id") != late_id).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        run_round(schema)
        # seed the late arrival and resume from the same checkpoint
        staged.filter(F.col("event_id") == late_id).write.mode("append").parquet(src)
        run_round(schema)
        out = spark.read.parquet(sink)
        # Driver round-trip ONLY because the scratch sink is deleted in
        # the finally below; cardinality is O(distinct hour windows) —
        # bounded by the stream's time span (720 rows/month of hourly
        # data), never by event volume.  If windows ever got fine
        # enough to matter, copy the sink to a stable temp table and
        # return a lazy scan instead.
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        # per-call scratch (staged events copy, sink, checkpoint) —
        # repeated driver/bench runs must not accumulate /tmp disk
        shutil.rmtree(base, ignore_errors=True)


def read_aggregated_snapshot(
    spark: SparkSession, aggregated_sink: str, key: str = "product"
) -> DataFrame:
    """Fold the aggregated changelog into current per-key stats.

    O(changelog) = O(keys x epochs) — never O(raw rows).  Decimal
    partial sums merge associatively, so the result is bit-identical to
    ``product_price_stats`` over the union of all valid rows; downstream
    consumers wanting history instead read the changelog directly.

    The changelog is read with the schema that the partials write in
    ``_write_epoch`` produces (for a string key and a double value), not
    an inferred one, which saves a footer-reading job per call.  A
    changelog written with another schema still fails: a column of
    another type fails the parquet scan, and a missing column, which
    the scan would fill with NULLs, fails the fold (every partials row
    is non-null in every column).
    """
    schema = (
        f"`{key}` string, order_count bigint, price_sum_dec decimal(28,2), "
        "minimum_price double, maximum_price double, epoch_id int"
    )
    log = spark.read.schema(schema).parquet(aggregated_sink)
    cols = ", ".join(f"`{c}`" for c in log.columns)
    complete = F.expr(f"count(*) = count({cols})")
    total_dec = F.sum("price_sum_dec")
    return log.groupBy(F.col(key)).agg(
        F.when(complete, F.sum("order_count")).otherwise(F.raise_error(F.lit(
            f"aggregated changelog {aggregated_sink} has NULLs; "
            f"it was not written with the schema {schema}"
        ))).alias("order_count"),
        total_dec.cast("double").alias("price_sum"),
        (total_dec.cast("double") / F.sum("order_count")).alias("average_price"),
        F.min("minimum_price").alias("minimum_price"),
        F.max("maximum_price").alias("maximum_price"),
    )
