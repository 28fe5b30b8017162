"""SparkSession factory with scale-appropriate defaults.

The reference (src/consumer/avro_order_consumer.py:48-63) configures a
single-process librdkafka consumer; our execution substrate is a Spark
cluster, so the session is where the 100 TB posture is declared: AQE on
(runtime re-planning, skew-join handling, partition coalescing), shuffle
partitions sized to the cluster, Arrow enabled for the few pandas-UDF
operators, and UTC session time so results are timezone-stable.

The session is long-lived and serves a fixed repertoire of queries again
and again, so it also sizes Spark's generated-code cache to that
repertoire.  Spark keeps compiled whole-stage and expression classes in a
JVM-wide cache of 100 entries by default; one corpus_dedup pass of the
benchmark needs about 150 classes and one sweep of the 150 registered
queries about 2,040.  With the default every pass evicts classes it will
need again, recompiles them with Janino, and runs the reloaded classes
cold until HotSpot compiles them again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs every query in this package relies on.
#: Applied defensively in ``ensure_confs`` because the driver harness may
#: hand us a session we did not build.
RUNTIME_CONFS = {
    # /root/testdata events.parquet stores ts as INT64 TIMESTAMP(NANOS),
    # which Spark refuses by default; read as long and convert ourselves
    # (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock values regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDFs / toPandas (vectorized boundary).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource filter pushdown (pyspark>=4.1) — off upstream by
    # default; needed for the kaop_avro statsPruning file-skipping
    # reader (Spark refuses to plan a pushFilters reader without it).
    "spark.sql.python.filterPushdown.enabled": "true",
    # --- r13 optimization round (guide §2.2 "fewer, larger reduce
    # partitions"): post-shuffle partition counts derive from DATA SIZE
    # (advisoryPartitionSizeInBytes), not from the core count.  The
    # upstream default (parallelismFirst=true) refuses to coalesce
    # below the cluster parallelism, which leaves every tiny shuffle at
    # spark.sql.shuffle.partitions tasks — per-task overhead with no
    # data behind it locally, and the quadratic M x R block growth at
    # scale.  Spark's own conf doc recommends setting this to false.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Cached plans otherwise pin their materialized partitioning and
    # every stage that scans the cache inherits its width (measured on
    # near_dup_pairs: the persisted signature table froze 32-partition
    # reads through the whole LSH pipeline — 206 tasks where 52
    # suffice).  Letting AQE re-partition cached plans keeps cache
    # partition counts size-derived too.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not available in this Spark build — operators that
            # need it degrade explicitly at the call site.
            pass
    return spark


def get_spark(
    app_name: str = "kafka_avro_order_processing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session tuned for local[N] testing.

    On a real cluster, deployment config (spark-submit / cluster
    manager) overrides these; nothing here assumes single-node.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local mode: ~#cores; real cluster would size to data volume
        # (target ~128 MB per shuffle partition at 100 TB -> set via
        # deployment config, AQE coalesces down at runtime).
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static conf (``spark.conf.set`` refuses it, so it cannot live in
        # RUNTIME_CONFS): room for every generated class of the query
        # repertoire, 2,040 for one registry sweep at sf0.001, which
        # holds about 14 MB more metaspace.  With the default 100 entries
        # each timed corpus_dedup pass of the benchmark recompiled 63-79
        # classes; with 4096 it compiles 0-4, and the pass fell from 4.9
        # to 3.6 s (4 cores, medians of 20 runs).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_confs(spark)
