"""Session factory: the generated-code cache holds the query repertoire."""

from __future__ import annotations

from functools import reduce

from conftest import SF_SMOKE
from kafka_avro_order_processing_spark.plans.registry import QUERIES
from kafka_avro_order_processing_spark.session import RUNTIME_CONFS

#: Queries whose generated code is identical from one run to the next.
#: tfidf_top_terms and near_dup_pairs are not: the persisted and
#: checkpointed intermediates they leave registered change later plans.
REPEATED = ("simhash_fingerprints", "embedding_topk", "running_avg", "validated_orders")
#: Spark's default spark.sql.codegen.cache.maxEntries.
DEFAULT_CACHE_ENTRIES = 100


def _compilations(spark) -> int:
    """Janino compilations in this JVM so far (every generated class that
    missed the code cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, names) -> None:
    for name in names:
        QUERIES[name].fn(spark, SF_SMOKE).collect()


def test_runtime_confs_are_runtime_settable(spark):
    # ensure_confs swallows the error spark.conf.set raises on a static
    # conf, so a static conf here would silently do nothing on a session
    # the package did not build.
    static = [k for k in RUNTIME_CONFS if not spark.conf.isModifiable(k)]
    assert static == []


def test_session_sizes_codegen_cache(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == 4096


def test_repeated_queries_do_not_recompile(spark):
    _run(spark, REPEATED)
    before_filler = _compilations(spark)
    # More distinct classes than the default cache holds: every union
    # branch is its own whole-stage class with its literal inlined.
    filler = [
        spark.range(0, 1, 1, 1).selectExpr(f"id * {i + 7} + {i} AS x")
        for i in range(DEFAULT_CACHE_ENTRIES + 20)
    ]
    reduce(lambda a, b: a.unionAll(b), filler).collect()
    before = _compilations(spark)
    assert before - before_filler > DEFAULT_CACHE_ENTRIES

    _run(spark, REPEATED)
    assert _compilations(spark) == before
