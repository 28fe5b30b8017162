"""Parquet table catalog for the driver testdata.

Batch twin of the reference's Kafka sources (SURVEY.md §2.1 S4/S6):
where the reference polls topics, we scan columnar parquet — filters and
projections push down to the scan (Catalyst), so at 100 TB a query that
touches 2 columns reads 2 columns.

The only quirk handled here: ``events.ts`` is written as parquet
INT64 TIMESTAMP(NANOS), which Spark reads only as a raw long under
``spark.sql.legacy.parquet.nanosAsLong``; we convert to timestamp_ntz
(microsecond floor — same truncation DuckDB applies when casting its
TIMESTAMP_NS to TIMESTAMP, keeping oracle comparisons exact).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Schema cache keyed by (realpath, mtime_ns, size) — METADATA only,
#: the exact role of a catalog/metastore (guide §6: repeated schema
#: inference / file listing is per-query driver overhead; table formats
#: exist to avoid it).  r14 measurement: ``spark.read.parquet`` spends
#: ~100-130 ms per call re-reading the footer and re-inferring the
#: schema, which was the single largest per-query driver cost across
#: the whole bench (~25 load_table calls).  With the schema supplied,
#: the same reader builds in ~25 ms and the scan/pushdown behavior is
#: byte-identical (verified: equal schemas, PushedFilters intact).
#: The mtime+size key invalidates the entry if a file is rewritten; no
#: row data is ever cached here.  A directory's own stat does not change
#: when a part file is rewritten in place, so a directory table is keyed
#: on the name, size and mtime of every visible file below it instead.
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}


def _hidden(name: str) -> bool:
    # Spark's file listing skips these (InMemoryFileIndex); "=" keeps
    # partition directories such as "_c=1" visible.
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _visible_files(root: str) -> tuple:
    """(relative path, size, mtime_ns) of every file Spark lists under
    ``root``."""
    files = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        for name in filenames:
            if _hidden(name):
                continue
            full = os.path.join(dirpath, name)
            st = os.stat(full)
            files.append((os.path.relpath(full, root), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType | None:
    try:
        st = os.stat(path)
        real = os.path.realpath(path)
        if stat.S_ISDIR(st.st_mode):
            key = (real, _visible_files(real))
        else:
            key = (real, st.st_mtime_ns, st.st_size)
    except OSError:
        return None  # non-local/remote path: fall back to inference
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing types.

    - ``events.ts``: nanos-long -> timestamp_ntz (µs floor).
    - everything else: as stored (TIMESTAMP_NTZ / DOUBLE / VARCHAR ...).
    """
    ensure_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    schema = _parquet_schema(spark, path)
    if schema is None:
        df = spark.read.parquet(path)
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view (SQL entry path)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
