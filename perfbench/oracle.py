"""Output verification, always outside the timed intervals.

Batch ops are checked against the registry's DuckDB oracle SQL with the
canonicalization the engine's parity check uses (columns sorted by name,
every cell ``str()``-ed from the pandas frame, rows sorted).  A full
canonical comparison costs a Python pass over every row, so each op's
first timed result is compared in full and later results of the same op
are compared by an order-independent fingerprint of that verified
result.

The order stream is checked against an independent DuckDB computation
over the orders as generated, before JSON encoding.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

BATCH_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(pdf: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(pdf.columns)
    rows = sorted(tuple(str(v) for v in rec) for rec in pdf[cols].itertuples(index=False, name=None))
    return cols, rows


def fingerprint(pdf: pd.DataFrame) -> tuple:
    """(columns, row count, row-order-independent hash of the rows)."""
    cols = sorted(pdf.columns)
    frame = pdf[cols]
    try:
        hashes = pd.util.hash_pandas_object(frame, index=False)
    except TypeError:  # unhashable cells (lists, dicts)
        hashes = pd.util.hash_pandas_object(frame.astype(str), index=False)
    return tuple(cols), len(frame), int(hashes.to_numpy().sum(dtype=np.uint64))


def tables_read(sql: str) -> list[str]:
    """Input tables an oracle query reads (its FROM/JOIN targets)."""
    named = set(re.findall(r"\b(?:FROM|JOIN)\s+(\w+)", sql, flags=re.IGNORECASE))
    return [t for t in BATCH_TABLES if t in named]


class BatchOracle:
    """DuckDB views over the generated parquet tables."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in BATCH_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def expected(self, sql: str):
        return canon(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()


def stream_expected(orders_dir: str) -> dict:
    """Seeded counts, the per-product snapshot and the DLQ error stats,
    computed by DuckDB from the pre-encoding orders (``corrupt`` marks
    rows whose wire payload was made undecodable)."""
    con = duckdb.connect()
    try:
        con.execute(
            f"""CREATE VIEW o AS
                SELECT CASE WHEN corrupt THEN NULL ELSE orderId END AS orderId,
                       CASE WHEN corrupt THEN NULL ELSE product END AS product,
                       CASE WHEN corrupt THEN NULL ELSE price END AS price
                FROM read_parquet('{orders_dir}/*.parquet')"""
        )
        ok = "orderId IS NOT NULL AND product IS NOT NULL AND price IS NOT NULL AND price > 0"
        n_valid, n_invalid = con.execute(
            f"SELECT COUNT(*) FILTER (WHERE {ok}), COUNT(*) FILTER (WHERE NOT ({ok}) OR ({ok}) IS NULL) FROM o"
        ).fetchone()
        dsum = "CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)"
        snapshot = canon(con.execute(
            f"""SELECT product, COUNT(*) AS order_count, {dsum} AS price_sum,
                       {dsum} / COUNT(*) AS average_price,
                       MIN(price) AS minimum_price, MAX(price) AS maximum_price
                FROM o WHERE {ok} GROUP BY product"""
        ).df())
        errors = canon(con.execute(
            f"""SELECT 'PermanentError' AS error_type,
                       COALESCE(product, 'UNKNOWN') AS product,
                       COUNT(*) AS error_count
                FROM o WHERE NOT ({ok}) OR ({ok}) IS NULL GROUP BY 1, 2"""
        ).df())
    finally:
        con.close()
    return {"valid": n_valid, "invalid": n_invalid, "snapshot": snapshot, "errors": errors}
