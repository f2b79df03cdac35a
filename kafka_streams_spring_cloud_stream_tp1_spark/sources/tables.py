"""Batch table loaders for the driver-generated parquet fixtures.

Parquet scans are the engine's batch source: columnar, predicate
pushdown + column pruning reach the scan via Catalyst (check
``.explain``'s PushedFilters / ReadSchema), partition-parallel by
row-group at scale.

Each table resolves once per session. ``spark.read.parquet`` starts a
Spark job to infer the file's schema (35-49 ms a call on 4 cores), so
``load_table`` memoizes the DataFrame it builds and every later query
build reuses it. The memo key is the calling session, the path and the
file's identity from ``os.stat`` (``st_ino``, ``st_mtime_ns``,
``st_size``): a file rewritten at the same path is read again, and a
session never gets another session's frame (``session.session_memo``,
the rule ``plans/shared.py`` follows too). A path ``os.stat`` cannot
see (``hdfs://``, ``s3a://``) is read on every call, as before.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_memo

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

_CACHE: dict[tuple, DataFrame] = {}


def _nanos_ts_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark's vectorized
    reader rejects those outright, so they're read as long (legacy conf)
    and converted. Footer-only read, driver-side, O(1)."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
    except Exception:
        return []
    import pyarrow as pa

    return [
        f.name
        for f in schema
        if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Set defensively: the driver calls us with its own SparkSession.
    # Both confs are runtime-settable. UTC keeps event-time windows
    # deterministic and oracle-comparable (DuckDB timestamps are
    # UTC-naive); nanosAsLong lets the scan accept TIMESTAMP(NANOS).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) would otherwise
    # infer as TIMESTAMP_NTZ (Spark 4 default). Read it as session-TZ
    # TIMESTAMP instead: the session is pinned UTC, so the wall-clock
    # values are identical, every time function (unix_micros, window,
    # date_trunc arithmetic) stays applicable, and the type matches the
    # DuckDB oracle's naive-UTC reading of the same file.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"

    def read() -> DataFrame:
        df = spark.read.parquet(path)
        for c in _nanos_ts_cols(path):
            # nanos -> micros truncation matches DuckDB's read of the same file
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df

    try:
        st = os.stat(path)
    except OSError:
        return read()
    return session_memo(_CACHE, spark, (path, st.st_ino, st.st_mtime_ns, st.st_size), read)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
