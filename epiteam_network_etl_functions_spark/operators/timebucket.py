"""Origin-anchored tumbling time bucket (reference W5).

The reference buckets timestamps with DuckDB's
``TIME_BUCKET(INTERVAL '600 seconds', ts, origin)`` where origin is the
dataset-wide MIN(ts) computed by an empty-partition window
(interaction_queries.py:10-17, NetworkBuilder.py:163-174,
HomeAgebGenerator.py:94-104).

Spark's built-in ``window(ts, "600 seconds")`` is epoch-anchored, so buckets
would disagree whenever min(ts) is not a multiple of the width. And a literal
``MIN(ts) OVER ()`` translation would collapse the whole dataset into one
partition — the classic global-window trap (SURVEY.md §7). Instead: a scalar
aggregate computes the origin, gets broadcast back (1-row cross join — no
shuffle of the fact side, no partition collapse), and the bucket is exact
integer arithmetic on microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import DEFAULT_BUCKET_SECONDS


def with_time_bucket(
    df: DataFrame,
    ts_col: str = "ts",
    seconds: int = DEFAULT_BUCKET_SECONDS,
    out_col: str = "tw",
    origin_us: int | None = None,
) -> DataFrame:
    """Add ``out_col``: 0-based bucket index of ``ts_col`` in origin-anchored
    tumbling windows of ``seconds``. Origin defaults to dataset min(ts).

    The index is BIGINT (exact integer division of microseconds), never a
    float — bucket edges must be bit-identical to the SQL oracle.
    """
    period_us = int(seconds) * 1_000_000
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        # tz-naive parquet surfaces as TIMESTAMP_NTZ under Spark 4, and
        # unix_micros() requires TIMESTAMP. The session is pinned to UTC,
        # so the cast is value-exact (same rule as catalog.load).
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if origin_us is None:
        origin = df.select(F.min(F.unix_micros(F.col(ts_col))).alias("__origin_us"))
        df = df.crossJoin(F.broadcast(origin))
    else:
        df = df.withColumn("__origin_us", F.lit(int(origin_us)))
    bucketed = df.withColumn(
        out_col,
        F.expr(f"(unix_micros({ts_col}) - __origin_us) div {period_us}"),
    )
    return bucketed.drop("__origin_us")


def bucket_origin_sql(table: str, ts_col: str = "ts") -> str:
    """DuckDB-side origin scalar, for oracle strings."""
    return f"(SELECT min(epoch_us({ts_col})) FROM {table})"


def bucket_sql(table: str, ts_col: str = "ts", seconds: int = DEFAULT_BUCKET_SECONDS) -> str:
    """DuckDB expression matching :func:`with_time_bucket` bit-for-bit."""
    period_us = int(seconds) * 1_000_000
    return f"(epoch_us({ts_col}) - {bucket_origin_sql(table, ts_col)}) // {period_us}"
