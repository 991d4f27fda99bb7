"""Event analytics over the ``events`` table, as batch plans.

The reference has no event surface (SURVEY.md §2.8 extension); these are
the two canonical windowed shapes a training-data pipeline needs:

- :func:`windowed_counts` — fixed tumbling windows (``F.window``).
- :func:`sessionize` — gap-based sessions per user as a lag +
  running-sum plan: one shuffle on user_id, windows do the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def windowed_counts(events: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Tumbling-window counts + value sums per (window, event_type).
    Returns (bucket = window start epoch seconds, event_type, n,
    total_value) — epoch-aligned exactly like DuckDB's time_bucket, so the
    oracle is engine-portable."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("bucket"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user: a new session starts when the gap
    since the user's previous event exceeds ``gap_minutes``.

    Plan: ONE shuffle (partition by user_id); ``lag`` marks session starts,
    a running sum numbers sessions, then a per-(user, session) aggregate —
    all three windows/aggregates reuse the same partitioning, so Catalyst
    plans a single exchange. Returns (user_id, session_id, start_ts,
    end_ts, n_events, total_value)."""
    w_user = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_us = gap_minutes * 60 * 1_000_000
    # gap math in integer MICROSECONDS — exact, no truncation (unix_timestamp
    # drops sub-seconds) and no float comparison at gap boundaries. The
    # session timezone is UTC (session.py), so NTZ→TS is the identity an
    # engine treating naive timestamps as-is (DuckDB epoch_us) agrees with.
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    marked = events.withColumn(
        "_new",
        F.when(
            F.lag("ts").over(w_user).isNull()
            | (ep - F.lag(ep).over(w_user) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w_run = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = marked.withColumn("session_id", F.sum("_new").over(w_run).cast("long"))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
