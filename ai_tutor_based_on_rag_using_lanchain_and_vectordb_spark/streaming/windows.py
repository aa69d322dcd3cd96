"""Streaming window operators — the reference's four streaming-shaped
behaviors (SURVEY.md §2.8) as Structured Streaming transformations.
Each takes/returns a DataFrame so the same function works on a batch
frame (tests / oracle) and a ``readStream`` frame (production).

- ST1 rate-limit: sliding-window per-key counts + threshold alert
  (slowapi 30/min, backend/main.py:58-63)
- ST2 session expiry: session_window with inactivity gap
  (24 h timeout, backend/config.py:45)
- ST3 active-session gauge: sliding window + approx_count_distinct
  (backend/db_utils.py:369-374)
- ST4 retention: watermark-driven eviction (30 d purge,
  backend/db_utils.py:280-302)

Watermarks bound state at scale: a 1000-executor job holds only
(watermark horizon × key cardinality) state, independent of stream age.
``approx_count_distinct`` replaces exact distinct in ST3 because exact
per-window distinct state is unbounded at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rate_limit_alerts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 minute",
    slide: str = "20 seconds",
    threshold: int = 30,
    watermark: str = "2 minutes",
) -> DataFrame:
    """ST1 — keys whose request count in any sliding window crosses the
    limit. slide < window catches bursts straddling tumbling boundaries
    (what slowapi's rolling counter sees)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.col(key_col), F.window(ts_col, window, slide).alias("w"))
        .agg(F.count("*").alias("n_req"))
        .where(F.col("n_req") >= threshold)
        .select(
            F.col(key_col),
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_req",
        )
    )


def session_expiry(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "24 hours",
    watermark: str = "25 hours",
) -> DataFrame:
    """ST2 — session windows with an inactivity gap; a session row is
    emitted (and its state dropped) once the watermark passes its end —
    exactly the reference's cleanup_sessions semantics, but incremental
    instead of a periodic DELETE scan."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.max(ts_col).alias("last_seen"))
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "last_seen",
        )
    )


def active_users_gauge(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "24 hours",
    slide: str = "1 hour",
    watermark: str = "25 hours",
    exact: bool = False,
) -> DataFrame:
    """ST3 — distinct active keys per sliding window. Approximate
    (HLL++) by default: exact distinct keeps every key in state."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    agg = (
        F.countDistinct(key_col) if exact else F.approx_count_distinct(key_col, 0.02)
    ).alias("active_users")
    return (
        src.groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(agg)
        .select(F.col("w.start").alias("window_start"), "active_users")
    )


def retention_filter(
    events: DataFrame,
    ts_col: str = "ts",
    horizon: str = "30 days",
) -> DataFrame:
    """ST4 — retention as a watermark: in streaming, state older than the
    horizon is evicted automatically; in batch, the same call is the
    anti-delete filter (rows newer than max(ts) - horizon survive)."""
    if events.isStreaming:
        return events.withWatermark(ts_col, horizon)
    anchor = F.broadcast(events.agg(F.max(ts_col).alias("_anchor")))
    return (
        events.crossJoin(anchor)
        .where(F.col(ts_col) >= F.col("_anchor") - F.expr(f"INTERVAL {horizon}"))
        .drop("_anchor")
    )


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST5 continuous-ingest dedup — the UNIQUE(file_hash) gate
    (backend/db_utils.py:173,221-225) for a never-ending stream.

    Streaming: ``dropDuplicatesWithinWatermark`` keeps per-key state
    only until the event-time watermark passes it, so state is bounded
    by (watermark horizon x key arrival rate) — the only formulation
    that survives an unbounded stream; a plain ``dropDuplicates`` on a
    stream accumulates every key ever seen. Batch: the same call site
    degrades to exact ``dropDuplicates``.
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def click_purchase_attribution(
    events: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval (attribution) join: each purchase matched
    to the same user's clicks in the preceding ``within`` interval.

    Streaming: both sides derive from one watermarked source, so the
    join runs as a watermarked stream-stream inner join — the explicit
    time-range clause gives Spark the state-eviction bound (a buffered
    click is dropped once the watermark passes click_ts + within), so
    join state stays bounded on an unbounded stream. Batch: the same
    condition runs as a range-predicated hash equi-join on user_id (the
    equality clause keeps it off the cartesian path).
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    clicks = src.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = src.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return clicks.join(purchases, cond).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )

