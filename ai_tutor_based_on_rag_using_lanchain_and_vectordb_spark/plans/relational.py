"""Relational core: the reference's chat/session analytics re-expressed
over the driver's ``events`` table, plus TPC-H-style join/aggregate
queries over the star schema that exercise the join shapes the reference
only implies (SURVEY.md §2.2-2.6).

Scale notes (100 TB design point):

- Scalar anchors (``max(ts)``) are computed as a 1-row aggregate and
  broadcast-cross-joined — never collected into a Python literal inside
  the plan, so the whole query stays one Catalyst plan and the anchor
  never forces a driver round-trip per query.
- Top-k-per-group uses ``row_number`` over a window; Spark ≥3.5 rewrites
  the ``rn <= k`` filter into WindowGroupLimit (partial top-k before the
  shuffle), which is the scalable pattern for "history limit 10" at any
  cardinality.
- Small dimensions (region/nation/customer-aggregates) are explicitly
  ``broadcast()`` so the big fact side never shuffles for those joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact as X
from ..session import pin


def _anchor(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """1-row max-timestamp anchor, broadcastable; replaces now() so the
    reference's relative predicates (`datetime('now','-N days')`,
    backend/db_utils.py:295,325,372) are deterministic over fixtures."""
    return F.broadcast(df.agg(F.max(ts_col).alias("_anchor_ts")))


# --------------------------------------------------------------------------
# Chat/session analytics over `events`
# --------------------------------------------------------------------------


def chat_history_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — top-10 most-recent events per user (chat history window;
    reference backend/db_utils.py:110-124, limit from config.py:43)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — COUNT/MIN/MAX per session (backend/db_utils.py:142-158)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count("*").alias("message_count"),
        F.min("ts").alias("first_message"),
        F.max("ts").alias("last_message"),
    )


def unique_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A3 — total messages + COUNT(DISTINCT session)
    (backend/db_utils.py:357-366)."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        F.count("*").alias("total_messages"),
        F.countDistinct("user_id").alias("unique_sessions"),
    )


def active_sessions_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — distinct sessions active in the trailing 24 h window,
    anchored at max(ts) (backend/db_utils.py:369-374)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.crossJoin(_anchor(events))
        .where(F.col("ts") > F.col("_anchor_ts") - F.expr("INTERVAL 24 HOURS"))
        .agg(F.countDistinct("user_id").alias("active_sessions"))
    )


def retention_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4/P3 — rows surviving a 7-day retention cutoff (the 30-day purge
    of backend/db_utils.py:280-302, parameterized to bite on a 30-day
    fixture span). Delete-as-filter is the Spark-native rewrite."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.crossJoin(_anchor(events))
        .where(F.col("ts") >= F.col("_anchor_ts") - F.expr("INTERVAL 7 DAYS"))
        .select("event_id", "ts", "user_id", "event_type")
    )


def expired_session_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — anti-join delete of expired sessions: drop every row of a
    session whose *latest* activity is older than 72 h before the anchor
    (backend/db_utils.py:304-348's two-step semi-join delete)."""
    events = load_table(spark, sf_dir, "events")
    expired = (
        events.crossJoin(_anchor(events))
        .groupBy("user_id", "_anchor_ts")
        .agg(F.max("ts").alias("last_ts"))
        .where(F.col("last_ts") < F.col("_anchor_ts") - F.expr("INTERVAL 72 HOURS"))
        .select("user_id")
    )
    survivors = events.join(expired, "user_id", "left_anti")
    return survivors.agg(
        F.count("*").alias("surviving_rows"),
        F.countDistinct("user_id").alias("surviving_sessions"),
    )


def event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A7 — per-type counters (the Metrics class, backend/main.py:92-113)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        X.dsum(F.col("value")).alias("total_value"),
        X.davg(F.col("value")).alias("avg_value"),
    )


def rate_limit_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 (batch form) — per-user per-minute tumbling-window request
    counts at or above the alert threshold (30 req/min rate limit,
    backend/main.py:58-63; threshold 2 so synthetic data trips it)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n_req"))
        .where(F.col("n_req") >= 2)
        .select("user_id", F.col("w.start").alias("window_start"), "n_req")
    )


def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type: parse the
    JSON ONCE into the binary variant encoding (try_parse_json —
    malformed payloads become NULL instead of failing the scan), then
    typed path extraction with variant_get. At scale this is the
    parse-once/extract-many shape — repeated get_json_object calls
    re-parse the string per path, variant shredding does not."""
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.try_parse_json("props"), "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            X.pround(F.expr("percentile(k, 0.5)"), 2).alias("median_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — JSON field extraction + aggregate (the LLM-response JSON
    parse, backend/langchain_utils.py:157-206)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.withColumn("k_val", k)
        .groupBy("event_type")
        .agg(
            F.count("k_val").alias("n_with_k"),
            F.round(F.avg("k_val"), 2).alias("avg_k"),
            F.max("k_val").alias("max_k"),
        )
    )


def session_previews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/F4 — frontend session list: message count + 50-char preview of
    the chronologically-first payload (frontend/src/App.js:67-72)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .withColumn("message_count", F.count("*").over(wc))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "message_count",
            F.concat(F.substring("props", 1, 50), F.lit("...")).alias("preview"),
        )
    )


def daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/F13 — daily rollup of the log (date_trunc partitioning model
    for the 100 TB layout: logs partitioned by date(created_at))."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_trunc("DAY", "ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            X.dsum(F.col("value")).alias("total_value"),
        )
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 (batch form) — session windows with a 60-minute inactivity gap
    (session timeout semantics, backend/config.py:45). Uses Spark's
    native session_window; oracle reproduces it with gaps-and-islands."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "60 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), X.dsum(F.col("value")).alias("session_value"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "session_value")
    )


def _sessions_60m(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "60 minutes"))
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .select("user_id", "s_start", "s_end")
    )


def session_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user session concurrency: for every 60-minute-gap session
    (same sessionization as :func:`session_windows`), how many OTHER
    users' sessions overlap it in time. The oracle writes it as a
    non-equi self-join, which Spark could only execute as a broadcast
    nested loop (O(n²) comparisons, one task at corpus scale).

    REWRITTEN in round 10 after the 100× distinct-content probe: the
    grid pair-join (operators/intervaljoin.py, still this query's plan
    when the PAIRS are the answer — see the grid variant below) touches
    Θ(density²) candidate pairs, and with 100× sessions in a fixed
    time span it grew 566×. A pure COUNT needs only order statistics
    (operators/sweep.py):

        #overlaps(a) = #(starts ≤ a.end) − #(ends < a.start) − 1

    — the subtracted sets partition the non-overlaps (end < a.start
    implies start ≤ a.end), and the −1 removes the session itself; no
    other own-user session can overlap because 60-minute-gap sessions
    of one user are separated by > 60 minutes BY CONSTRUCTION. Keys
    are exact long microseconds (a double cast could merge adjacent
    µs and flip the strict boundary). Two bucketed sweep ranks →
    O(n log n), growth ~K at any density (BENCH_SF10)."""
    from ..operators.sweep import interval_overlap_counts

    # pin the sessionized frame: the fused sweep's cut-point preflight
    # and its main pass would otherwise re-run the events scan +
    # session agg — the session table is the operator's working set
    # (orders of magnitude below the event log it condenses)
    sess = pin(_sessions_60m(spark, sf_dir), eager=True)
    counted = interval_overlap_counts(
        sess, F.unix_micros(F.col("s_start")), F.unix_micros(F.col("s_end")),
        out_col="_n_all",
    )
    return counted.select(
        "user_id",
        F.col("s_start").alias("session_start"),
        (F.col("_n_all") - 1).cast("long").alias("n_concurrent"),
    )


def session_overlap_counts_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair-enumerating form of :func:`session_overlap_counts`
    (time-grid bucket join + responsibility-rule dedupe + re-aggregate)
    — kept as the reference plan for the sweep rewrite (equivalence
    pinned in tests/test_intervaljoin.py) and as the template for
    queries that need the overlapping PAIRS themselves, where pair
    enumeration is the answer and the grid join is the right tool."""
    from ..operators.intervaljoin import interval_overlap_join

    sess = _sessions_60m(spark, sf_dir)
    left = sess.select(
        F.col("user_id").alias("u"),
        F.col("s_start").alias("a0"),
        F.col("s_end").alias("a1"),
    )
    right = sess.select(
        F.col("user_id").alias("v"),
        F.col("s_start").alias("b0"),
        F.col("s_end").alias("b1"),
    )
    pairs = interval_overlap_join(
        left, right, "a0", "a1", "b0", "b1",
        bucket_width_s=3600,
        extra_cond=lambda df: F.col("u") != F.col("v"),
    )
    counts = pairs.groupBy(
        F.col("u").alias("user_id"), F.col("a0").alias("s_start")
    ).agg(F.count("*").alias("_n"))
    return (
        sess.join(counts, ["user_id", "s_start"], "left")
        .select(
            "user_id",
            F.col("s_start").alias("session_start"),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_concurrent"),
        )
    )


def session_concurrency_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global concurrency step function: for every distinct session
    start instant, how many sessions (any user) are active — the
    capacity-planning readout over the same 60-minute-gap sessions.
    The peak always occurs at some session start, so the start set IS
    the timeline's support. Same sweep identity as
    :func:`session_overlap_counts` (active at t ⟺ start ≤ t AND
    end ≥ t ⟹ n = #(starts ≤ t) − #(ends < t)), two bucketed
    order-statistic sweeps (operators/sweep.py), no pair enumeration —
    the oracle's non-equi join touches Θ(boundaries × density) pairs
    for this linear-size answer."""
    from ..operators.sweep import count_le_values

    sess = pin(_sessions_60m(spark, sf_dir), eager=True)
    probes = sess.select(F.col("s_start").alias("at_ts")).distinct()
    starts = sess.select(F.unix_micros("s_start").alias("k"))
    ends = sess.select(F.unix_micros("s_end").alias("k"))
    s1 = count_le_values(
        probes, F.unix_micros(F.col("at_ts")), starts, F.col("k"), "_le"
    )
    s2 = count_le_values(
        s1, F.unix_micros(F.col("at_ts")), ends, F.col("k"), "_lt", strict=True
    )
    return s2.select(
        "at_ts", (F.col("_le") - F.col("_lt")).cast("long").alias("n_active")
    )


def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day — the sliding-window
    distinct that plain rollups cannot answer (distincts don't add).
    The engine computes it from DAILY PARTIALS: one pass collapses
    events to distinct (day, user) pairs, a compact day-spine range
    join fans each daily partial into the ≤ 7 windows it serves, and a
    count-distinct per target day finishes. At 100 TB this is the
    stored-sketch pattern: the raw scan happens once to build daily
    partials (persisted in production; KMV/HLL when approximation is
    acceptable — operators/kmv.py, hll_rollup_gate), and any window
    length re-aggregates the partials without touching raw events. The
    fan-out join is on the small spine side (days × 7), never on raw
    rows."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    spine = daily.select("day").distinct().select(
        F.col("day").alias("window_day"),
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("_back"),
    ).select(
        "window_day", F.date_sub(F.col("window_day"), F.col("_back")).alias("day")
    )
    return (
        daily.join(F.broadcast(spine), "day")
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users_7d"))
    )


def user_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's value
    is weighted by how long it was 'current' — the gap to the user's
    next event, in microseconds; a user's last event carries no weight
    (no observed holding period). The per-user window is the natural
    partitioning (users are the parallelism unit; no global sort), Δt
    is exact integer arithmetic, and each value·Δt term is computed in
    identical IEEE order on both engines then decimal-summed, the
    standard float-parity pattern."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_micros(F.col("ts"))).over(w)
    dt = nxt - F.unix_micros(F.col("ts"))
    weighted = events.select(
        "user_id",
        "value",
        dt.alias("dt_us"),
    ).where(F.col("dt_us").isNotNull())
    return weighted.groupBy("user_id").agg(
        F.sum("dt_us").cast("long").alias("observed_us"),
        X.pround(
            F.sum((F.col("value") * F.col("dt_us")).cast(X.DEC)).cast("double")
            / F.sum("dt_us"),
            6,
        ).alias("twap_value"),
    )


def balance_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic ranks — percent_rank + cume_dist of customer balance
    within each nation (distribution-position functions the reference
    lacks; deterministic: rank arithmetic only, no float aggregation).

    Scale shape: NOT a ``Window.partitionBy(nation)`` — 25 nations
    over a corpus-scaled customer table would cap parallelism at 25
    and sort a whole nation per task. The (acctbal, custkey) order key
    is UNIQUE, so percent_rank ≡ (rn−1)/(N−1) and cume_dist ≡ rn/N on
    the per-group row number, which operators/ranks.grouped_row_number
    computes via quantile range-buckets (every window task owns one
    (nation, balance-range) slice)."""
    from ..operators.ranks import grouped_row_number

    cust = load_table(spark, sf_dir, "customer")
    ranked = grouped_row_number(
        cust, ["c_nationkey"], "c_acctbal", tiebreaks=("c_custkey",),
        out_col="_rn", count_col="_n",
    )
    pct = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        (F.col("_rn") - 1) / (F.col("_n") - 1)
    )
    return ranked.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        X.pround(pct, 6).alias("bal_pct_rank"),
        X.pround(F.col("_rn") / F.col("_n"), 6).alias("bal_cume_dist"),
    )


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (attribution) join — purchases matched to the same
    user's clicks within the preceding hour. Shares its implementation
    with the streaming stream-stream join operator
    (streaming/windows.py click_purchase_attribution), so the batch
    oracle here also certifies the streaming join's matching logic."""
    from ..streaming.windows import click_purchase_attribution

    events = load_table(spark, sf_dir, "events")
    return click_purchase_attribution(events)


def user_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: a per-user day spine (sequence+explode over
    each user's [first, last] activity span) left-joined against actual
    daily aggregates, zero-filling silent days. The spine generation is
    expression-only and the join key (user_id, day) matches the
    aggregate's grouping, so it's one shuffle each side."""
    events = load_table(spark, sf_dir, "events")
    spans = events.groupBy("user_id").agg(
        F.date_trunc("DAY", F.min("ts")).alias("d0"),
        F.date_trunc("DAY", F.max("ts")).alias("d1"),
    )
    spine = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    daily = events.groupBy(
        "user_id", F.date_trunc("DAY", "ts").alias("day")
    ).agg(
        F.count("*").alias("n"),
        X.dsum(F.col("value")).alias("v"),
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("v"), F.lit(0.0)).alias("day_value"),
    )


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (bucket width 50): a single
    scan + one tiny-key shuffle; the bucket id is a codegen'd floor
    expression, never a UDF."""
    events = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 50).cast("int")
    return (
        events.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "bucket",
            (F.col("bucket") * 50).cast("double").alias("lo"),
            ((F.col("bucket") + 1) * 50).cast("double").alias("hi"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# TPC-H-style relational queries (join/agg inventory §2.3-2.6)
# --------------------------------------------------------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — partial aggregation (map-side
    combine) is Catalyst-automatic; one shuffle on the 2-key group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        X.dsum(F.col("l_quantity")).alias("sum_qty"),
        X.dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        X.pround(F.sum(X.disc_price()).cast("double")).alias("sum_disc_price"),
        X.pround(F.sum(X.charge()).cast("double")).alias("sum_charge"),
        X.davg(F.col("l_quantity")).alias("avg_qty"),
        X.davg(F.col("l_extendedprice")).alias("avg_price"),
        X.davg(F.col("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: segment filter pushed to the customer scan, two
    equi-joins, top-10 by revenue with deterministic key tie-break."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # cust is ~1/5 of all customers (sf-scaled) — no forced
        # broadcast; AQE picks broadcast at small scale only.
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(X.disc_price()).alias("rev_dec"))
        .orderBy(F.desc("rev_dec"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            X.pround(F.col("rev_dec").cast("double")).alias("revenue"),
        )
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-way join with region filter; dims broadcast."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(X.pround(F.sum(X.disc_price()).cast("double")).alias("revenue"))
    )


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-broadcast-join: top-10 customers by lifetime spend.
    The orders-side aggregate shrinks first; the 10-row result joins
    customer via broadcast — no big-side shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    top = (
        orders.groupBy("o_custkey")
        .agg(F.sum(X.money("o_totalprice")).alias("spent_dec"),
             F.count("*").alias("n_orders"))
        .orderBy(F.desc("spent_dec"), F.asc("o_custkey"))
        .limit(10)
    )
    return (
        cust.join(F.broadcast(top), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            X.pround(F.col("spent_dec").cast("double")).alias("total_spent"),
            "n_orders",
        )
    )


def recent_buyers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (semi-join): customers with ≥1 order in 2001 — left_semi keeps
    only the probe side, no fan-out."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    )


def lapsed_customers_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (anti-join): customers with NO order in 2001 — the dedup/delete
    join shape (backend/db_utils.py:221-225, 320-341)."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


def segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 bonus — ROLLUP over segment × nation (grouping-set capability
    the reference lacks; free in Spark)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.rollup("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("n_customers"),
        X.davg(F.col("c_acctbal")).alias("avg_acctbal"),
    )


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style semi-join: orders with at least one late-shipped
    lineitem, counted by priority."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-frame — per-customer running spend (rowsBetween frame), ordered
    deterministically by (date, key)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        X.pround(F.sum(X.money("o_totalprice")).over(w).cast("double")).alias(
            "running_spend"
        ),
    )


def nation_region_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-broadcast — tiny dim-dim equi-join."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
    )


def big_spenders_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set op — EXCEPT: high-balance customers who are not top-decile
    spenders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = cust.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    big = (
        orders.groupBy("o_custkey")
        .agg(F.sum(X.money("o_totalprice")).alias("spent"))
        .where(F.col("spent") > 400000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return rich.subtract(big)


def engaged_rich_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set op — INTERSECT: customers both high-balance and
    high-order-count."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = cust.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    frequent = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 10)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return rich.intersect(frequent)


QUERIES = {
    "chat_history_topk": chat_history_topk,
    "session_stats": session_stats,
    "unique_sessions": unique_sessions,
    "active_sessions_24h": active_sessions_24h,
    "retention_survivors": retention_survivors,
    "expired_session_purge": expired_session_purge,
    "event_type_counts": event_type_counts,
    "rate_limit_windows": rate_limit_windows,
    "json_props_stats": json_props_stats,
    "props_variant_stats": props_variant_stats,
    "session_previews": session_previews,
    "daily_activity": daily_activity,
    "session_windows": session_windows,
    "session_overlap_counts": session_overlap_counts,
    "session_concurrency_timeline": session_concurrency_timeline,
    "rolling_7d_distinct_users": rolling_7d_distinct_users,
    "user_time_weighted_value": user_time_weighted_value,
    "balance_percentiles": balance_percentiles,
    "purchase_attribution": purchase_attribution,
    "user_daily_gapfill": user_daily_gapfill,
    "value_histogram": value_histogram,
    "pricing_summary": pricing_summary,
    "shipping_priority": shipping_priority,
    "local_supplier_volume": local_supplier_volume,
    "top_customers": top_customers,
    "recent_buyers_semi": recent_buyers_semi,
    "lapsed_customers_anti": lapsed_customers_anti,
    "segment_rollup": segment_rollup,
    "order_priority_check": order_priority_check,
    "running_customer_spend": running_customer_spend,
    "nation_region_dim": nation_region_dim,
    "big_spenders_except": big_spenders_except,
    "engaged_rich_intersect": engaged_rich_intersect,
}


ORACLE = {
    "chat_history_topk": """
        SELECT event_id, ts, user_id, event_type, value, props
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn <= 10
    """,
    "session_stats": """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS message_count,
               min(ts) AS first_message,
               max(ts) AS last_message
        FROM events GROUP BY user_id
    """,
    "unique_sessions": """
        SELECT CAST(count(*) AS BIGINT) AS total_messages,
               CAST(count(DISTINCT user_id) AS BIGINT) AS unique_sessions
        FROM events
    """,
    "active_sessions_24h": """
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS active_sessions
        FROM events
        WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 24 HOUR
    """,
    "retention_survivors": """
        SELECT event_id, ts, user_id, event_type
        FROM events
        WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    """,
    "expired_session_purge": """
        WITH anchor AS (SELECT max(ts) AS a FROM events),
        expired AS (
            SELECT user_id FROM events GROUP BY user_id
            HAVING max(ts) < (SELECT a FROM anchor) - INTERVAL 72 HOUR
        )
        SELECT CAST(count(*) AS BIGINT) AS surviving_rows,
               CAST(count(DISTINCT user_id) AS BIGINT) AS surviving_sessions
        FROM events WHERE user_id NOT IN (SELECT user_id FROM expired)
    """,
    "event_type_counts": f"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               {X.dsum_sql('value')} AS total_value,
               {X.davg_sql('value')} AS avg_value
        FROM events GROUP BY event_type
    """,
    "rate_limit_windows": """
        SELECT user_id, date_trunc('minute', ts) AS window_start,
               CAST(count(*) AS BIGINT) AS n_req
        FROM events GROUP BY 1, 2 HAVING count(*) >= 2
    """,
    "props_variant_stats": """
        SELECT event_type,
               CAST(count(k) AS BIGINT) AS n_k,
               {med} AS median_k,
               CAST(sum(k) AS BIGINT) AS sum_k
        FROM (
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS INT) AS k
            FROM events
        ) GROUP BY event_type
    """.format(med=X.pround_sql("quantile_cont(k, 0.5)", 2)),
    "json_props_stats": """
        SELECT event_type,
               CAST(count(k_val) AS BIGINT) AS n_with_k,
               round(avg(k_val), 2) AS avg_k,
               max(k_val) AS max_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k_val
            FROM events
        ) GROUP BY event_type
    """,
    "session_previews": """
        SELECT user_id, message_count, substring(props, 1, 50) || '...' AS preview
        FROM (
            SELECT user_id, props,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS message_count
            FROM events
        ) WHERE rn = 1
    """,
    "daily_activity": f"""
        SELECT date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               {X.dsum_sql('value')} AS total_value
        FROM events GROUP BY 1
    """,
    "session_windows": """
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts >= lag(ts) OVER w + INTERVAL 60 MINUTE
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), islands AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               CAST(count(*) AS BIGINT) AS n_events,
               {dsum_value} AS session_value
        FROM islands GROUP BY user_id, island
    """.format(dsum_value=X.dsum_sql("value")),
    "session_overlap_counts": """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts >= lag(ts) OVER w + INTERVAL 60 MINUTE
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), islands AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM flagged
        ), sess AS (
            SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
            FROM islands GROUP BY user_id, island
        )
        SELECT x.user_id, x.s_start AS session_start,
               CAST(count(y.user_id) AS BIGINT) AS n_concurrent
        FROM sess x
        LEFT JOIN sess y
          ON x.user_id <> y.user_id
         AND x.s_start <= y.s_end AND y.s_start <= x.s_end
        GROUP BY x.user_id, x.s_start
    """,
    "session_concurrency_timeline": """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts >= lag(ts) OVER w + INTERVAL 60 MINUTE
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), islands AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM flagged
        ), sess AS (
            SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
            FROM islands GROUP BY user_id, island
        ), b AS (
            SELECT DISTINCT s_start AS at_ts FROM sess
        )
        SELECT b.at_ts, CAST(count(*) AS BIGINT) AS n_active
        FROM b JOIN sess s
          ON s.s_start <= b.at_ts AND s.s_end >= b.at_ts
        GROUP BY b.at_ts
    """,
    "rolling_7d_distinct_users": """
        WITH daily AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events WHERE user_id IS NOT NULL
        ), spine AS (
            SELECT DISTINCT day AS window_day FROM daily
        )
        SELECT s.window_day,
               CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users_7d
        FROM spine s
        JOIN daily d
          ON d.day <= s.window_day
         AND d.day >= s.window_day - INTERVAL 6 DAY
        GROUP BY s.window_day
    """,
    "user_time_weighted_value": f"""
        WITH base AS (
            SELECT user_id, value, event_id, epoch_us(ts) AS t
            FROM events
            WHERE user_id IS NOT NULL AND value IS NOT NULL
        ), gaps AS (
            SELECT user_id, value,
                   lead(t) OVER (PARTITION BY user_id
                       ORDER BY t, event_id) - t AS dt_us
            FROM base
        )
        SELECT user_id,
               CAST(sum(dt_us) AS BIGINT) AS observed_us,
               {X.pround_sql(
                   "CAST(sum(CAST(value * dt_us AS " + X.DEC_SQL + "))"
                   " AS DOUBLE) / sum(dt_us)", 6)} AS twap_value
        FROM gaps WHERE dt_us IS NOT NULL
        GROUP BY user_id
    """,
    "balance_percentiles": f"""
        SELECT c_custkey, c_nationkey, c_acctbal,
               {X.pround_sql(
                   "percent_rank() OVER (PARTITION BY c_nationkey "
                   "ORDER BY c_acctbal, c_custkey)", 6)} AS bal_pct_rank,
               {X.pround_sql(
                   "cume_dist() OVER (PARTITION BY c_nationkey "
                   "ORDER BY c_acctbal, c_custkey)", 6)} AS bal_cume_dist
        FROM customer
    """,
    "purchase_attribution": """
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.ts AS click_ts,
               p.ts AS purchase_ts,
               p.value AS purchase_value
        FROM events c
        JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    "user_daily_gapfill": f"""
        WITH spans AS (
            SELECT user_id,
                   date_trunc('day', min(ts)) AS d0,
                   date_trunc('day', max(ts)) AS d1
            FROM events GROUP BY user_id
        ), spine AS (
            SELECT user_id,
                   unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM spans
        ), daily AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(count(*) AS BIGINT) AS n,
                   {X.dsum_sql('value')} AS v
            FROM events GROUP BY 1, 2
        )
        SELECT s.user_id, s.day,
               coalesce(n, 0) AS n_events,
               coalesce(v, 0.0) AS day_value
        FROM spine s LEFT JOIN daily d
          ON s.user_id = d.user_id AND s.day = d.day
    """,
    "value_histogram": """
        SELECT CAST(floor(value / 50) AS INT) AS bucket,
               CAST(floor(value / 50) AS INT) * CAST(50 AS DOUBLE) AS lo,
               (CAST(floor(value / 50) AS INT) + 1) * CAST(50 AS DOUBLE) AS hi,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    """,
    "pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {X.dsum_sql('l_quantity')} AS sum_qty,
               {X.dsum_sql('l_extendedprice')} AS sum_base_price,
               {X.pround_sql(f'CAST(sum({X.DISC_PRICE_SQL}) AS DOUBLE)')} AS sum_disc_price,
               {X.pround_sql(f'CAST(sum({X.CHARGE_SQL}) AS DOUBLE)')} AS sum_charge,
               {X.davg_sql('l_quantity')} AS avg_qty,
               {X.davg_sql('l_extendedprice')} AS avg_price,
               {X.davg_sql('l_discount', 4)} AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "shipping_priority": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               {X.pround_sql(f'CAST(sum({X.DISC_PRICE_SQL}) AS DOUBLE)')} AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY sum({X.DISC_PRICE_SQL}) DESC, l_orderkey ASC
        LIMIT 10
    """,
    "local_supplier_volume": f"""
        SELECT n_name,
               {X.pround_sql(f'CAST(sum({X.DISC_PRICE_SQL}) AS DOUBLE)')} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "top_customers": """
        WITH top AS (
            SELECT o_custkey,
                   {pr_spent}
                       AS total_spent,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY o_custkey
            ORDER BY sum(CAST(o_totalprice AS DECIMAL(12,2))) DESC, o_custkey ASC
            LIMIT 10
        )
        SELECT c_custkey, c_name, total_spent, n_orders
        FROM customer JOIN top ON c_custkey = o_custkey
    """.format(pr_spent=X.pround_sql(
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)")),
    "recent_buyers_semi": """
        SELECT c_custkey, c_name, c_nationkey FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    """,
    "lapsed_customers_anti": """
        SELECT c_custkey, c_name, c_nationkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    """,
    "segment_rollup": """
        SELECT c_mktsegment, c_nationkey,
               CAST(count(*) AS BIGINT) AS n_customers,
               {davg} AS avg_acctbal
        FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    """.format(davg=X.davg_sql("c_acctbal")),
    "order_priority_check": """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    "running_customer_spend": """
        SELECT o_orderkey, o_custkey, o_orderdate,
               {pr_running} AS running_spend
        FROM orders
    """.format(pr_running=X.pround_sql(
        """CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)""")),
    "nation_region_dim": """
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    "big_spenders_except": """
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        EXCEPT
        SELECT o_custkey AS custkey FROM orders
        GROUP BY o_custkey HAVING sum(CAST(o_totalprice AS DECIMAL(12,2))) > 400000
    """,
    "engaged_rich_intersect": """
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
        GROUP BY o_custkey HAVING count(*) >= 10
    """,
}
