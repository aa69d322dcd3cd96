"""Second-wave §2 coverage: derived-arithmetic stats (A9/F15), unpivot
(the message-role fan-out shape), ordered scans + limits (W2/W5/W6),
CUBE grouping sets, lead/lag frames, validation predicates (P7/P9), and
the timezone countdown (F11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact as X
from ..session import local_table


def api_call_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — the /api-stats endpoint's derived arithmetic (4 calls → 3
    calls per message, 25% saving; reference backend/main.py:494-511)."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(F.count("*").alias("total_messages")).select(
        "total_messages",
        (F.col("total_messages") * 4).alias("old_api_calls"),
        (F.col("total_messages") * 3).alias("new_api_calls"),
        (F.col("total_messages")).alias("calls_saved"),
        F.lit(25.0).alias("cost_reduction_pct"),
    )


def unpivot_event_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row→two-messages unpivot (backend/db_utils.py:126-133)
    via stack: each event yields a ('type', event_type) and a
    ('props', props) row."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "user_id",
        F.expr("stack(2, 'type', event_type, 'props', props) AS (field, val)"),
    )


def doc_catalog_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W5 — the /list-docs ordered catalog scan with LIMIT
    (backend/db_utils.py:253-257), deterministic tie-break on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "source", "lang", "n_chars")
    )


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets the reference lacks (free in Spark): CUBE over
    status × priority with exact money sums."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        X.dsum(F.col("o_totalprice")).alias("total_value"),
    )


def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag frame — per-user inter-event gap in microseconds (the
    inactivity measure behind session expiry, backend/db_utils.py:304-348)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return events.select(
        "event_id",
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev)).alias("gap_us"),
    )


def validation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P9 — the Pydantic edge checks as column predicates: length
    bounds (1..2000, models.py:25-30), non-blank (models.py:41-48),
    alnum-hyphen id shape (models.py:50-61)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (F.length("text").between(1, 2000)).alias("len_ok"),
        (F.length(F.trim("text")) > 0).alias("nonblank"),
        F.col("source").rlike("^[A-Za-z0-9-]+$").alias("source_id_ok"),
        (F.length("text") == F.col("n_chars")).alias("n_chars_consistent"),
    )


def segment_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15-style derived percentages: per-segment customer share via a
    window over the aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    per_seg = cust.groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    total = Window.partitionBy()
    return per_seg.select(
        "c_mktsegment",
        "n_customers",
        X.pround(F.col("n_customers") * 100.0 / F.sum("n_customers").over(total), 2).alias(
            "pct_share"
        ),
    )


def midnight_pt_countdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — seconds until the next midnight US/Pacific for each event
    (the Gemini quota-reset computation, backend/main.py:180-188).
    January fixtures sit safely inside PST (no DST edge)."""
    events = load_table(spark, sf_dir, "events")
    local = F.from_utc_timestamp(F.col("ts"), "America/Los_Angeles")
    secs_into_day = F.unix_timestamp(local) % 86400
    return events.select(
        "event_id",
        (F.lit(86400) - secs_into_day).alias("seconds_to_reset"),
    )


def iso_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — ISO-8601 timestamp formatting (datetime.utcnow().isoformat(),
    backend/main.py:130,174)."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
        F.date_format("ts", "yyyy-MM-dd").alias("iso_date"),
    )


def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregate (linear interpolation — same spec as
    DuckDB quantile_cont) per event type."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        X.pround(F.expr("percentile(value, 0.5)"), 2).alias("median_value"),
        X.pround(F.expr("percentile(value, 0.9)"), 2).alias("p90_value"),
    )


def customer_revenue_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: per-customer 1996-H1 revenue, top 20, joined to
    nation (broadcast) — agg-then-join keeps the wide join small."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(X.disc_price()).alias("rev_dec"))
        .orderBy(F.desc("rev_dec"), F.asc("o_custkey"))
        .limit(20)
    )
    return (
        cust.join(F.broadcast(rev), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            X.pround(F.col("rev_dec").cast("double")).alias("revenue"),
        )
    )


def priority_shipmode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: conditional aggregation after a fact-fact join —
    per linestatus, how many high- vs low-priority orders shipped late
    (ship > order + 90 days). CASE-sum keeps it one pass."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: promo revenue share — conditional decimal-exact
    numerator over the full revenue denominator. `part` is sf-scaled,
    so no forced broadcast: Catalyst/AQE picks broadcast below the size
    threshold and a shuffled join above it."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    promo = F.col("p_type").startswith("PROMO")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    num = F.sum(F.when(promo, X.disc_price()).otherwise(F.lit(0).cast("decimal(24,6)")))
    den = F.sum(X.disc_price())
    return joined.agg(
        X.pround(F.lit(100.0) * num.cast("double") / den.cast("double"), 4).alias(
            "promo_revenue_pct"
        ),
        X.pround(den.cast("double"), 2).alias("total_revenue"),
    )


def health_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /health endpoint's component probe (reference
    backend/main.py:125-168: DB row counts + vector-store count) as one
    unioned aggregate over the engine's stores."""
    parts = []
    for name in ("events", "documents", "embeddings"):
        df = load_table(spark, sf_dir, name)
        parts.append(
            df.agg(F.count("*").alias("row_count")).select(
                F.lit(name).alias("component"),
                "row_count",
                (F.col("row_count") > 0).alias("healthy"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide format: per-user counts of each event type (the
    session-feature matrix shape). Explicit value list keeps the pivot
    a single pass (no distinct-values pre-query)."""
    events = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .select("user_id", *[F.col(t).alias(f"n_{t}") for t in types])
    )


def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style OR-of-ANDs across a join: revenue from three
    disjoint (brand × size × quantity) bands. Catalyst splits the
    disjunction into join-key + residual filters; the common subterms
    still push to the scans."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # part is sf-scaled — no forced broadcast; AQE decides per run.
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    band1 = (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 10)
    band2 = (F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 20)
    band3 = (F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 30)
    return j.where(band1 | band2 | band3).agg(
        F.count("*").alias("n_lines"),
        X.pround(F.sum(X.disc_price()).cast("double"), 2).alias("revenue"),
    )


def doc_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-search scan: LIKE/contains predicates push to the
    parquet reader (StringContains filter); per-source hit counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").contains("spark") & (F.col("lang") == "en"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_hits"),
            X.davg(F.col("n_chars")).alias("avg_len"),
        )
    )


def moving_avg_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-frame window: 7-day moving average of daily order revenue
    (rangeBetween on day numbers, not rows — calendar gaps count)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(X.money("o_totalprice")).alias("rev_dec")
    )
    w = (
        Window.orderBy(F.datediff(F.col("day"), F.lit("1995-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "day",
        X.pround(F.col("rev_dec").cast("double")).alias("daily_revenue"),
        X.pround(
            F.sum(F.col("rev_dec")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            2,
        ).alias("ma7_revenue"),
    )


def revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative day-of-week seasonal index of daily revenue
    (index > 1 = that weekday runs hot) — the decomposition step that
    pairs with Q(revenue_autocorrelation)'s lag-7 readout. Weekday is
    computed PORTABLY as days-since-a-known-Monday mod 7 (0 = Monday)
    — never the engines' dayofweek(), whose origin conventions differ.
    Exact decimal cents throughout; index = (dow mean)/(global mean)
    as one mirrored double expression (the global side is a 1-row
    broadcast)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(X.money("o_totalprice")) * 100).cast("long").alias("cents")
    )
    dow = F.pmod(
        F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")), F.lit(7)
    )
    per_dow = daily.groupBy(dow.alias("dow")).agg(
        F.count("*").alias("n_days"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("_c"),
    )
    tot = per_dow.agg(
        F.sum("n_days").alias("_tn"), F.sum("_c").alias("_tc")
    )  # 1-row scalar
    mean_dow = F.col("_c").cast("double") / F.col("n_days").cast("double")
    mean_all = F.col("_tc").cast("double") / F.col("_tn").cast("double")
    return per_dow.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_days",
        X.pround(mean_dow / 100.0, 2).alias("avg_revenue"),
        X.pround(mean_dow / mean_all, 6).alias("seasonal_index"),
    )


ACF_MAX_LAG = 7


def revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..ACF_MAX_LAG
    — the weekly-seasonality / momentum readout (a lag-7 spike = weekly
    cycle). Pearson correlation of (rₜ₋ℓ, rₜ) per lag by the exact-
    moments recipe: pairs form by the map-side explode of each day to
    its ℓ-shifted targets (one day-keyed equi join, no window, no
    self-join fan-out); per-row products in DECIMAL(18,0)² (exact up to
    10¹⁸ daily cents), sums in DECIMAL(38,0), one mirrored double
    expression per lag."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(X.money("o_totalprice")) * 100).cast("long").alias("cents")
    )
    shifted = daily.select(
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
        F.col("day"),
        F.col("cents").alias("x"),
    ).select("lag", F.date_add("day", F.col("lag")).alias("day"), "x")
    pairs = shifted.join(
        daily.select("day", F.col("cents").alias("y")), "day"
    )
    d18 = "decimal(18,0)"
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("x").cast(X.DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(X.DEC)).cast("double").alias("sy"),
        F.sum(F.col("x").cast(d18) * F.col("y").cast(d18)).cast("double").alias("sxy"),
        F.sum(F.col("x").cast(d18) * F.col("x").cast(d18)).cast("double").alias("sxx"),
        F.sum(F.col("y").cast(d18) * F.col("y").cast(d18)).cast("double").alias("syy"),
    )
    acf = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        X.pround(acf, 6).alias("acf"),
    )


def revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over daily revenue: Sₜ = Σ_{s≤t}(rₛ − μ)
    with μ the full-period daily mean — the classic change-point
    statistic (the day of max |S| is the most likely shift point,
    flagged as is_peak). Exact arithmetic: the rational mean never
    materializes — Sₜ is reported from the integer identity
    n·Sₜ = n·cumsumₜ − t_idx·total (cents × n in DECIMAL/HUGEINT),
    divided back out in one mirrored double expression.

    Scale shape: both running sums (revenue and day index) come from
    operators/prefix.py's bucketed prefix sums — no global window even
    though the daily table is calendar-bounded (the same plan then
    serves per-key CUSUM at 100 TB); the peak flag is one 1-row
    aggregate broadcast."""
    from ..operators.prefix import grouped_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg((F.sum(X.money("o_totalprice")) * 100).cast("long").alias("cents"))
        .withColumn("_g", F.lit(0))
        # numeric surrogate of the date for the bucketed prefix key
        .withColumn("_dn", F.datediff("day", F.lit("1970-01-01").cast("date")))
    )
    totals = daily.agg(
        F.count("*").alias("_n"), F.sum("cents").alias("_tot")
    ).collect()[0]  # two bounded scalars (day count, grand total)
    n_days, total = int(totals["_n"]), int(totals["_tot"])
    c1 = grouped_prefix_sum(daily, ["_g"], "_dn", F.col("cents"), out_col="_rb", exact=True)
    c2 = grouped_prefix_sum(c1, ["_g"], "_dn", F.lit(1), out_col="_ib", exact=True)
    s = c2.select(
        "day",
        (F.col("cents") / 100.0).alias("daily_revenue"),
        (
            F.lit(n_days).cast("decimal(38,0)")
            * (F.col("_rb").cast("long") + F.col("cents")).cast("decimal(38,0)")
            - (F.col("_ib").cast("long") + F.lit(1)).cast("decimal(38,0)")
            * F.lit(total).cast("decimal(38,0)")
        ).alias("_ns"),
    )
    cusum = F.col("_ns").cast("double") / F.lit(float(n_days)) / 100.0
    scored = s.select("day", "daily_revenue", cusum.alias("cusum"), "_ns")
    peak = scored.agg(F.max(F.abs(F.col("_ns"))).alias("_peak"))  # 1 row
    return (
        scored.crossJoin(F.broadcast(peak))
        .select(
            "day",
            "daily_revenue",
            "cusum",
            (F.abs(F.col("_ns")) == F.col("_peak")).alias("is_peak"),
        )
    )


KM_HORIZON_US = 6 * 3_600_000_000  # censor users active in the final 6 h
_KM_UNIT_US = 3_600_000_000  # lifetime measured in whole hours
_LN_SCALE = 100_000_000  # ln terms quantized to 1e-8 for exact prefix sums


def user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimate of user lifetime (HOURS between a
    user's first and last event), right-censoring users still active in
    the final KM_HORIZON window (the events fixture is a ~30-day pulse
    of continuously-active users, so the churn signal lives at hour
    granularity) — the churn/retention curve read off
    correctly in the presence of users who simply haven't churned YET
    (naive "avg lifetime" undercounts exactly those).

    S(t) = Π_{s ≤ t} (1 − d_s / n_s) over event times s with deaths;
    n_s (at-risk) counts every user with lifetime ≥ s (censored users
    leave the risk set after their censoring time, per the standard
    estimator). All in epoch-microsecond integer arithmetic (timezone-
    free); the cumulative ln-product runs over terms quantized to 1e-8
    (exact integer prefix sums via operators/prefix.py — no global
    window over the corpus; the per-t table is calendar-bounded), with
    the one ln/exp libm-ulp residual the repo accepts (operators/
    bm25.py argument). A day where everyone at risk dies yields exact
    survival 0.0 (the ln(0) row is excluded from the product)."""
    from ..operators.prefix import grouped_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("_max_us"))  # 1-row scalar
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("_first_us"),
            F.max(F.unix_micros("ts")).alias("_last_us"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.expr(f"(_last_us - _first_us) DIV {_KM_UNIT_US}").alias("t"),
            (F.col("_last_us") > F.col("_max_us") - F.lit(KM_HORIZON_US)).alias(
                "_censored"
            ),
        )
    )
    n_users = u.count()  # one exact integer crosses the driver
    per_t = u.groupBy("t").agg(
        F.sum(F.when(~F.col("_censored"), 1).otherwise(0)).alias("d"),
        F.count("*").alias("_leaving"),
    ).withColumn("_g", F.lit(0))
    cum = grouped_prefix_sum(per_t, ["_g"], "t", F.col("_leaving"), out_col="_before", exact=True)
    r = cum.select(
        "t", "d",
        (F.lit(n_users) - F.col("_before").cast("long")).alias("n_at_risk"),
    )
    ln_term = F.log(
        F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk").cast("double")
    )
    term = r.withColumn(
        "_ti",
        F.when(
            F.col("d") < F.col("n_at_risk"),
            F.floor(ln_term * _LN_SCALE + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    ).withColumn("_g", F.lit(0))
    cum2 = grouped_prefix_sum(term, ["_g"], "t", F.col("_ti"), out_col="_lnb", exact=True)
    surv = F.when(F.col("d") == F.col("n_at_risk"), F.lit(0.0)).otherwise(
        X.pround(
            F.exp(
                (F.col("_lnb").cast("long") + F.col("_ti")).cast("double")
                / F.lit(float(_LN_SCALE))
            ),
            6,
        )
    )
    return (
        cum2.where(F.col("d") > 0)
        .select("t", "d", "n_at_risk", surv.alias("survival"))
    )


EWMA_SPAN = 30  # trailing calendar-day horizon of the decay kernel


def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with a
    DYADIC half-life-1-day kernel truncated at EWMA_SPAN days: weight
    2^(span−1−lag), normalized over the days actually present (calendar
    gaps contribute nothing). Dyadic integer weights make the weighted
    numerator an EXACT integer (cents × power-of-two, accumulated in
    decimal/hugeint), so the only float op is the final division —
    mirrored verbatim in the oracle.

    Scale shape: no global window (contrast moving_avg_daily_revenue's
    whitelisted bounded window) — each daily row map-side EXPLODES into
    its ≤ span target days and the kernel sum is one hash aggregation
    on the day key, the pattern that holds when "daily" becomes
    "per-key-per-day" at 100 TB. The final join is day-keyed equi."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(X.money("o_totalprice")) * 100).cast("long").alias("cents")
    )
    span = EWMA_SPAN
    contrib = daily.select(
        "day", "cents",
        F.explode(F.sequence(F.lit(0), F.lit(span - 1))).alias("k"),
    ).select(
        F.date_add("day", F.col("k")).alias("day"),
        "cents",
        F.pow(F.lit(2.0), F.lit(span - 1) - F.col("k")).cast("long").alias("w"),
    )
    agg = contrib.groupBy("day").agg(
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("w")).alias("num"),
        F.sum("w").alias("den"),
    )
    return daily.join(agg, "day").select(
        "day",
        (F.col("cents") / 100.0).alias("daily_revenue"),
        (
            F.col("num").cast("double") / F.col("den").cast("double") / 100.0
        ).alias("ewma_revenue"),
    )


USER_EWMA_SPAN = 7  # weekly per-user decay kernel
_VAL_SCALE = 1_000_000  # event values quantized to 1e-6 for exact sums


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-KEY exponential smoothing — ewma_daily_revenue's kernel
    applied per user (the per-entity engagement trend a personalization
    pipeline recomputes daily over billions of keys). This is the query
    shape that PROVES the explode+hash-agg EWMA plan scales: the
    grouping key rides the same shuffle, so a hot user never pins a
    window task (there is no window). Values are quantized to 1e-6
    (the covariance trick) so the dyadic-weighted numerator stays an
    exact integer."""
    events = load_table(spark, sf_dir, "events")
    span = USER_EWMA_SPAN
    daily = events.where(F.col("value").isNotNull()).groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * _VAL_SCALE + F.lit(0.5)).cast("long")
        ).alias("units")
    )
    contrib = daily.select(
        "user_id", "day", "units",
        F.explode(F.sequence(F.lit(0), F.lit(span - 1))).alias("k"),
    ).select(
        "user_id",
        F.date_add("day", F.col("k")).alias("day"),
        "units",
        F.pow(F.lit(2.0), F.lit(span - 1) - F.col("k")).cast("long").alias("w"),
    )
    agg = contrib.groupBy("user_id", "day").agg(
        F.sum(F.col("units").cast("decimal(38,0)") * F.col("w")).alias("num"),
        F.sum("w").alias("den"),
    )
    return daily.join(agg, ["user_id", "day"]).select(
        "user_id",
        "day",
        (F.col("units").cast("double") / F.lit(float(_VAL_SCALE))).alias(
            "daily_value"
        ),
        (
            F.col("num").cast("double")
            / F.col("den").cast("double")
            / F.lit(float(_VAL_SCALE))
        ).alias("ewma_value"),
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by first-activity
    week, activity tracked as distinct (user, week) pairs, retention =
    active-in-week / cohort size. Two aggregations plus one join on the
    cohort week — the per-user first-event agg and the (user, week)
    distinct both map-side combine, and the cohort-size side is
    week-cardinality (fixed by calendar span, broadcastable)."""
    events = load_table(spark, sf_dir, "events")
    week = F.to_date(F.date_trunc("week", F.col("ts")))
    firsts = events.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    activity = events.select("user_id", week.alias("week")).distinct()
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            X.pround(F.col("n_active") / F.col("cohort_size"), 4).alias(
                "retention"
            ),
        )
    )


def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (the dbt-test/Deequ shape): FK
    orphans as anti-joins, PK duplicates as a grouped HAVING, null/range
    checks as filters — one row of violation counts. Every check is a
    key-shuffled anti-join or map-side-combined count; nothing
    broadcasts the fact side, so the audit runs at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    orphan_li = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti"
    ).count()
    orphan_orders = orders.join(
        cust, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    ).count()
    dup_pk = (
        orders.groupBy("o_orderkey")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    bad_rows = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_custkey"
        )
    ).first()["null_custkey"]
    neg_qty = li.where(F.col("l_quantity") <= 0).count()
    return local_table(
        spark,
        [
            (
                int(orphan_li),
                int(orphan_orders),
                int(dup_pk),
                int(bad_rows or 0),
                int(neg_qty),
                orphan_li == orphan_orders == dup_pk == neg_qty == 0
                and not bad_rows,
            )
        ],
        "orphan_lineitems long, orphan_orders long, dup_orderkeys long,"
        " null_custkeys long, nonpositive_qty long, passed boolean",
    )


def event_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the event stream's user ids (operators/
    freq.py): EXACT counts for every user above 0.8% of traffic via the
    two-pass Misra-Gries plan — per-partition bounded summaries →
    O(1/phi) candidate broadcast → exact recount. Only candidate keys
    ever enter a shuffle, so the plan is indifferent to the distinct-
    user cardinality (the naive groupBy shuffles the whole domain)."""
    from ..operators.freq import heavy_hitters

    events = load_table(spark, sf_dir, "events")
    return heavy_hitters(events, "user_id", phi=0.008)


def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries (operators/cms.py) against exact
    counts: build a (4 × 1024) sketch over every event's user_id in one
    shuffle, estimate the first 25 user ids, join the exact counts.
    Output (user_id, est, exact_cnt, overcount) — overcount >= 0 is the
    CMS guarantee, and the whole pipeline (md5 bucket placement,
    counter sums, min-over-rows) is recomputed by the DuckDB oracle, so
    the hash check proves the sketch math, not just its error bound."""
    from ..operators.cms import cms_build, cms_estimate

    ev = load_table(spark, sf_dir, "events").select("user_id")
    sk = cms_build(ev, "user_id", width=1024, depth=4)
    keys = ev.where(F.col("user_id") < 25)
    est = cms_estimate(sk, keys, "user_id", width=1024, depth=4)
    exact = keys.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    return est.join(exact, "user_id").select(
        "user_id",
        "est",
        "exact_cnt",
        (F.col("est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users via the KMV bottom-k sketch
    (operators/kmv.py) in its EXHAUSTIVE configuration: k ≥ |distinct|
    means the sketch holds every distinct hash, so the count is exact
    and the COUNT(DISTINCT) oracle checks the whole sketch pipeline
    (JVM-side hashing, bounded per-partition k-min state, grouped
    summary merge) — the knn_ivf_exhaustive move. The scale path runs
    the same plan at k ≪ distinct (kmv_overlap_gate)."""
    from ..operators.kmv import kmv_sketch_grouped

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch_grouped(ev, "event_type", "user_id", 100_000)
    return sk.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users")
    )


def kmv_overlap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only gate for the KMV ESTIMATION paths (not SQL-
    expressible): per event-type pair, the k=64 sketch overlap estimate
    must sit within the estimator's error envelope of the exact
    intersection, and the exhaustive-k intersection must equal exact
    EXACTLY. Sketch collects are bounded: ≤ k rows per group."""
    from collections import defaultdict

    from ..operators.kmv import kmv_intersection, kmv_sketch_grouped

    ev = load_table(spark, sf_dir, "events")
    small = defaultdict(list)
    for r in kmv_sketch_grouped(ev, "event_type", "user_id", 64).collect():
        small[r["event_type"]].append(r["uk"])
    full = defaultdict(set)
    for r in kmv_sketch_grouped(ev, "event_type", "user_id", 100_000).collect():
        full[r["event_type"]].add(r["uk"])
    rows = []
    types = sorted(full)
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            true = float(len(full[a] & full[b]))
            est = kmv_intersection(small[a], small[b], 64)
            exh = kmv_intersection(list(full[a]), list(full[b]), 100_000)
            rel = abs(est - true) / true if true else abs(est)
            rows.append(
                (
                    f"{a}|{b}",
                    int(true),
                    round(est, 2),
                    round(rel, 4),
                    bool(exh == true and rel <= 0.35),
                )
            )
    return local_table(
        spark,
        rows,
        "pair string, exact long, estimate double, rel_err double, "
        "passed boolean",
    )


def zorder_order_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering keys for the orders fact table over
    (o_custkey, order day): the FIXED-MASK (re-scale-free, hence
    incremental-write-compatible and oracle-mirrorable) variant of the
    clustered-write layout in sources/zorder.py — pruning demonstrated
    against real written footers in tests/test_zorder.py. Pure
    shift/mask/or integer arithmetic inside whole-stage codegen; the
    oracle evaluates the bit interleave as portable divide/modulo
    arithmetic — the same function, provably, term by term."""
    from ..sources.zorder import morton_key

    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01")))
    return orders.select(
        "o_orderkey",
        morton_key(F.col("o_custkey"), day, bits=16).alias("zkey"),
    )


def value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clipping (winsorization) of event values at the exact
    p01/p99 quantiles — the standard robust-feature step before
    training. The two cut points are ONE 1-row aggregate broadcast
    into the clip projection (never collected to the driver, never a
    per-row subquery); the clip itself is codegen'd
    least/greatest."""
    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cuts = F.broadcast(
        events.agg(
            F.expr("percentile(value, 0.01)").alias("_lo"),
            F.expr("percentile(value, 0.99)").alias("_hi"),
        )
    )
    return events.crossJoin(cuts).select(
        "event_id",
        X.pround(F.col("value"), 6).alias("value"),
        X.pround(
            F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi")), 6
        ).alias("value_winsorized"),
        (
            (F.col("value") < F.col("_lo")) | (F.col("value") > F.col("_hi"))
        ).alias("clipped"),
    )


def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: |A∩B|, Jaccard,
    and containment for every unordered type pair — the exact
    ground-truth the KMV overlap estimator (kmv_overlap_gate)
    approximates at corpus scale. Plan shape: ONE distinct
    (user, type) pass, a per-user self-join whose fan-out is bounded
    by types-per-user² (single digits — never a user×user join), then
    a count per type pair; |A∪B| = |A|+|B|−|A∩B| from the same
    distinct pass, so nothing scans raw events twice."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    ut = events.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "n_both",
            X.pround(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
            X.pround(
                F.col("n_both") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
        )
    )


QUERIES = {
    "zorder_order_keys": zorder_order_keys,
    "value_winsorized": value_winsorized,
    "audience_overlap_matrix": audience_overlap_matrix,
    "kmv_distinct_users": kmv_distinct_users,
    "cms_user_counts": cms_user_counts,
    "kmv_overlap_gate": kmv_overlap_gate,
    "cohort_retention": cohort_retention,
    "constraint_audit": constraint_audit,
    "event_heavy_hitters": event_heavy_hitters,
    "disjunctive_predicate_revenue": disjunctive_predicate_revenue,
    "doc_text_search": doc_text_search,
    "moving_avg_daily_revenue": moving_avg_daily_revenue,
    "ewma_daily_revenue": ewma_daily_revenue,
    "user_survival_curve": user_survival_curve,
    "revenue_cusum": revenue_cusum,
    "user_value_ewma": user_value_ewma,
    "revenue_autocorrelation": revenue_autocorrelation,
    "revenue_seasonality": revenue_seasonality,
    "user_event_pivot": user_event_pivot,
    "health_status": health_status,
    "priority_shipmode_counts": priority_shipmode_counts,
    "promo_revenue_share": promo_revenue_share,
    "iso_timestamps": iso_timestamps,
    "median_value_by_type": median_value_by_type,
    "customer_revenue_q10": customer_revenue_q10,
    "api_call_savings": api_call_savings,
    "unpivot_event_fields": unpivot_event_fields,
    "doc_catalog_list": doc_catalog_list,
    "cube_order_stats": cube_order_stats,
    "event_gaps": event_gaps,
    "validation_flags": validation_flags,
    "segment_share": segment_share,
    "midnight_pt_countdown": midnight_pt_countdown,
}


ORACLE = {
    "zorder_order_keys": None,  # filled below (generated bit-arith SQL)
    "audience_overlap_matrix": f"""
        WITH ut AS (
            SELECT DISTINCT user_id, event_type FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        ), sizes AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM ut GROUP BY event_type
        ), inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_both
            FROM ut a JOIN ut b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
               {X.pround_sql("i.n_both * 1.0 / (sa.n + sb.n - i.n_both)", 6)}
                   AS jaccard,
               {X.pround_sql("i.n_both * 1.0 / least(sa.n, sb.n)", 6)}
                   AS containment
        FROM inter i
        JOIN sizes sa ON sa.event_type = i.type_a
        JOIN sizes sb ON sb.event_type = i.type_b
    """,
    "value_winsorized": f"""
        WITH cuts AS (
            SELECT quantile_cont(value, 0.01) AS lo,
                   quantile_cont(value, 0.99) AS hi
            FROM events WHERE value IS NOT NULL
        )
        SELECT event_id,
               {X.pround_sql("value", 6)} AS value,
               {X.pround_sql("least(greatest(value, lo), hi)", 6)}
                   AS value_winsorized,
               (value < lo OR value > hi) AS clipped
        FROM events CROSS JOIN cuts
        WHERE value IS NOT NULL
    """,
    "kmv_distinct_users": """
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY event_type
    """,
    "cms_user_counts": """
        WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
        dd AS (SELECT unnest(generate_series(0, 3)) AS row),
        buckets AS (
            SELECT row,
                   ('0x' || substr(md5(row::VARCHAR || '|' || user_id::VARCHAR),
                    1, 15))::BIGINT % 1024 AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM ev, dd GROUP BY 1, 2
        ), keys AS (SELECT DISTINCT user_id FROM ev WHERE user_id < 25),
        kc AS (
            SELECT k.user_id, d.row,
                   ('0x' || substr(md5(d.row::VARCHAR || '|' || k.user_id::VARCHAR),
                    1, 15))::BIGINT % 1024 AS bucket
            FROM keys k, dd d
        ), est AS (
            SELECT kc.user_id, CAST(min(COALESCE(b.cnt, 0)) AS BIGINT) AS est
            FROM kc LEFT JOIN buckets b
              ON b.row = kc.row AND b.bucket = kc.bucket
            GROUP BY kc.user_id
        ), exact AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
            FROM ev WHERE user_id < 25 GROUP BY user_id
        )
        SELECT e.user_id, e.est, x.exact_cnt,
               CAST(e.est - x.exact_cnt AS BIGINT) AS overcount
        FROM est e JOIN exact x ON e.user_id = x.user_id
    """,
    "event_heavy_hitters": """
        SELECT user_id, count(*) AS cnt
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
        HAVING count(*) > 0.008 *
            (SELECT count(*) FROM events WHERE user_id IS NOT NULL)
    """,
    "cohort_retention": """
        WITH firsts AS (
            SELECT user_id,
                   min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS week
            FROM events
        ), sizes AS (
            SELECT cohort_week, count(*) AS cohort_size
            FROM firsts GROUP BY cohort_week
        )
        SELECT a.cohort_week,
               CAST(date_diff('day', a.cohort_week, a.week) / 7 AS INT)
                   AS week_offset,
               CAST(a.n_active AS BIGINT) AS n_active,
               CAST(s.cohort_size AS BIGINT) AS cohort_size,
               {pr} AS retention
        FROM (
            SELECT f.cohort_week, act.week, count(*) AS n_active
            FROM activity act JOIN firsts f ON act.user_id = f.user_id
            GROUP BY f.cohort_week, act.week
        ) a JOIN sizes s ON a.cohort_week = s.cohort_week
    """.format(pr=X.pround_sql("a.n_active * 1.0 / s.cohort_size", 4)),
    "constraint_audit": """
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM lineitem
             l WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE l.l_orderkey = o.o_orderkey))
                AS orphan_lineitems,
            (SELECT CAST(count(*) AS BIGINT) FROM orders
             o WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE o.o_custkey = c.c_custkey))
                AS orphan_orders,
            (SELECT CAST(count(*) AS BIGINT) FROM (
                SELECT o_orderkey FROM orders
                GROUP BY o_orderkey HAVING count(*) > 1))
                AS dup_orderkeys,
            (SELECT CAST(count(*) AS BIGINT) FROM orders
             WHERE o_custkey IS NULL) AS null_custkeys,
            (SELECT CAST(count(*) AS BIGINT) FROM lineitem
             WHERE l_quantity <= 0) AS nonpositive_qty,
            (SELECT count(*) FROM lineitem
             l WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE l.l_orderkey = o.o_orderkey)) = 0
            AND (SELECT count(*) FROM orders
                 o WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE o.o_custkey = c.c_custkey)) = 0
            AND (SELECT count(*) FROM (
                SELECT o_orderkey FROM orders
                GROUP BY o_orderkey HAVING count(*) > 1)) = 0
            AND (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0
            AND (SELECT count(*) FROM lineitem WHERE l_quantity <= 0) = 0
                AS passed
    """,
    "disjunctive_predicate_revenue": f"""
        SELECT CAST(count(*) AS BIGINT) AS n_lines,
               {X.pround_sql("CAST(sum(" + X.DISC_PRICE_SQL + ") AS DOUBLE)", 2)} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 10)
           OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 20)
           OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 30)
    """,
    "doc_text_search": f"""
        SELECT source, CAST(count(*) AS BIGINT) AS n_hits,
               {X.davg_sql("n_chars")} AS avg_len
        FROM documents
        WHERE text LIKE '%spark%' AND lang = 'en'
        GROUP BY source
    """,
    "revenue_seasonality": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), per_dow AS (
            SELECT (day - DATE '1970-01-05') % 7 AS dow,
                   CAST(count(*) AS BIGINT) AS n_days,
                   sum(CAST(cents AS HUGEINT)) AS c
            FROM daily GROUP BY 1
        ), t AS (
            SELECT sum(n_days) AS tn, sum(c) AS tc FROM per_dow
        )
        SELECT CAST(dow AS INT) AS dow, n_days,
               {X.pround_sql(
                   "CAST(c AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0", 2)}
                   AS avg_revenue,
               {X.pround_sql(
                   "(CAST(c AS DOUBLE) / CAST(n_days AS DOUBLE))"
                   " / (CAST(t.tc AS DOUBLE) / CAST(t.tn AS DOUBLE))", 6)}
                   AS seasonal_index
        FROM per_dow, t
    """,
    "revenue_autocorrelation": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), shifted AS (
            SELECT lag, day + CAST(lag AS INT) AS day2, cents AS x
            FROM (SELECT day, cents,
                         unnest(generate_series(1, {ACF_MAX_LAG})) AS lag
                  FROM daily)
        ), pairs AS (
            SELECT s.lag, s.x, d.cents AS y
            FROM shifted s JOIN daily d ON d.day = s.day2
        ), m AS (
            SELECT lag,
                   CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(CAST(x AS {X.DEC_SQL})) AS DOUBLE) AS sx,
                   CAST(sum(CAST(y AS {X.DEC_SQL})) AS DOUBLE) AS sy,
                   CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
                   CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
                   CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
            FROM pairs GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
               {X.pround_sql(
                   "(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)"
                   " * (n * syy - sy * sy))", 6)} AS acf
        FROM m
    """,
    "user_value_ewma": f"""
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(floor(value * {_VAL_SCALE} + 0.5) AS BIGINT))
                        AS BIGINT) AS units
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), contrib AS (
            SELECT user_id, day + CAST(k AS INT) AS day2, units,
                   CAST(power(2.0, {USER_EWMA_SPAN - 1} - k) AS BIGINT) AS w
            FROM (SELECT user_id, day, units,
                         unnest(generate_series(0, {USER_EWMA_SPAN - 1})) AS k
                  FROM daily)
        ), agg AS (
            SELECT user_id, day2 AS day,
                   sum(CAST(units AS HUGEINT) * w) AS num,
                   CAST(sum(w) AS BIGINT) AS den
            FROM contrib GROUP BY 1, 2
        )
        SELECT d.user_id, d.day AS day,
               CAST(d.units AS DOUBLE) / {float(_VAL_SCALE)!r} AS daily_value,
               CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE)
                   / {float(_VAL_SCALE)!r} AS ewma_value
        FROM daily d JOIN agg a ON a.user_id = d.user_id AND a.day = d.day
    """,
    "revenue_cusum": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(cents) AS BIGINT) AS total FROM daily
        ), c AS (
            SELECT day, cents,
                   CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cum,
                   CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
            FROM daily
        ), s AS (
            SELECT day, cents,
                   CAST(tot.n_days AS HUGEINT) * cum
                       - CAST(idx AS HUGEINT) * tot.total AS ns,
                   tot.n_days AS n_days
            FROM c, tot
        ), p AS (
            SELECT max(abs(ns)) AS peak FROM s
        )
        SELECT day, cents / 100.0 AS daily_revenue,
               CAST(ns AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0 AS cusum,
               (abs(ns) = p.peak) AS is_peak
        FROM s, p
    """,
    "user_survival_curve": f"""
        WITH u AS (
            SELECT user_id,
                   (max(epoch_us(ts)) - min(epoch_us(ts))) // {_KM_UNIT_US} AS t,
                   max(epoch_us(ts)) AS last_us
            FROM events GROUP BY user_id
        ), a AS (
            SELECT max(epoch_us(ts)) AS max_us FROM events
        ), u2 AS (
            SELECT t, (last_us > max_us - {KM_HORIZON_US}) AS censored
            FROM u, a
        ), per_t AS (
            SELECT t,
                   CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                        AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS leaving
            FROM u2 GROUP BY t
        ), tot AS (
            SELECT count(*) AS n_users FROM u2
        ), r AS (
            SELECT t, d,
                   CAST(tot.n_users - coalesce(sum(leaving) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS n_at_risk
            FROM per_t, tot
        ), term AS (
            SELECT t, d, n_at_risk,
                   CASE WHEN d < n_at_risk
                        THEN CAST(floor(
                            ln(1.0 - CAST(d AS DOUBLE)
                               / CAST(n_at_risk AS DOUBLE))
                            * {_LN_SCALE} + 0.5) AS BIGINT)
                        ELSE 0 END AS ti
            FROM r
        ), s AS (
            SELECT t, d, n_at_risk,
                   CAST(sum(ti) OVER (ORDER BY t) AS BIGINT) AS cum
            FROM term
        )
        SELECT t, d, n_at_risk,
               CASE WHEN d = n_at_risk THEN 0.0
                    ELSE {X.pround_sql(
                        f"exp(CAST(cum AS DOUBLE) / {float(_LN_SCALE)!r})", 6)}
               END AS survival
        FROM s WHERE d > 0
    """,
    "ewma_daily_revenue": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), contrib AS (
            SELECT day + CAST(k AS INT) AS day2, cents,
                   CAST(power(2.0, {EWMA_SPAN - 1} - k) AS BIGINT) AS w
            FROM (SELECT day, cents,
                         unnest(generate_series(0, {EWMA_SPAN - 1})) AS k
                  FROM daily)
        ), agg AS (
            SELECT day2 AS day,
                   sum(CAST(cents AS HUGEINT) * w) AS num,
                   CAST(sum(w) AS BIGINT) AS den
            FROM contrib GROUP BY 1
        )
        SELECT d.day AS day, d.cents / 100.0 AS daily_revenue,
               CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) / 100.0
                   AS ewma_revenue
        FROM daily d JOIN agg a ON a.day = d.day
    """,
    "moving_avg_daily_revenue": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec,
                   datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dayno
            FROM orders GROUP BY 1, 3
        )
        SELECT day,
               {pr_daily} AS daily_revenue,
               {pr_ma} AS ma7_revenue
        FROM daily
        WINDOW w AS (ORDER BY dayno RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """.format(
        pr_daily=X.pround_sql("CAST(rev_dec AS DOUBLE)"),
        pr_ma=X.pround_sql(
            "CAST(sum(rev_dec) OVER w AS DOUBLE) / count(*) OVER w", 2
        ),
    ),
    "user_event_pivot": """
        SELECT user_id,
               CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
               CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
               CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
               CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
               CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
        FROM events GROUP BY user_id
    """,
    "health_status": """
        SELECT 'events' AS component, CAST(count(*) AS BIGINT) AS row_count,
               count(*) > 0 AS healthy FROM events
        UNION ALL
        SELECT 'documents', CAST(count(*) AS BIGINT), count(*) > 0 FROM documents
        UNION ALL
        SELECT 'embeddings', CAST(count(*) AS BIGINT), count(*) > 0 FROM embeddings
    """,
    "priority_shipmode_counts": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY l_linestatus
    """,
    "promo_revenue_share": f"""
        SELECT {X.pround_sql(
            "100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN " + X.DISC_PRICE_SQL +
            " ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)"
            " / CAST(sum(" + X.DISC_PRICE_SQL + ") AS DOUBLE)", 4)} AS promo_revenue_pct,
               {X.pround_sql("CAST(sum(" + X.DISC_PRICE_SQL + ") AS DOUBLE)", 2)}
                   AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
    "iso_timestamps": """
        SELECT event_id,
               strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
               strftime(ts, '%Y-%m-%d') AS iso_date
        FROM events
    """,
    "median_value_by_type": """
        SELECT event_type,
               {p50} AS median_value,
               {p90} AS p90_value
        FROM events GROUP BY event_type
    """.format(
        p50=X.pround_sql("quantile_cont(value, 0.5)", 2),
        p90=X.pround_sql("quantile_cont(value, 0.9)", 2),
    ),
    "customer_revenue_q10": f"""
        WITH rev AS (
            SELECT o_custkey, sum({X.DISC_PRICE_SQL}) AS rev_dec
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
            GROUP BY o_custkey
            ORDER BY rev_dec DESC, o_custkey ASC LIMIT 20
        )
        SELECT c_custkey, c_name, n_name,
               {X.pround_sql('CAST(rev_dec AS DOUBLE)')} AS revenue
        FROM customer
        JOIN rev ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
    """,
    "api_call_savings": """
        SELECT CAST(count(*) AS BIGINT) AS total_messages,
               CAST(count(*) * 4 AS BIGINT) AS old_api_calls,
               CAST(count(*) * 3 AS BIGINT) AS new_api_calls,
               CAST(count(*) AS BIGINT) AS calls_saved,
               25.0 AS cost_reduction_pct
        FROM events
    """,
    "unpivot_event_fields": """
        SELECT event_id, user_id, 'type' AS field, event_type AS val FROM events
        UNION ALL
        SELECT event_id, user_id, 'props' AS field, props AS val FROM events
    """,
    "doc_catalog_list": """
        SELECT doc_id, source, lang, n_chars
        FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 20
    """,
    "cube_order_stats": f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               {X.dsum_sql('o_totalprice')} AS total_value
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "event_gaps": """
        -- CAST to TIMESTAMP (micros) first: epoch_us on a TIMESTAMP_NS
        -- column returns nanoseconds; the cast truncates ns -> us the
        -- same way the Spark reader's `ns div 1000` does.
        -- the window also orders by the CAST value: ordering by raw
        -- TIMESTAMP_NS would tie-break sub-microsecond neighbors by ns
        -- while Spark (micros) falls through to event_id
        SELECT event_id, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS TIMESTAMP)) AS gap_us
        FROM events
    """,
    "validation_flags": """
        SELECT doc_id,
               length(text) BETWEEN 1 AND 2000 AS len_ok,
               length(trim(text)) > 0 AS nonblank,
               regexp_full_match(source, '[A-Za-z0-9-]+') AS source_id_ok,
               length(text) = n_chars AS n_chars_consistent
        FROM documents
    """,
    "segment_share": """
        SELECT c_mktsegment, n_customers,
               {pr} AS pct_share
        FROM (
            SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
            FROM customer GROUP BY c_mktsegment
        )
    """.format(pr=X.pround_sql("n_customers * 100.0 / sum(n_customers) OVER ()", 2)),
    "midnight_pt_countdown": """
        SELECT event_id,
               86400 - (CAST(floor(epoch(CAST(ts AS TIMESTAMPTZ)
                   AT TIME ZONE 'America/Los_Angeles')) AS BIGINT) % 86400)
                   AS seconds_to_reset
        FROM events
    """,
}

from ..sources.zorder import morton_sql as _morton_sql  # noqa: E402

ORACLE["zorder_order_keys"] = f"""
    SELECT o_orderkey,
           {_morton_sql(
               "o_custkey",
               "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
               16,
           )} AS zkey
    FROM orders
"""
