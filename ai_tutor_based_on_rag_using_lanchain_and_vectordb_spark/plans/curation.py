"""Training-data curation queries — the selection/filtering shapes a
100 TB corpus pipeline runs after dedup and scoring: correlated-minimum
selection, event funnels, per-group quantile gates, deterministic
sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import exact as X
from ..functions import textstats as TS
from ..session import local_table


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-minimum (TPC-H Q2 shape): for each part, the supplier
    whose line offers the lowest unit price — window-min + equality
    filter instead of a correlated subquery re-scan; suppkey min as the
    deterministic tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    w = Window.partitionBy("l_partkey")
    priced = li.select("l_partkey", "l_suppkey", unit).withColumn(
        "min_unit", F.min("unit_price").over(w)
    )
    return (
        priced.where(F.col("unit_price") == F.col("min_unit"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.min("l_suppkey").alias("best_suppkey"),
            X.pround(F.min("min_unit"), 4).alias("best_unit_price"),
        )
    )


def signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: per user, first signup → first purchase *after* it;
    conversion flag for the 7-day window. One pass with conditional
    min aggregates — no self-join."""
    events = load_table(spark, sf_dir, "events")
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    per_user = events.groupBy("user_id").agg(first_signup.alias("signup_ts"))
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = (
        per_user.where(F.col("signup_ts").isNotNull())
        .join(purchases, "user_id", "left")
        .where(F.col("purchase_ts").isNull() | (F.col("purchase_ts") >= F.col("signup_ts")))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("purchase_ts").alias("first_purchase_ts"))
    )
    hours = (
        F.unix_micros(F.col("first_purchase_ts")) - F.unix_micros(F.col("signup_ts"))
    ) / 3600000000.0
    return joined.select(
        "user_id",
        "signup_ts",
        "first_purchase_ts",
        F.coalesce(
            (hours <= 7 * 24) & F.col("first_purchase_ts").isNotNull(), F.lit(False)
        ).alias("converted_7d"),
        X.pround(hours, 2).alias("hours_to_convert"),
    )


def user_event_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive sequence aggregation — each user's first-20-event
    type path as one string (the sequence-mining / next-event-prediction
    feature shape). ``collect_list`` alone is shuffle-order-
    nondeterministic; collecting (ts, event_id, type) structs and
    ``sort_array``-ing inside each row makes the journey deterministic
    without any global sort. The per-user cap (row_number ≤ 20, a
    WindowGroupLimit partial top-k) bounds per-key state — an unbounded
    per-user array is the thing that OOMs a 100 TB run."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("user_id", "ts", "event_id", "event_type")
    )
    packed = capped.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("seq")
    )
    return packed.select(
        "user_id",
        F.array_join(
            F.transform("seq", lambda s: s["event_type"]), ","
        ).alias("journey"),
        F.size("seq").cast("long").alias("n_events"),
    )


def fuzzy_part_names_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-2 fuzzy match: every distinct part-name pair within
    Levenshtein distance 2 (operators/fuzzyjoin.py with k=2 —
    double-deletion FastSS signatures, fan-out O(|s|²) per DISTINCT
    name, still never an all-pairs join; the oracle IS the quadratic
    all-pairs plan, so the hash check proves the blocked plan loses
    nothing at the wider radius). Same ASCII domain note as
    fuzzy_part_names."""
    from ..operators.fuzzyjoin import edit_distance_pairs

    part = load_table(spark, sf_dir, "part")
    return edit_distance_pairs(part, "p_name", k=2)


def part_name_entity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over part names — the full
    catalog-merge composition: FastSS-blocked Levenshtein-2 pairs
    (operators/fuzzyjoin.py) → connected components (transitive
    closure, operators/components.py) → one canonical name per group
    (the lexicographically smallest — deterministic and
    engine-independent), singletons canonicalized to themselves.
    Output: (name, canonical, group_size). Oracle: the quadratic
    all-pairs lev join + a recursive-CTE closure — the blocked
    iterative plan must lose nothing end-to-end."""
    from ..operators.components import connected_components
    from ..operators.fuzzyjoin import edit_distance_pairs

    part = load_table(spark, sf_dir, "part")
    names = (
        part.where(F.col("p_name").isNotNull())
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    pairs = edit_distance_pairs(part, "p_name", k=2).select("name_a", "name_b")
    comp = connected_components(pairs, src="name_a", dst="name_b").select(
        F.col("node").alias("name"), F.col("component").alias("canonical")
    )
    labeled = names.join(comp, "name", "left").select(
        "name", F.coalesce("canonical", "name").alias("canonical")
    )
    sizes = labeled.groupBy("canonical").agg(
        F.count("*").cast("long").alias("group_size")
    )
    return labeled.join(sizes, "canonical").select(
        "name", "canonical", "group_size"
    )


def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: counts and row-normalized probabilities of event_type →
    next event_type (the next-event-prediction / anomalous-flow
    baseline that pairs with user_event_journeys' sequence strings).

    Scale shape: the lead() window is USER-partitioned (never global);
    the transition matrix is bounded by |event types|² regardless of
    corpus size, so the totals side of the normalizing join is a
    fixed-cardinality broadcast. Probability = exact integer count /
    exact integer row total, rounded with pround on both sides."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    counts = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_tot")
    )
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        X.pround(
            F.col("n_transitions").cast("double") / F.col("_tot").cast("double"),
            6,
        ).alias("prob"),
    )


def quality_above_lang_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile gate: keep documents whose quality score is
    strictly above their language's median — the classifier-threshold
    curation step, as a groupBy quantile + broadcast join."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", TS.quality_score(F.col("text")).alias("quality"))
    medians = scored.groupBy("lang").agg(
        F.expr("percentile(quality, 0.5)").alias("median_q")
    )
    return (
        scored.join(F.broadcast(medians), "lang")
        .where(F.col("quality") > F.col("median_q"))
        .select("doc_id", "lang", "quality", X.pround(F.col("median_q"), 4).alias("median_q"))
    )


def deterministic_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% key-sample per language (the reproducible
    train/eval split pattern: mod on the stable id, never rand())."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
        .select("doc_id", "lang", "n_chars")
    )


def purchase_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    signup at-or-before it (union+window merge form, operators/asof.py —
    no range-join blow-up)."""
    from ..operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = events.where(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(purchases, signups, key="user_id", right_payload=("event_id",))
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("matched_ts").alias("signup_ts"),
        F.col("matched_event_id").alias("signup_event_id"),
    )


def catalog_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (operators/upsert.py): re-ingest every 7th
    document with a revised payload plus one brand-new row; updates win
    on collision, everything else passes through."""
    from ..operators.upsert import merge_upsert

    docs = load_table(spark, sf_dir, "documents")
    updates = docs.where(F.pmod("doc_id", F.lit(7)) == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"),
        "lang",
        F.lit("reingest").alias("source"),
        (F.col("n_chars") + 7).alias("n_chars"),
    )
    # sentinel -1: generated doc_ids are non-negative at every scale
    # factor, so the brand-new-row case can never collide with a real id
    new_row = local_table(
        spark,
        [(-1, "brand new doc", "en", "reingest", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    merged = merge_upsert(docs, updates.unionByName(new_row), "doc_id")
    return merged.select("doc_id", "lang", "source", "n_chars")


def scd2_catalog_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD catalog maintenance (operators/upsert.scd2_apply):
    the document catalog as a validity-interval dimension, with every
    7th document re-ingested (revised attributes) plus one brand-new
    row at a later effective date. Changed keys produce a CLOSED
    history row + a fresh current row; the oracle states the expected
    net effect independently (it does not re-run the merge)."""
    from ..operators.upsert import scd2_apply

    docs = load_table(spark, sf_dir, "documents")
    dim = docs.select("doc_id", "lang", "source", "n_chars").select(
        "*",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = docs.where(F.pmod("doc_id", F.lit(7)) == 0).select(
        "doc_id",
        "lang",
        F.lit("reingest").alias("source"),
        (F.col("n_chars") + 7).alias("n_chars"),
    )
    # sentinel -1: can never collide with generated (non-negative) ids
    new_row = local_table(
        spark,
        [(-1, "en", "reingest", 13)],
        "doc_id long, lang string, source string, n_chars long",
    )
    return scd2_apply(
        dim,
        updates.unionByName(new_row),
        "doc_id",
        ["lang", "source", "n_chars"],
        "2024-02-01",
    )


def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile ranking: lifetime-spend quartiles with per-quartile stats
    (deterministic order: spend desc, custkey).

    Scale shape: exact ntile WITHOUT the unpartitioned
    ``Window.orderBy`` global sort (the classic single-task straggler
    at 100×) — operators/ranks.ntile_no_global_sort range-buckets on
    approximate spend quantiles, ranks inside each bucket, and assigns
    the positional tile boundaries by comparison. Ties (equal spend)
    keep the custkey tie-break, so the output matches SQL ntile
    row-for-row."""
    from ..operators.ranks import ntile_no_global_sort

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(X.money("o_totalprice")).alias("spent_dec")
    )
    tiled = ntile_no_global_sort(
        spend, 4, "spent_dec", tiebreaks=("o_custkey",), primary_desc=True,
        out_col="quartile",
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            X.pround(F.sum("spent_dec").cast("double")).alias("total_spend"),
            X.pround(F.min("spent_dec").cast("double")).alias("min_spend"),
        )
    )


def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join over part names (operators/
    fuzzyjoin.py): every DISTINCT name pair within Levenshtein 1, with
    occurrence counts — the entity-resolution primitive for catalog
    merging. Candidates come from FastSS deletion-neighborhood
    signatures (guaranteed superset, bounded |s|+1 fan-out per name),
    verified exactly — never an all-pairs join; the DuckDB oracle IS
    the all-pairs plan over distinct names, so the hash check proves
    the blocked plan loses nothing. Domain note: part names are ASCII;
    on non-ASCII text the two engines' levenshtein diverge (DuckDB
    counts UTF-8 bytes, Spark counts characters — pinned in
    tests/test_fuzzyjoin.py)."""
    from ..operators.fuzzyjoin import edit_distance_pairs

    part = load_table(spark, sf_dir, "part")
    return edit_distance_pairs(part, "p_name", k=1)


def event_value_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC (Mann–Whitney U): how well does ``value``
    rank purchase events above non-purchases — the classifier-eval
    primitive a quality-scoring pipeline needs at corpus scale.

    Identity: 2·P·N·AUC = Σ_v p_v · (2·cum_neg_below(v) + neg_v) over
    DISTINCT score values v (ties contribute ½ via the middle term) —
    exact until the final division: cum_neg_below comes back from the
    prefix operator as a double but is integer-valued and double-exact
    up to 2⁵³ negatives (~9·10¹⁵ rows — beyond any corpus), per-term
    products multiply as decimals, and the Σ accumulates in
    DECIMAL(38,0) because the TOTAL ≈ 2·P·N blows through 2⁵³ at
    ~10⁸ rows — a double sum there would silently drift from the
    integer-exact oracle. Plan shape: one groupBy collapses rows to
    distinct scores, then the bucketed exclusive prefix sum
    (operators/prefix.py) gives cum_neg_below WITHOUT a single-task
    global window — the textbook row_number rank-sum would funnel
    every row through one window task at 100 TB."""
    from ..operators.prefix import grouped_prefix_sum

    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    per_v = (
        events.groupBy("value")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("p"),
            F.count("*").alias("n"),
        )
        .select(
            "value",
            "p",
            (F.col("n") - F.col("p")).alias("neg"),
            F.lit(0).alias("_g"),
        )
    )
    pre = grouped_prefix_sum(
        per_v, ["_g"], "value", F.col("neg"), out_col="cnb", exact=True
    )
    cnb = F.col("cnb").cast("long")
    term = F.col("p").cast("decimal(19,0)") * (
        2 * cnb + F.col("neg")
    ).cast("decimal(19,0)")
    agg = pre.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(term).alias("numer2"),  # decimal(38,0): exact
    )
    return agg.select(
        "n_pos",
        "n_neg",
        X.pround(
            F.col("numer2").cast("double")
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


def value_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve for the :func:`event_value_auc` score: decile
    the score (exact SQL-ntile semantics via
    operators/ranks.ntile_no_global_sort — positional tile boundaries
    from range-bucketed ranks, no single-task global window), then the
    per-decile positive rate. The (value, event_id) order key is
    unique, so the tiling is deterministic and the oracle's
    ntile(10) window reproduces it bit-for-bit."""
    from ..operators.ranks import ntile_no_global_sort

    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    tiled = ntile_no_global_sort(
        events, 10, "value", tiebreaks=("event_id",), out_col="decile"
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("n_pos"),
            X.dsum(F.col("value"), 4).alias("sum_value"),
        )
        .select(
            "decile",
            "n",
            "n_pos",
            X.pround(F.col("n_pos") / F.col("n"), 6).alias("pos_rate"),
            "sum_value",
        )
    )


QUERIES = {
    "event_value_auc": event_value_auc,
    "value_calibration_curve": value_calibration_curve,
    "fuzzy_part_names": fuzzy_part_names,
    "catalog_merge_upsert": catalog_merge_upsert,
    "scd2_catalog_history": scd2_catalog_history,
    "customer_spend_quartiles": customer_spend_quartiles,
    "purchase_asof_signup": purchase_asof_signup,
    "cheapest_supplier_per_part": cheapest_supplier_per_part,
    "signup_purchase_funnel": signup_purchase_funnel,
    "user_event_journeys": user_event_journeys,
    "event_markov_transitions": event_markov_transitions,
    "fuzzy_part_names_k2": fuzzy_part_names_k2,
    "part_name_entity_groups": part_name_entity_groups,
    "quality_above_lang_median": quality_above_lang_median,
    "deterministic_doc_sample": deterministic_doc_sample,
}

_QUALITY_SQL = r"""
    SELECT doc_id, lang,
           (floor(((least(length(text) / 500.0, 1.0)
              + (1.0 - least((floor((length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) * 1.0
                      / greatest(length(text), 1)) * 10000 + 0.5) / 10000) * 4, 1.0))
              + least((floor((len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                      t -> list_contains([{stops}], t))) * 1.0
                      / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1)) * 10000 + 0.5) / 10000) * 5, 1.0))
              / 3) * 10000 + 0.5) / 10000) AS quality
    FROM documents
""".replace("{stops}", ", ".join(f"'{w}'" for w in TS.EN_STOPWORDS))


ORACLE = {
    "value_calibration_curve": f"""
        WITH tiled AS (
            SELECT value, event_type,
                   ntile(10) OVER (ORDER BY value, event_id) AS decile
            FROM events WHERE value IS NOT NULL
        )
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos,
               {X.pround_sql(
                   "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
                   " * 1.0 / count(*)", 6)} AS pos_rate,
               {X.dsum_sql("value", 4)} AS sum_value
        FROM tiled GROUP BY decile
    """,
    "event_value_auc": f"""
        WITH base AS (
            SELECT value,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lbl
            FROM events WHERE value IS NOT NULL
        ), g AS (
            SELECT value,
                   CAST(sum(lbl) AS BIGINT) AS p,
                   CAST(count(*) - sum(lbl) AS BIGINT) AS neg
            FROM base GROUP BY value
        ), c AS (
            SELECT value, p, neg,
                   coalesce(sum(neg) OVER (ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cnb
            FROM g
        )
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg,
               {X.pround_sql(
                   "sum(p * (2 * cnb + neg)) / (2.0 * sum(p) * sum(neg))", 6
               )} AS auc
        FROM c
    """,
    "part_name_entity_groups": """
        WITH RECURSIVE names AS (
            SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL
        ), pairs AS (
            SELECT a.name AS na, b.name AS nb
            FROM names a JOIN names b ON a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 2
        ), edges AS (
            SELECT na AS a, nb AS b FROM pairs
            UNION ALL
            SELECT nb AS a, na AS b FROM pairs
        ), reach(node, label) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
        ), comp AS (
            SELECT node, min(label) AS canonical FROM reach GROUP BY node
        ), labeled AS (
            SELECT n.name, coalesce(c.canonical, n.name) AS canonical
            FROM names n LEFT JOIN comp c ON c.node = n.name
        ), sizes AS (
            SELECT canonical, CAST(count(*) AS BIGINT) AS group_size
            FROM labeled GROUP BY canonical
        )
        SELECT l.name, l.canonical, s.group_size
        FROM labeled l JOIN sizes s ON s.canonical = l.canonical
    """,
    "fuzzy_part_names_k2": """
        WITH names AS (
            SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n
            FROM part WHERE p_name IS NOT NULL GROUP BY p_name
        )
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
               a.n AS n_a, b.n AS n_b
        FROM names a JOIN names b ON a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 2
    """,
    "fuzzy_part_names": """
        WITH names AS (
            SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n
            FROM part WHERE p_name IS NOT NULL GROUP BY p_name
        )
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
               a.n AS n_a, b.n AS n_b
        FROM names a JOIN names b ON a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 1
    """,
    "scd2_catalog_history": """
        SELECT doc_id, lang, source, n_chars,
               DATE '2024-01-01' AS valid_from,
               DATE '9999-12-31' AS valid_to,
               true AS is_current
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id, lang, source, n_chars,
               DATE '2024-01-01', DATE '2024-02-01', false
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id, lang, 'reingest', n_chars + 7,
               DATE '2024-02-01', DATE '9999-12-31', true
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT -1, 'en', 'reingest', 13,
               DATE '2024-02-01', DATE '9999-12-31', true
    """,
    "event_markov_transitions": f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        ), c AS (
            SELECT event_type AS from_type, next_type AS to_type,
                   CAST(count(*) AS BIGINT) AS n_transitions
            FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
        ), t AS (
            SELECT from_type, sum(n_transitions) AS tot FROM c GROUP BY 1
        )
        SELECT c.from_type, c.to_type, c.n_transitions,
               {X.pround_sql(
                   "CAST(c.n_transitions AS DOUBLE) / CAST(t.tot AS DOUBLE)",
                   6)} AS prob
        FROM c JOIN t ON t.from_type = c.from_type
    """,
    "user_event_journeys": """
        WITH ranked AS (
            SELECT user_id, event_type, ts, event_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events
        )
        SELECT user_id,
               string_agg(event_type, ',' ORDER BY ts, event_id) AS journey,
               CAST(count(*) AS BIGINT) AS n_events
        FROM ranked WHERE rn <= 20
        GROUP BY user_id
    """,
    "catalog_merge_upsert": """
        WITH updates AS (
            SELECT doc_id, text || ' [rev2]' AS text, lang,
                   'reingest' AS source, n_chars + 7 AS n_chars
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT -1, 'brand new doc', 'en', 'reingest', 13
        )
        SELECT coalesce(u.doc_id, t.doc_id) AS doc_id,
               CASE WHEN u.doc_id IS NOT NULL THEN u.lang ELSE t.lang END AS lang,
               CASE WHEN u.doc_id IS NOT NULL THEN u.source ELSE t.source END AS source,
               CASE WHEN u.doc_id IS NOT NULL THEN u.n_chars ELSE t.n_chars END AS n_chars
        FROM documents t FULL OUTER JOIN updates u ON t.doc_id = u.doc_id
    """,
    "customer_spend_quartiles": """
        WITH spend AS (
            SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spent_dec
            FROM orders GROUP BY o_custkey
        )
        SELECT quartile,
               CAST(count(*) AS BIGINT) AS n_customers,
               {pr_total} AS total_spend,
               {pr_min} AS min_spend
        FROM (
            SELECT spent_dec,
                   ntile(4) OVER (ORDER BY spent_dec DESC, o_custkey ASC) AS quartile
            FROM spend
        ) GROUP BY quartile
    """.format(
        pr_total=X.pround_sql("CAST(sum(spent_dec) AS DOUBLE)"),
        pr_min=X.pround_sql("CAST(min(spent_dec) AS DOUBLE)"),
    ),
    "purchase_asof_signup": """
        WITH p AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), s AS (
            SELECT user_id, ts, max(event_id) AS event_id
            FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
        )
        SELECT p.event_id, p.user_id, p.ts,
               s.ts AS signup_ts, s.event_id AS signup_event_id
        FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    "cheapest_supplier_per_part": """
        WITH priced AS (
            SELECT l_partkey, l_suppkey,
                   l_extendedprice / l_quantity AS unit_price,
                   min(l_extendedprice / l_quantity)
                       OVER (PARTITION BY l_partkey) AS min_unit
            FROM lineitem
        )
        SELECT l_partkey AS p_partkey,
               min(l_suppkey) AS best_suppkey,
               {pr} AS best_unit_price
        FROM priced WHERE unit_price = min_unit
        GROUP BY l_partkey
    """.format(pr=X.pround_sql("min(min_unit)", 4)),
    "signup_purchase_funnel": """
        WITH su AS (
            SELECT user_id,
                   min(ts) FILTER (WHERE event_type = 'signup') AS signup_ts
            FROM events GROUP BY user_id
        ), joined AS (
            SELECT su.user_id, su.signup_ts, min(p.ts) AS first_purchase_ts
            FROM su LEFT JOIN events p
              ON p.user_id = su.user_id AND p.event_type = 'purchase'
             AND p.ts >= su.signup_ts
            WHERE su.signup_ts IS NOT NULL
            GROUP BY su.user_id, su.signup_ts
        )
        SELECT user_id, signup_ts, first_purchase_ts,
               coalesce((epoch_us(first_purchase_ts) - epoch_us(signup_ts))
                        / 3600000000.0 <= 168 AND first_purchase_ts IS NOT NULL,
                        false) AS converted_7d,
               {pr} AS hours_to_convert
        FROM joined
    """.format(
        pr=X.pround_sql(
            "(epoch_us(first_purchase_ts) - epoch_us(signup_ts)) / 3600000000.0", 2
        )
    ),
    "quality_above_lang_median": f"""
        WITH scored AS ({_QUALITY_SQL}),
        medians AS (
            SELECT lang, quantile_cont(quality, 0.5) AS median_q
            FROM scored GROUP BY lang
        )
        SELECT doc_id, scored.lang, quality,
               {X.pround_sql('median_q', 4)} AS median_q
        FROM scored JOIN medians ON scored.lang = medians.lang
        WHERE quality > median_q
    """,
    "deterministic_doc_sample": """
        SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 = 0
    """,
}
