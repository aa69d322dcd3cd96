"""Exact quantiles at corpus scale: the rank-k VALUE without a global
sort.

The obvious plan — orderBy(col) then pick rows at the target ranks —
range-shuffles the ENTIRE table into one total order; at the 100 TB
design point that shuffle is the job, and the single reducer holding
the target rank is the straggler. approx_percentile avoids it but is
approximate. This operator returns the EXACT sorted-multiset value at
every requested rank using the classic distributed-selection recipe
(Blum et al. selection generalized to sampling pivots — the same
two-phase shape as operators/freq.py):

1. **Pivot pass** — a deterministic hash-sample of the column (bounded
   collect: ``8·sample_target`` values hard-capped by ``limit``) plus
   the exact total count. Sampling only steers bracketing; exactness
   never depends on it. The thinning modulus comes from the APPROX
   DISTINCT count (riding the same stats scan), not the row count:
   the hash thins VALUES, so a duplicate-heavy column (replica-scaled
   prices, key frequencies) sampled at rows/target yields ndv/mod ≪
   target pivots and mile-wide brackets — the r10 100× probe measured
   exactly this (209 pivots on 60 M rows, a 5.7 M-row bracket).
2. **Count pass** — for every candidate pivot, one map-side-combined
   conditional-sum aggregate computes count(col <= pivot). All pivots
   ride ONE aggregate row: a scan with no shuffle wider than a single
   combine row. The rank-k value is bracketed in (lo, hi] where lo is
   the widest pivot with count < k and hi the narrowest with
   count >= k.
3. **Bracket collect** — the union of brackets crosses the wire as
   (value, count) pairs from one map-side-combined groupBy — duplicate
   mass stays on the executors (expected ndv(bracket) pairs per rank;
   re-bracketed with fresh in-bracket pivots while any bracket exceeds
   ``max_bracket`` ROWS, so even the pair count is bounded by
   construction), then the answer is read off the cumulative counts at
   offset k − count(<= lo).

Total cost: 2-3 full scans with only counters and a bounded pair list
leaving the executors — at 1000 executors the network carries a few
hundred KB where orderBy would carry the table.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_table

# expected bracket width is n/sample_target per rank; 2M rows ≈ 16 MB
# of doubles on the driver — comfortably bounded, loop shrinks further
DEFAULT_SAMPLE = 20_000
DEFAULT_MAX_BRACKET = 2_000_000


def _rank(num: int, den: int, n: int) -> int:
    """Type-1 quantile rank: k = ceil(num·n/den) in exact integer
    arithmetic (both engines must agree bit-for-bit, so no float
    ceil)."""
    return max(1, (num * n + den - 1) // den)


def exact_quantiles(
    df: DataFrame,
    col: str,
    probs: list,
    sample_target: int = DEFAULT_SAMPLE,
    max_bracket: int = DEFAULT_MAX_BRACKET,
    max_rounds: int = 8,
) -> list:
    """[(label, num, den, k, value)] — the exact rank-k(q) value of the
    sorted non-null multiset of ``df[col]`` for each quantile
    ``probs = [(label, num, den), ...]`` with q = num/den.

    Every driver-side collect is bounded by construction: the pivot
    sample by an explicit ``limit``, the bracket by ``max_bracket``
    (re-bracketing rounds shrink any over-wide bracket before
    collecting it)."""
    vals = df.select(F.col(col).alias("_v")).where(F.col("_v").isNotNull())
    stats = vals.agg(
        F.count("*").alias("n"),
        F.approx_count_distinct("_v").alias("ndv"),
    ).collect()[0]
    n, ndv = int(stats["n"]), max(1, int(stats["ndv"]))
    if n == 0:
        return [(lbl, num, den, 0, None) for lbl, num, den in probs]
    ranks = {lbl: _rank(num, den, n) for lbl, num, den in probs}
    # rows per distinct value — duplicate-heavy columns need their
    # in-bracket thinning moduli scaled down by this factor too
    dup = max(1, n // ndv)

    # pivot sample: deterministic value-hash thinning (duplicate-heavy
    # values collapse onto one pivot, which is exactly what a pivot
    # wants — hence the modulus targets ndv/mod ≈ sample_target VALUES,
    # and distinct() keeps duplicate rows of a sampled value from
    # crowding the limit); bounded by limit() — pivot quality only
    # affects speed
    mod = max(1, ndv // sample_target)
    sample_rows = (
        vals.where(F.pmod(F.xxhash64("_v"), F.lit(mod)) == 0)
        .distinct()
        .limit(8 * sample_target)
        .collect()
    )
    sample = sorted({r["_v"] for r in sample_rows})
    if not sample:
        sample = [r["_v"] for r in vals.limit(1).collect()]
    # count only candidates NEAR each target rank — every pivot is an
    # aggregate expression, so the count pass must stay narrow (a few
    # dozen columns), not one per sample value
    pivots = _near_rank_pivots(sample, ranks.values(), n)

    # per-label bracket invariant: c_lo = EXACT count(col <= lo) (0 for
    # the open end), c_hi = EXACT count(col <= hi) (n for the open
    # end), and the rank-k value lies in (lo, hi]; "val" set = resolved
    br = {
        lbl: {"lo": None, "c_lo": 0, "hi": None, "c_hi": n, "val": None}
        for lbl in ranks
    }
    for rnd in range(max_rounds):
        counts = _counts_le(vals, pivots)  # {pivot: count(col <= pivot)}
        for lbl, k in ranks.items():
            b = br[lbl]
            for p, c in counts.items():
                if c < k:
                    if b["lo"] is None or p > b["lo"]:
                        b["lo"], b["c_lo"] = p, c
                elif b["hi"] is None or p < b["hi"]:
                    b["hi"], b["c_hi"] = p, c
        wide = [
            lbl
            for lbl, b in br.items()
            if b["val"] is None and b["c_hi"] - b["c_lo"] > max_bracket
        ]
        if not wide:
            break
        # a bracket whose mass sits on hi itself never tightens through
        # <=-pivots; one strict-count aggregate resolves those exactly:
        # count(col < hi) < k  ⇒  the rank-k value IS hi. Open-ended
        # brackets (hi None: the sample missed the upper tail) can't be
        # strict-resolved — they go straight to re-pivoting.
        bounded = [lbl for lbl in wide if br[lbl]["hi"] is not None]
        still = [lbl for lbl in wide if br[lbl]["hi"] is None]
        if bounded:
            strict = vals.agg(
                *[
                    F.sum(
                        F.when(F.col("_v") < F.lit(br[lbl]["hi"]), 1).otherwise(0)
                    )
                    .cast("long")
                    .alias(f"_s{i}")
                    for i, lbl in enumerate(bounded)
                ]
            ).collect()[0]
            for i, lbl in enumerate(bounded):
                if strict[f"_s{i}"] < ranks[lbl]:
                    br[lbl]["val"] = br[lbl]["hi"]
                else:
                    still.append(lbl)
        if not still:
            break
        # fresh in-bracket pivots, hash-thinned (NOT a bare limit —
        # limit short-circuits into one partition and can return a
        # single repeated value); the round salt decorrelates rounds
        pivots = set()
        for lbl in still:
            b = br[lbl]
            # bracket width is in ROWS; divide the duplicate factor
            # back out so the modulus targets VALUES like the hash does
            mod = max(1, (b["c_hi"] - b["c_lo"]) // dup // sample_target)
            sub = (
                vals.where(_range_cond(b))
                .where(F.pmod(F.xxhash64("_v", F.lit(rnd)), F.lit(mod)) == 0)
                .distinct()
                .limit(4 * sample_target)
                .collect()
            )
            pivots.update(r["_v"] for r in sub)
        pivots = _thin(sorted(pivots), 128)
        if not pivots:  # thinning missed — fall back to first rows
            pivots = sorted(
                {
                    r["_v"]
                    for lbl in still
                    for r in vals.where(_range_cond(br[lbl])).limit(1000).collect()
                }
            )
    else:
        raise ValueError(
            f"quantile brackets did not shrink below {max_bracket} rows "
            f"in {max_rounds} rounds"
        )

    # one filter pass collects the union of the unresolved brackets as
    # (value, count) pairs — one map-side-combined groupBy, so the
    # duplicate mass of a replica-scaled column never crosses the wire
    # (the r10 100× probe's 5.7 M-row raw collect becomes ~60 k pairs);
    # inside any one bracket the pairs reconstruct the exact multiset
    union_cond = None
    for b in br.values():
        if b["val"] is not None:
            continue
        cond = _range_cond(b)
        union_cond = cond if union_cond is None else (union_cond | cond)
    pool_vals: list = []
    pool_cums: list = []
    if union_cond is not None:
        pairs = sorted(
            (r["_v"], r["_c"])
            for r in vals.where(union_cond)
            .groupBy("_v")
            .agg(F.count("*").alias("_c"))
            .collect()
        )
        run = 0
        for v, c in pairs:
            run += c
            pool_vals.append(v)
            pool_cums.append(run)

    out = []
    for lbl, num, den in probs:
        k = ranks[lbl]
        b = br[lbl]
        if b["val"] is not None:
            out.append((lbl, num, den, k, b["val"]))
            continue
        # rows with value <= lo that sit inside the pool's value range
        base = 0
        if b["lo"] is not None:
            j = bisect_right(pool_vals, b["lo"])
            base = pool_cums[j - 1] if j else 0
        target = base + (k - b["c_lo"])
        value = pool_vals[bisect_left(pool_cums, target)]
        out.append((lbl, num, den, k, value))
    return out


def _near_rank_pivots(sample: list, ks, n: int, per_side: int = 8) -> list:
    """Candidate pivots from the sorted sample around each target
    rank's expected position (± per_side entries, stepping outward in
    growing strides so a skew-misplaced sample still brackets), plus
    the sample extremes. Bounded: O(ranks · per_side) values."""
    m = len(sample)
    out = {sample[0], sample[-1]}
    for k in ks:
        i = min(m - 1, max(0, (k * m) // max(1, n)))
        for d in range(-per_side, per_side + 1):
            j = i + d * max(1, m // (per_side * 4))
            if 0 <= j < m:
                out.add(sample[j])
    return sorted(out)


def _thin(sorted_vals: list, cap: int) -> list:
    if len(sorted_vals) <= cap:
        return sorted_vals
    step = len(sorted_vals) / cap
    idx = {int(i * step) for i in range(cap)} | {len(sorted_vals) - 1}
    return [sorted_vals[i] for i in sorted(idx)]


def _range_cond(b: dict):
    cond = F.lit(True)
    if b["lo"] is not None:
        cond = cond & (F.col("_v") > b["lo"])
    if b["hi"] is not None:
        cond = cond & (F.col("_v") <= b["hi"])
    return cond


def _counts_le(vals: DataFrame, pivots: list) -> dict:
    """{pivot: count(col <= pivot)} in ONE map-side-combined aggregate
    (a single scan; the shuffle carries one combine row per task)."""
    aggs = [
        F.sum(F.when(F.col("_v") <= F.lit(p), 1).otherwise(0))
        .cast("long")
        .alias(f"_c{i}")
        for i, p in enumerate(pivots)
    ]
    row = vals.agg(*aggs).collect()[0]
    return {p: row[f"_c{i}"] for i, p in enumerate(pivots)}


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    col: str,
    probs: list,
    sample_target: int = 2000,
    max_bracket: int = DEFAULT_MAX_BRACKET,
    max_rounds: int = 8,
) -> list:
    """Per-group exact quantiles: [(group, label, k, value)] for every
    group in ``df[group_col]`` (intended for low-cardinality groups —
    languages, sources, segments; the per-group state lives on the
    driver).

    Same selection recipe as :func:`exact_quantiles`, but the count
    pass is JOIN-shaped instead of wide-aggregate-shaped: the pivot
    table (group, pivot) broadcast-joins the data on group with a
    ``v <= pivot`` flag and aggregates count per (group, pivot) — the
    shuffle carries G·P counter rows, and the aggregate stays narrow
    no matter how many groups there are (a per-group column list would
    grow the aggregate width with G·P). Row amplification is bounded by
    the per-group pivot count (~a few dozen)."""
    spark = df.sparkSession
    vals = df.select(
        F.col(group_col).alias("_g"), F.col(col).alias("_v")
    ).where(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    # group sizes + approx distinct counts: bounded by group
    # cardinality; the hash-thinning moduli target VALUES (duplicate
    # rows collapse onto one pivot), so they derive from ndv, not rows
    stats = {
        r["_g"]: (int(r["n"]), max(1, int(r["ndv"])))
        for r in vals.groupBy("_g")
        .agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("_v").alias("ndv"),
        )
        .collect()
    }
    sizes = {g: n for g, (n, _) in stats.items()}
    dups = {g: max(1, n // ndv) for g, (n, ndv) in stats.items()}
    if not sizes:
        return []
    ranks = {
        (g, lbl): _rank(num, den, n)
        for g, n in sizes.items()
        for lbl, num, den in probs
    }

    # per-group pivot sample in ONE pass: hash-thin at each group's own
    # rate (big groups thin harder), bounded by limit; distinct() keeps
    # duplicate rows of a sampled value from crowding the limit
    mod_rows = [
        (g, max(1, ndv // sample_target)) for g, (_, ndv) in stats.items()
    ]
    g_type = vals.schema["_g"].dataType.simpleString()
    mods = local_table(spark, mod_rows, f"_g {g_type}, _mod long")
    sample_rows = (
        vals.join(F.broadcast(mods), "_g")
        .where(F.pmod(F.xxhash64("_v"), F.col("_mod")) == 0)
        .distinct()
        .limit(16 * sample_target * max(1, len(sizes)))
        .collect()
    )
    by_group: dict = {g: set() for g in sizes}
    for r in sample_rows:
        by_group[r["_g"]].add(r["_v"])
    pivots = []
    for g, n in sizes.items():
        sample = sorted(by_group[g])
        if not sample:
            sample = [
                r["_v"] for r in vals.where(F.col("_g") == g).limit(1).collect()
            ]
        ks = [ranks[(g, lbl)] for lbl, _, _ in probs]
        pivots.extend((g, p) for p in _near_rank_pivots(sample, ks, n, 4))

    br = {
        key: {"lo": None, "c_lo": 0, "hi": None, "c_hi": sizes[key[0]],
              "val": None}
        for key in ranks
    }
    for rnd in range(max_rounds):
        counts = _group_counts_le(spark, vals, pivots)
        for (g, lbl), k in ranks.items():
            b = br[(g, lbl)]
            for (pg, p), c in counts.items():
                if pg != g:
                    continue
                if c < k:
                    if b["lo"] is None or p > b["lo"]:
                        b["lo"], b["c_lo"] = p, c
                elif b["hi"] is None or p < b["hi"]:
                    b["hi"], b["c_hi"] = p, c
        wide = [
            key
            for key, b in br.items()
            if b["val"] is None and b["c_hi"] - b["c_lo"] > max_bracket
        ]
        if not wide:
            break
        # strict-count resolution only applies to brackets with a real
        # hi; open-ended ones re-pivot (same reasoning as ungrouped)
        bounded = [key for key in wide if br[key]["hi"] is not None]
        still = [key for key in wide if br[key]["hi"] is None]
        if bounded:
            strict_aggs = [
                F.sum(
                    F.when(
                        (F.col("_g") == g)
                        & (F.col("_v") < F.lit(br[(g, lbl)]["hi"])),
                        1,
                    ).otherwise(0)
                ).cast("long").alias(f"_s{i}")
                for i, (g, lbl) in enumerate(bounded)
            ]
            strict = vals.agg(*strict_aggs).collect()[0]
            for i, key in enumerate(bounded):
                if strict[f"_s{i}"] < ranks[key]:
                    br[key]["val"] = br[key]["hi"]
                else:
                    still.append(key)
        if not still:
            break
        pivots = set()
        for g, lbl in still:
            b = br[(g, lbl)]
            # bracket width is in ROWS; divide the group's duplicate
            # factor back out so the modulus targets VALUES
            mod = max(1, (b["c_hi"] - b["c_lo"]) // dups[g] // sample_target)
            sub = (
                vals.where((F.col("_g") == g) & _range_cond(b))
                .where(F.pmod(F.xxhash64("_v", F.lit(rnd)), F.lit(mod)) == 0)
                .distinct()
                .limit(4 * sample_target)
                .collect()
            )
            pivots.update((g, r["_v"]) for r in sub)
        if not pivots:  # thinning missed — fall back to first rows
            for g, lbl in still:
                sub = (
                    vals.where((F.col("_g") == g) & _range_cond(br[(g, lbl)]))
                    .limit(1000)
                    .collect()
                )
                pivots.update((g, r["_v"]) for r in sub)
        pivots = sorted(pivots)
    else:
        raise ValueError(
            f"group quantile brackets did not shrink below {max_bracket} "
            f"rows in {max_rounds} rounds"
        )

    # union of unresolved brackets as per-group (value, count) pairs —
    # one map-side-combined groupBy; duplicate mass stays distributed
    union_cond = None
    for (g, lbl), b in br.items():
        if b["val"] is not None:
            continue
        cond = (F.col("_g") == g) & _range_cond(b)
        union_cond = cond if union_cond is None else (union_cond | cond)
    pools: dict = {g: [] for g in sizes}
    if union_cond is not None:
        for r in (
            vals.where(union_cond)
            .groupBy("_g", "_v")
            .agg(F.count("*").alias("_c"))
            .collect()
        ):
            pools[r["_g"]].append((r["_v"], r["_c"]))
    pool_vals: dict = {}
    pool_cums: dict = {}
    for g, pairs in pools.items():
        pairs.sort()
        run = 0
        pool_vals[g] = [v for v, _ in pairs]
        cums = []
        for _, c in pairs:
            run += c
            cums.append(run)
        pool_cums[g] = cums

    out = []
    for g in sorted(sizes, key=str):
        for lbl, num, den in probs:
            k = ranks[(g, lbl)]
            b = br[(g, lbl)]
            if b["val"] is not None:
                out.append((g, lbl, k, b["val"]))
                continue
            pv, pc = pool_vals[g], pool_cums[g]
            base = 0
            if b["lo"] is not None:
                j = bisect_right(pv, b["lo"])
                base = pc[j - 1] if j else 0
            target = base + (k - b["c_lo"])
            out.append((g, lbl, k, pv[bisect_left(pc, target)]))
    return out


def _group_counts_le(spark: SparkSession, vals: DataFrame, pivots: list) -> dict:
    """{(group, pivot): count(col <= pivot within group)} via a
    broadcast pivot join + narrow groupBy — shuffle carries one counter
    row per (group, pivot)."""
    pdf = local_table(
        spark, pivots,
        f"_g {vals.schema['_g'].dataType.simpleString()}, "
        f"_p {vals.schema['_v'].dataType.simpleString()}",
    )
    joined = vals.join(F.broadcast(pdf), "_g")
    rows = (
        joined.groupBy("_g", "_p")
        .agg(
            F.sum(F.when(F.col("_v") <= F.col("_p"), 1).otherwise(0))
            .cast("long")
            .alias("_c")
        )
        .collect()
    )
    return {(r["_g"], r["_p"]): r["_c"] for r in rows}


def exact_quantiles_df(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    probs: list,
    **kw,
) -> DataFrame:
    """DataFrame wrapper: (pct string, k rank, value) — the driver-query
    shape. The collect inside exact_quantiles is bounded by
    construction (see its docstring)."""
    rows = exact_quantiles(df, col, probs, **kw)
    return local_table(
        spark,
        [(lbl, int(k), float(v)) for lbl, _, _, k, v in rows],
        "pct string, k long, value double",
    )
