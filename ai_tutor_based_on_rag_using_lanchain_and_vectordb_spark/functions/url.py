"""URL parsing expressions for domain-level corpus curation — the
first stage of any crawl pipeline (group/cap/block documents by
origin). Pure Catalyst expressions (regexp + array ops), evaluated
inside whole-stage codegen: no UDF, no Python in the per-row path, and
each helper has an exact DuckDB-SQL mirror so curation plans built on
them stay oracle-checkable.

``registrable_domain`` implements the public-suffix ALGORITHM
(exception rules beat all; otherwise longest matching rule; registrable
= suffix + one label) against a CHECKED-IN snapshot of the public
suffix list (public_suffix_snapshot.dat, parsed once at import). All
three rule kinds of the list's grammar are supported at ANY label
count — the tier expressions are GENERATED per rule length, so the
real list's deep rules ("pvt.k12.ma.us", "*.compute.amazonaws.com")
work on a snapshot refresh: normal rules ("co.uk", "act.edu.au",
"github.io" — so private-domain origins group per site), wildcard
rules ("*.ck", "*.kawasaki.jp"), and exception rules ("!www.ck",
"!city.kawasaki.jp"). Deployments refresh the snapshot file; malformed
rules raise loudly rather than mis-applying.

Form choice for Q(domain_curation): measured head-to-head at sf0.1 and
sf1 on the WARC-derived host stream (tools/bench_psl_forms.py →
BENCH_PSL_FORMS_r12.json): with the ~100-rule snapshot the inline
IN-list expression is 4-5x FASTER than the broadcast-join form at BOTH
scales (0.82 s vs 3.53 s at sf0.1; 0.61 s vs 3.26 s at sf1, min-of-3)
— the join form pays a ~2.6 s plan CONSTANT (one broadcast exchange +
hash build per (kind, label-count) tier) that the data size never
amortizes, while the expression adds zero plan nodes and stays inside
one WholeStageCodegen span. Q(domain_curation) therefore uses the
expression. The join form (:func:`registrable_domain_join`) is the
scale path once a refresh brings in the full ~10k-rule list, where
literal IN lists would blow up Janino codegen; it is equivalence-
tested against the expression on every rule kind.
Two equivalent consumers: the inline expression (suffix set as a
literal IN list — fine up to a few hundred rules) and
:func:`registrable_domain_join`, the broadcast-joined table form a real
crawl uses (the suffix table is a bounded policy table, exactly like
the curation blocklist).

No reference-repo counterpart: the reference ingests only uploaded
files (backend/main.py:305); URL provenance enters with the WARC/WET
crawl surface (sources/warc.py), where per-origin curation is the
first pipeline stage."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_table

_SNAPSHOT_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "public_suffix_snapshot.dat"
)


def _load_psl_snapshot(path: str = _SNAPSHOT_PATH):
    """(normal, wildcard_parents, exceptions) rule sets from the
    checked-in PSL snapshot, lowercased. ANY label count is accepted —
    the real public list carries rules like ``pvt.k12.ma.us`` (4
    labels) and ``*.compute.amazonaws.com`` (3-label wildcard parent),
    and the tier expressions below are generated mechanically per
    label count, so a genuine full-list refresh just works.

    - normal rules ("co.uk", "pvt.k12.ma.us"): ≥ 2 labels.
      Single-label normal rules ("com") are accepted and DROPPED:
      they are semantically identical to the default rule (registrable
      = last two labels), which the expression already applies;
    - wildcard rules ("*.ck", "*.compute.amazonaws.com"): every DIRECT
      child of the parent is a public suffix — stored as the parent
      (≥ 1 label);
    - exception rules ("!www.ck", "!city.kawasaki.jp"): the named
      domain is NOT a public suffix despite a matching wildcard, i.e.
      it IS a registrable domain — stored without the "!" (≥ 2
      labels).

    Malformed rules (embedded wildcards, empty labels, degenerate
    '*.', single-label exceptions) still raise loudly: a silently
    dropped rule would mis-group every origin under it."""
    normal, wild, exc = [], [], []
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip().lower()
            if not line or line.startswith("//"):
                continue
            if line.startswith("!"):
                rule = line[1:]
                n = rule.count(".") + 1
                if n < 2 or "*" in rule or "" in rule.split("."):
                    raise ValueError(
                        f"unsupported PSL exception rule {line!r} in {path}"
                    )
                exc.append(rule)
            elif line.startswith("*."):
                parent = line[2:]
                # '' in split catches the degenerate '*.' (empty
                # parent) and trailing-dot forms — count('.')+1 alone
                # cannot (it is never < 1)
                if not parent or "*" in parent or "" in parent.split("."):
                    raise ValueError(
                        f"unsupported PSL wildcard rule {line!r} in {path}"
                    )
                wild.append(parent)
            elif "*" in line:
                raise ValueError(
                    f"unsupported PSL rule {line!r} in {path}: embedded "
                    "wildcards are not in the public list's grammar"
                )
            else:
                if "" in line.split("."):
                    raise ValueError(
                        f"PSL rule {line!r} has empty labels in {path}"
                    )
                if "." in line:  # single-label == the default rule
                    normal.append(line)
    return (
        tuple(sorted(set(normal))),
        tuple(sorted(set(wild))),
        tuple(sorted(set(exc))),
    )


MULTI_LABEL_SUFFIXES, WILDCARD_PARENTS, EXCEPTION_DOMAINS = (
    _load_psl_snapshot()
)


def _by_k(rules: tuple[str, ...]) -> dict[int, tuple[str, ...]]:
    out: dict[int, list[str]] = {}
    for r in rules:
        out.setdefault(r.count(".") + 1, []).append(r)
    return {k: tuple(v) for k, v in sorted(out.items())}


#: Rules split by label count — the precedence is longest-match-first
#: (exceptions beat everything, per the public list's algorithm).
#: A k-label NORMAL rule makes k-label tails suffixes; a k-label
#: WILDCARD PARENT makes (k+1)-label tails suffixes; a k-label
#: EXCEPTION is itself the registrable domain of any host ending in it.
NORMAL_BY_K: dict[int, tuple[str, ...]] = _by_k(MULTI_LABEL_SUFFIXES)
WILD_BY_K: dict[int, tuple[str, ...]] = _by_k(WILDCARD_PARENTS)
EXC_BY_K: dict[int, tuple[str, ...]] = _by_k(EXCEPTION_DOMAINS)
#: longest public-suffix length any rule can produce (≥ 2 so the
#: default tier always exists even on an empty snapshot)
_K_SUF_MAX: int = max(
    [2]
    + list(NORMAL_BY_K)
    + [k + 1 for k in WILD_BY_K]
)

#: host := authority minus userinfo and port; scheme optional so bare
#: "example.com/path" inputs (common in crawl seed lists) still parse.
_HOST_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(url: Column) -> Column:
    """Lowercased host of a URL (port, userinfo, path stripped); NULL
    for NULL input, empty string when nothing host-like is present."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def url_host_sql(expr: str) -> str:
    """DuckDB mirror of :func:`url_host` (RE2 and Java agree on this
    pattern class)."""
    return f"lower(regexp_extract({expr}, '{_HOST_RE}', 1))"


def _last_k(parts: Column, k: int) -> Column:
    """Last k labels joined by '.'. try_element_at, not element_at:
    the join form evaluates these for EVERY row (no short-circuiting
    CASE guard), and ANSI element_at throws on hosts with < k labels.
    Short hosts yield a degenerate shorter string that can never equal
    a k-label suffix and sits behind an n >= guard in every consumer."""
    return F.concat_ws(
        ".", *[F.try_element_at(parts, F.lit(-(k - i))) for i in range(k)]
    )


def _isin(col: Column, values: tuple[str, ...]) -> Column:
    return col.isin(*values) if values else F.lit(False)


def registrable_domain(host: Column) -> Column:
    """eTLD+1 against the snapshot, implementing the public list's
    algorithm with tiers GENERATED per rule label count (so any-length
    rules from a snapshot refresh are honored mechanically):

    1. exception rules beat everything, longest first — a host ending
       in an exception domain has that exception AS its registrable
       domain (``foo.www.ck`` → ``www.ck``);
    2. for each suffix length k from longest to shortest: hosts with
       ≥ k+1 labels whose last-k tail is a suffix (a k-label normal
       rule or a child of a (k-1)-label wildcard parent) → last k+1
       labels; hosts that ARE a bare k-label suffix (n == k, k ≥ 3)
       pass through unchanged — the default tier would wrongly
       collapse every bare 's3.amazonaws.com'-class origin onto its
       parent. (Bare 2-label suffixes pass through via the default
       tier already: last2 == host when n == 2.) The bare-k tier must
       sit ABOVE the shorter full tiers: a bare 4-label suffix whose
       2-label tail happens to be a rule too must not truncate.
    3. default rule → last two labels.

    Hosts with fewer labels than the matched tier needs pass through
    unchanged (IP literals, single-label hosts have no registrable
    domain to extract)."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    ks = set(range(1, _K_SUF_MAX + 2)) | set(EXC_BY_K)
    last = {k: _last_k(parts, k) for k in ks}
    expr = None

    def _when(cond: Column, val: Column) -> None:
        nonlocal expr
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)

    for k in sorted(EXC_BY_K, reverse=True):
        _when((n >= k) & _isin(last[k], EXC_BY_K[k]), last[k])
    for k in range(_K_SUF_MAX, 1, -1):
        is_suf_k = _isin(last[k], NORMAL_BY_K.get(k, ())) | _isin(
            last[k - 1], WILD_BY_K.get(k - 1, ())
        )
        _when((n >= k + 1) & is_suf_k, last[k + 1])
        if k >= 3:
            _when((n == k) & is_suf_k, host)
    _when(n >= 2, last[2])
    return expr.otherwise(host)


def registrable_domain_sql(expr: str) -> str:
    """DuckDB mirror of :func:`registrable_domain` (negative list
    indexes count from the end in DuckDB, as element_at does in Spark);
    the IN lists are GENERATED from the same checked-in snapshot the
    Spark side loads, so both engines apply the identical rule set —
    tier order (exceptions → 3-label rules/wildcards → 2-label →
    default) mirrored branch for branch."""

    def _in(sub: str, values: tuple[str, ...]) -> str:
        if not values:
            return "FALSE"
        lst = ", ".join(f"'{v}'" for v in values)
        return f"{sub} IN ({lst})"

    parts = f"string_split({expr}, '.')"

    def _last(k: int) -> str:
        if k == 1:
            return f"{parts}[-1]"
        joined = " || '.' || ".join(f"{parts}[-{k - i}]" for i in range(k))
        return f"({joined})"

    n = f"len({parts})"
    branches = []
    for k in sorted(EXC_BY_K, reverse=True):
        branches.append(
            f"WHEN {n} >= {k} AND {_in(_last(k), EXC_BY_K[k])}"
            f" THEN {_last(k)}"
        )
    for k in range(_K_SUF_MAX, 1, -1):
        is_suf = (
            f"({_in(_last(k), NORMAL_BY_K.get(k, ()))}"
            f" OR {_in(_last(k - 1), WILD_BY_K.get(k - 1, ()))})"
        )
        branches.append(
            f"WHEN {n} >= {k + 1} AND {is_suf} THEN {_last(k + 1)}"
        )
        if k >= 3:
            branches.append(f"WHEN {n} = {k} AND {is_suf} THEN {expr}")
    branches.append(f"WHEN {n} >= 2 THEN {_last(2)}")
    body = "\n            ".join(branches)
    return f"""
        CASE
            {body}
            ELSE {expr}
        END
    """


def suffix_table(spark) -> DataFrame:
    """The snapshot as a DataFrame (rule, kind, n_labels) — the bounded
    policy table the broadcast-join form consumes. kind ∈ {normal,
    wild, exc}; wildcard rows store the PARENT ("*.ck" → "ck")."""
    rows = (
        [(s, "normal", s.count(".") + 1) for s in MULTI_LABEL_SUFFIXES]
        + [(w, "wild", w.count(".") + 1) for w in WILDCARD_PARENTS]
        + [(e, "exc", e.count(".") + 1) for e in EXCEPTION_DOMAINS]
    )
    return local_table(spark, rows, "rule string, kind string, n_labels int")


def registrable_domain_join(
    df: DataFrame, host_col: str, out_col: str = "domain"
) -> DataFrame:
    """Table-driven eTLD+1: the same tiered rule precedence as the
    inline expression, but the rule set arrives as a BROADCAST-JOINED
    table (``suffix_table``) instead of literal IN lists — the form a
    real crawl uses once the rule set outgrows an expression (the full
    PSL is ~10k rules). One small left join per (kind, length) tier,
    all against slices of the same bounded broadcast side, then the
    precedence CASE. Semantics are identical to
    :func:`registrable_domain` by construction — equivalence-tested in
    tests/test_url.py."""
    spark = df.sparkSession
    suf = suffix_table(spark)

    def slice_(kind: str, n_labels: int, key: str, flag: str):
        return suf.where(
            (F.col("kind") == kind) & (F.col("n_labels") == n_labels)
        ).select(F.col("rule").alias(key), F.lit(1).alias(flag))

    parts = F.split(F.col(host_col), r"\.")
    ks = set(range(1, _K_SUF_MAX + 2)) | set(EXC_BY_K)
    tagged = df.withColumn("_n", F.size(parts))
    for k in sorted(ks):
        tagged = tagged.withColumn(f"_l{k}", _last_k(parts, k))

    # one small broadcast left join per non-empty (kind, label-count)
    # slice of the same bounded policy table — join count is data-
    # driven, exactly the non-empty tiers of the snapshot
    joined = tagged
    for k in sorted(EXC_BY_K, reverse=True):
        joined = joined.join(
            F.broadcast(slice_("exc", k, f"_e{k}", f"_he{k}")),
            F.col(f"_l{k}") == F.col(f"_e{k}"), "left",
        )
    for k in sorted(NORMAL_BY_K, reverse=True):
        joined = joined.join(
            F.broadcast(slice_("normal", k, f"_s{k}", f"_h{k}")),
            F.col(f"_l{k}") == F.col(f"_s{k}"), "left",
        )
    for k in sorted(WILD_BY_K, reverse=True):
        joined = joined.join(
            F.broadcast(slice_("wild", k, f"_w{k}", f"_hw{k}")),
            F.col(f"_l{k}") == F.col(f"_w{k}"), "left",
        )

    def _hit(prefix: str, by_k: dict, k: int) -> Column:
        return (
            F.col(f"_{prefix}{k}").isNotNull() if k in by_k else F.lit(False)
        )

    n = F.col("_n")
    domain = None

    def _when(cond: Column, val: Column) -> None:
        nonlocal domain
        domain = (
            F.when(cond, val) if domain is None else domain.when(cond, val)
        )

    for k in sorted(EXC_BY_K, reverse=True):
        _when((n >= k) & _hit("he", EXC_BY_K, k), F.col(f"_l{k}"))
    for k in range(_K_SUF_MAX, 1, -1):
        is_suf = _hit("h", NORMAL_BY_K, k) | _hit("hw", WILD_BY_K, k - 1)
        _when((n >= k + 1) & is_suf, F.col(f"_l{k + 1}"))
        # bare k-label public suffixes pass through (same tier order as
        # the expression form — see registrable_domain)
        if k >= 3:
            _when((n == k) & is_suf, F.col(host_col))
    _when(n >= 2, F.col("_l2"))
    domain = domain.otherwise(F.col(host_col))
    return joined.withColumn(out_col, domain).select(
        *df.columns, out_col
    )
