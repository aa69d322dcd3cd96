"""Dedup operators: exact keep-one semantics, MinHash-LSH recall on
planted near-duplicates, SimHash blocking, idempotence (J2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import dedup as DD

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees "
    "as morning light spreads across the quiet village square slowly"
)


def _corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE.replace("quick", "swift")),          # near-dup of 1
        (4, BASE.replace("morning", "evening").replace("cat", "dog")),  # near-dup
        (5, "completely different text about spark dataframes and shuffles "
            "partitions catalyst optimizer and adaptive query execution engine "
            "with broadcast joins and whole stage code generation pipelines"),
        (6, "yet another unrelated document mentioning minhash signatures "
            "locality sensitive hashing banding technique and jaccard similarity "
            "estimation for large scale near duplicate detection systems"),
        # short/empty docs: fewer tokens than the shingle width n=3 —
        # regression guard for the descending-sequence slice crash
        # (sequence(0, size-n) counts down when size < n)
        (7, ""),
        (8, "   "),
        (9, "one"),
        (10, "two words"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark):
    df = _corpus(spark)
    out = DD.exact_dedup(df, F.sha2(F.col("text"), 256)).toPandas()
    assert sorted(out["doc_id"]) == [1, 3, 4, 5, 6, 7, 8, 9, 10]  # 2 dropped (dup of 1)


def test_exact_dedup_idempotent(spark):
    df = _corpus(spark)
    once = DD.exact_dedup(df, F.sha2(F.col("text"), 256))
    twice = DD.exact_dedup(once, F.sha2(F.col("text"), 256))
    assert sorted(r["doc_id"] for r in twice.collect()) == sorted(
        r["doc_id"] for r in once.collect()
    )


def test_anti_join_gate(spark):
    new = _corpus(spark).withColumn("file_hash", F.sha2(F.col("text"), 256))
    catalog = new.where(F.col("doc_id") == 1).select("file_hash")
    fresh = DD.anti_join_new(new, catalog)
    # rows 1 AND 2 share the cataloged hash → both rejected
    assert sorted(r["doc_id"] for r in fresh.collect()) == [3, 4, 5, 6, 7, 8, 9, 10]


def test_minhash_finds_planted_neardups(spark):
    df = _corpus(spark)
    pairs = DD.minhash_dedup_pairs(df, threshold=0.4).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert (1, 2) in found            # exact dup always survives
    assert (1, 3) in found or (2, 3) in found  # 1-word edit
    for a, b in found:                # no cross-topic false positives
        assert not (a in (5, 6)) ^ (b in (5, 6)) or {a, b} <= {5, 6}


def test_minhash_jaccard_values(spark):
    df = _corpus(spark)
    pairs = DD.minhash_dedup_pairs(df, threshold=0.4).toPandas()
    exact_dup = pairs[(pairs.id_a == 1) & (pairs.id_b == 2)]
    assert len(exact_dup) == 1 and exact_dup["jaccard"].iloc[0] == 1.0


def test_simhash_neardups_and_blocking(spark):
    df = _corpus(spark)
    pairs = DD.simhash_pairs(df, max_hamming=16).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert (1, 2) in found
    ham = pairs.set_index(["id_a", "id_b"])["hamming"]
    assert ham.loc[(1, 2)] == 0       # identical text → identical signature
    # unrelated docs must not appear as near-dups at tight threshold
    tight = DD.simhash_pairs(df, max_hamming=6).toPandas()
    tight_pairs = {tuple(sorted((a, b))) for a, b in zip(tight["id_a"], tight["id_b"])}
    assert (1, 5) not in tight_pairs and (5, 6) not in tight_pairs


def test_short_docs_produce_no_shingle_pairs(spark):
    """Docs with < n tokens flow through candidate generation without
    crashing and never pair with anything via MinHash (no shingles)."""
    df = _corpus(spark)
    pairs = DD.minhash_dedup_pairs(df, threshold=0.1).toPandas()
    short_ids = {7, 8, 9, 10}
    assert not (set(pairs["id_a"]) | set(pairs["id_b"])) & short_ids
    sh = df.select(DD.shingles_col(F.col("text")).alias("sh"), "doc_id").collect()
    for r in sh:
        if r["doc_id"] in short_ids:
            assert r["sh"] == []


def test_ngram_collapse_equals_naive_on_duplicate_heavy_corpus(spark):
    """The duplicate-collapse fast path must reproduce the naive
    all-docs inverted-index output exactly: within-group pairs at
    jaccard 1, cross-group pairs carrying the representative score."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.documents import (
        ngram_jaccard_pairs_df,
    )

    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "alpha beta gamma delta epsilon zeta eta iota",   # near-dup of 0
        2: "totally different words about spark shuffles and joins here",
        3: "xx",  # too short for shingles
    }
    rows = []
    did = 0
    for t_id, text in texts.items():
        for _ in range(3 if t_id in (0, 1) else 2):  # duplicate groups
            rows.append((did, text, "en"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_df(docs, threshold=0.05).collect()
    }

    # naive reference: python all-pairs over shingle sets
    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sh = {i: shingles(rows[i][1]) for i in range(len(rows))}
    expect = {}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            if not sh[a] or not sh[b]:
                continue
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / len(sh[a] | sh[b])
            if j >= 0.05:
                import math

                expect[(a, b)] = math.floor(j * 10000 + 0.5) / 10000
    assert got == expect
    # sanity: within-group pairs present at 1.0, short docs absent
    assert got[(0, 1)] == 1.0 and got[(6, 7)] == 1.0
    assert not any(8 in p or 9 in p for p in got)


def test_hot_shingle_df_ceiling(spark):
    """A pathological shingle shared by every doc (license-header shape)
    must not generate O(df²) candidate pairs once df exceeds max_df."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.documents import (
        ngram_jaccard_pairs_df,
    )

    hot = "standard license header"
    rows = [(i, f"{hot} unique{i}a unique{i}b unique{i}c", "en") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    capped = ngram_jaccard_pairs_df(docs, threshold=0.01, max_df=10)
    assert capped.count() == 0  # hot shingle (df=40 > 10) is excluded
    uncapped = ngram_jaccard_pairs_df(docs, threshold=0.01, max_df=10**9)
    assert uncapped.count() == 40 * 39 // 2  # every pair via the hot key


def test_has_exact_duplicates_gate(spark):
    dup = spark.createDataFrame(
        [(1, "a", "en"), (2, "a", "en"), (3, "b", "en")],
        "doc_id long, text string, lang string",
    )
    assert DD.has_exact_duplicates(dup, "lang", "text")
    clean = spark.createDataFrame(
        [(1, "a", "en"), (2, "a", "de"), (3, "b", "en")],
        "doc_id long, text string, lang string",
    )
    assert not DD.has_exact_duplicates(clean, "lang", "text")


def test_ngram_collapse_gate_paths_agree_on_clean_corpus(spark):
    """On a duplicate-free corpus the size-gate skips the collapse; a
    forced collapse=True run must produce the identical pair set."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.documents import (
        ngram_jaccard_pairs_df,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta", "en"),
        (1, "alpha beta gamma delta epsilon zeta eta iota", "en"),
        (2, "totally different words about spark shuffles and joins here", "en"),
        (3, "alpha beta gamma delta epsilon zeta eta theta", "de"),  # same text, other lang
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def pairset(df):
        return {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()}

    auto = pairset(ngram_jaccard_pairs_df(docs, threshold=0.05))
    forced = pairset(ngram_jaccard_pairs_df(docs, threshold=0.05, collapse=True))
    assert auto == forced and auto  # non-empty: (0,1) is a near-dup pair


def test_embedding_collapse_gate_paths_agree(spark):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.vectors import (
        embedding_neardup_pairs_df,
    )

    def v(*head):  # pad to the engine's fixed 64-dim layout
        return list(head) + [0.0] * (64 - len(head))

    clean = spark.createDataFrame(
        [
            (1, v(1.0), 0),
            (2, v(0.9, 0.1), 0),
            (3, v(0.0, 1.0), 0),
            (4, v(1.0), 1),  # same vector, different label
        ],
        "vec_id long, embedding array<float>, label int",
    )

    def pairset(df):
        return {(r["vec_a"], r["vec_b"], r["score"]) for r in df.collect()}

    auto = pairset(embedding_neardup_pairs_df(clean, threshold=0.3))
    forced = pairset(embedding_neardup_pairs_df(clean, threshold=0.3, collapse=True))
    assert auto == forced and auto

    dup = clean.unionByName(
        spark.createDataFrame(
            [(5, v(1.0), 0)], "vec_id long, embedding array<float>, label int"
        )
    )
    auto_d = pairset(embedding_neardup_pairs_df(dup, threshold=0.3))
    naive_d = pairset(embedding_neardup_pairs_df(dup, threshold=0.3, collapse=False))
    assert auto_d == naive_d and any(5 in (a, b) for a, b, _ in auto_d)


def _brute_cosine_pairs(rows, threshold):
    """Test-local reference for the pair kernel: every same-label
    (a < b) pair of non-NULL, non-zero vectors with cosine ≥ threshold,
    float32 inputs promoted to double and summed left to right like
    ``V.dot``, score rounded like ``pround(x, 4)``."""
    import math

    import numpy as np

    def dot(x, y):
        acc = 0.0
        for a, b in zip(x, y):
            acc += float(np.float32(a)) * float(np.float32(b))
        return acc

    out = set()
    for ia, va, la in rows:
        for ib, vb, lb in rows:
            if va is None or vb is None or la != lb or not ia < ib:
                continue
            na, nb = math.sqrt(dot(va, va)), math.sqrt(dot(vb, vb))
            if na == 0 or nb == 0:
                continue
            s = dot(va, vb) / (na * nb)
            if s >= threshold:
                out.add((ia, ib, math.floor(s * 10000.0 + 0.5) / 10000.0))
    return out


def test_embedding_numpy_engine_drops_null_embeddings(spark):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.vectors import (
        embedding_neardup_pairs_df,
    )

    def v(*head):
        return list(head) + [0.0] * (64 - len(head))

    rows = [(1, v(1.0), 0), (2, v(0.9, 0.1), 0), (3, None, 0)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def pairset(df):
        return {(r["vec_a"], r["vec_b"], r["score"]) for r in df.collect()}

    a = pairset(embedding_neardup_pairs_df(emb, collapse=False))
    assert a == _brute_cosine_pairs(rows, 0.3)
    assert not any(3 in (x, y) for x, y, _ in a) and a


def test_embedding_zero_norm_vectors_excluded_by_contract(spark):
    """Zero-norm vectors have undefined cosine: the pair kernel excludes
    them (and the DuckDB oracle carries the same WHERE), instead of
    emitting NaN scores or crashing under ANSI division."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.vectors import (
        embedding_neardup_pairs_df,
    )

    def v(*head):
        return list(head) + [0.0] * (64 - len(head))

    rows = [(1, v(1.0), 0), (2, v(0.0), 0), (3, v(0.9, 0.1), 0)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def pairs(df):
        return {(r["vec_a"], r["vec_b"], r["score"]) for r in df.collect()}

    a = pairs(embedding_neardup_pairs_df(emb, collapse=False))
    assert a == _brute_cosine_pairs(rows, 0.3)
    assert a == {(1, 3, a and sorted(a)[0][2])}  # only the (1,3) pair
    assert not any(2 in (x, y) for x, y, _ in a)


def test_minhash_signature_forms_equivalent(spark):
    """The exploded-aggregation signature path (scale form) must be
    bit-identical to the column-expression form it replaced — the
    docstring's claim, frozen as a test. Docs with < n tokens drop out
    of the aggregation form (the expression form yields all-NULL)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs indeed"),
        (3, "the quick brown fox jumps over the lazy dog today"),
        (4, "short one"),  # < 3 tokens of shingles -> no signature
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = df.select(
        F.col("doc_id").alias("_id"),
        DD.minhash_signature(DD.shingles_col(F.col("text"), 3), 16).alias("_sig"),
    ).collect()
    agg = {r["_id"]: r["_sig"] for r in
           DD._minhash_signatures(df, "doc_id", "text", 16, 3).collect()}
    for r in expr:
        if all(v is None for v in r["_sig"]):
            assert r["_id"] not in agg
        else:
            assert agg[r["_id"]] == r["_sig"], r["_id"]


def test_simhash_signature_forms_equivalent(spark):
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "completely different content with other words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {
        r["_id"]: (r["_sig"]["lo"], r["_sig"]["hi"])
        for r in df.select(
            F.col("doc_id").alias("_id"),
            DD.simhash_signature(F.col("text")).alias("_sig"),
        ).collect()
    }
    agg = {
        r["_id"]: (r["_lo"], r["_hi"])
        for r in DD._simhash_signatures(df, "doc_id", "text").collect()
    }
    assert expr == agg


def test_lsh_hot_bucket_ceiling(spark):
    """A degenerate corpus (hundreds of identical docs) collides into
    one bucket per band; the MAX_LSH_BUCKET ceiling drops those buckets
    from candidate generation — the unboundable O(bucket²) term —
    while a raised ceiling recovers the full pair set."""
    from pyspark.sql import functions as F

    n = 300  # > MAX_LSH_BUCKET (256)
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the very same boilerplate text repeated across the corpus "
              "again and again for every single document").alias("text"),
    )
    capped = DD.minhash_candidates(docs).count()
    assert capped == 0

    raised = DD.minhash_candidates(docs, max_bucket=n).count()
    assert raised == n * (n - 1) // 2

    # simhash: same ceiling on quarter buckets
    assert DD.simhash_pairs(docs).count() == 0
    assert DD.simhash_pairs(docs, max_bucket=n).count() == n * (n - 1) // 2


def test_exact_jaccard_pairs_is_ground_truth_superset(spark, sf_dir):
    """The exhaustive verify half dominates the LSH pipeline: every
    minhash pair appears in the ground truth with the same Jaccard, and
    any difference is LSH recall (candidates missed), never precision
    (both halves share the exact verify)."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import load_table
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert set(lsh) <= set(truth)
    for pair, j in lsh.items():
        assert truth[pair] == j, pair
    if truth:
        assert len(lsh) / len(truth) >= 0.9  # recall bound (gate level)


def test_leakage_safe_splits_keep_clusters_together(spark, sf_dir):
    """Every near-dup pair (and transitively, every component) must land
    in ONE split — the contamination-avoidance property a doc-level
    hash split does not have."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.documents import (
        leakage_safe_splits,
        ngram_jaccard_pairs,
    )

    rows = leakage_safe_splits(spark, sf_dir).collect()
    split_of = {r["doc_id"]: r["split"] for r in rows}
    comp_of = {r["doc_id"]: r["component"] for r in rows}
    # per-component single split
    by_comp = {}
    for d, c in comp_of.items():
        by_comp.setdefault(c, set()).add(split_of[d])
    assert all(len(s) == 1 for s in by_comp.values())
    # every near-dup pair co-splits
    for p in ngram_jaccard_pairs(spark, sf_dir).collect():
        assert split_of[p["doc_a"]] == split_of[p["doc_b"]]
    # all three splits are populated at the fixture scale
    assert {r["split"] for r in rows} == {"train", "val", "test"}


def test_simhash_exact_configuration_is_brute_force(spark):
    # max_hamming ≤ 3 + no bucket cap: quarter blocking is pigeonhole-
    # exact — the pair set must equal the O(n²) brute force over the
    # same signatures, for both the xxhash64 and portable md5 hashes
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {'x' if i % 7 == 0 else 'epsilon'} "
             f"zeta {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    for portable in (False, True):
        sig = DD._simhash_signatures(docs, "doc_id", "text", portable=portable)
        a, b = sig.alias("a"), sig.alias("b")
        ham = F.bit_count(
            F.col("a._lo").bitwiseXOR(F.col("b._lo"))
        ) + F.bit_count(F.col("a._hi").bitwiseXOR(F.col("b._hi")))
        brute = (
            a.crossJoin(b)
            .where(F.col("a._id") < F.col("b._id"))
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                ham.alias("hamming"),
            )
            .where(F.col("hamming") <= 3)
        )
        got = DD.simhash_pairs(
            docs, max_hamming=3, max_bucket=None, portable=portable
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, brute.collect())
        )


def test_portable_hash_matches_duckdb(spark):
    import duckdb
    from pyspark.sql import functions as F

    toks = ["hello", "wörld", "", "a b", "123"]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    got = {
        r["t"]: r["h"]
        for r in df.select("t", DD.portable_token_hash(F.col("t")).alias("h")).collect()
    }
    con = duckdb.connect()
    for t in toks:
        want = con.sql(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", params=[t]
        ).fetchone()[0]
        assert got[t] == want, t
