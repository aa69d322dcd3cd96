"""Distributed BPE tokenizer training — the standard public recipe
(Sennrich et al., "Neural Machine Translation of Rare Words with
Subword Units"): iteratively merge the most frequent adjacent symbol
pair, training on the aggregated WORD-FREQUENCY table rather than the
raw corpus.

Scale shape (100 TB design point):

- The corpus collapses to (word, count) FIRST — one scan + one shuffle.
  Every later round touches only the word-type table (vocabulary-
  cardinality, ~10⁶ rows for web-scale text — millions of times smaller
  than the corpus), which is how production BPE trainers work too.
- Each round is: explode symbol pairs → count-weighted groupBy → a
  1-row argmax to the driver (bounded collect: one pair per round) →
  a codegen'd fold expression rewriting the symbol arrays. The
  word-type frame is pinned per round so the plan does not
  grow with the merge count (same lineage-flattening pattern as
  operators/components.py).
- Ties break deterministically (count desc, pair lexicographic) so two
  engines/runs produce the identical merge list — asserted against an
  in-repo pure-Python reference in the bpe_train_gate query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import pin

END = "</w>"  # end-of-word marker: keeps merges from crossing words


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) — the aggregated training table. One shuffle,
    map-side combined; tokenization is the SHARED ws_tokens helper, so
    BPE trains on exactly the stream the corpus-prep stats describe."""
    from ..functions.textstats import ws_tokens

    toks = ws_tokens(F.col(text_col))
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _initial_symbols(word: Column) -> Column:
    """Word → its characters plus the end-of-word marker."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, 1),
    )
    return F.concat(chars, F.array(F.lit(END)))


def _merge_expr(syms: Column, a: str, b: str) -> Column:
    """Leftmost non-overlapping merge of the pair (a, b) as a fold:
    append each symbol, or fuse it with the accumulator's tail when the
    tail/next match the pair. A freshly fused symbol is a+b, which is
    strictly longer than a, so it can never immediately re-fuse —
    giving the exact non-overlapping semantics ('aaa' with pair (a,a)
    merges the FIRST two only)."""
    empty = F.array().cast("array<string>")
    # try_element_at: ANSI element_at throws on the empty accumulator
    # (constant folding evaluates it even under an impossible `when`)
    tail = lambda acc: F.try_element_at(acc, F.lit(-1))  # noqa: E731
    return F.aggregate(
        syms,
        empty,
        lambda acc, x: F.when(
            (tail(acc) == a) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(tail(acc), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _top_pair(symbolized: DataFrame):
    """The round's winning pair: count-weighted pair frequencies with a
    deterministic tie-break. Returns (a, b, count) or None."""
    pairs = symbolized.select(
        "n",
        F.explode(
            F.when(
                F.size("syms") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("syms") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("syms"), i + 1).alias("a"),
                        F.element_at(F.col("syms"), i + 2).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("p"),
    )
    row = (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
        .collect()
    )
    if not row or row[0]["cnt"] < 2:
        return None
    return row[0]["a"], row[0]["b"], int(row[0]["cnt"])


def bpe_train(
    wc: DataFrame, n_merges: int = 20
) -> list[tuple[str, str, int]]:
    """Learn up to `n_merges` merges from a (word, n) table. Returns
    [(a, b, weighted_count), ...] in merge order."""
    cur = pin(wc.select("n", _initial_symbols(F.col("word")).alias("syms")), eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = _top_pair(cur)
        if top is None:
            break
        a, b, cnt = top
        merges.append((a, b, cnt))
        cur = pin(cur.select(
            "n", _merge_expr(F.col("syms"), a, b).alias("syms")
        ), eager=True)
    return merges


def bpe_segment(
    words: DataFrame,
    merges: list[tuple[str, str, int]],
    word_col: str = "word",
) -> DataFrame:
    """Apply a learned merge list to a word column → `syms` subword
    array (the tokenizer's encode step, minus byte fallback). One
    codegen'd expression: the merge folds compose, no Python per row."""
    col = _initial_symbols(F.col(word_col))
    for a, b, _ in merges:
        col = _merge_expr(col, a, b)
    return words.withColumn("syms", col)


def bpe_reference(
    counts: dict[str, int], n_merges: int = 20
) -> list[tuple[str, str, int]]:
    """Pure-Python reference (same semantics, same tie-break) the gate
    compares the distributed trainer against."""
    seqs = {w: [*w, END] for w in counts}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        freq: dict[tuple[str, str], int] = {}
        for w, syms in seqs.items():
            n = counts[w]
            for i in range(len(syms) - 1):
                freq[(syms[i], syms[i + 1])] = (
                    freq.get((syms[i], syms[i + 1]), 0) + n
                )
        if not freq:
            break
        (a, b), cnt = min(freq.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b, cnt))
        for w, syms in seqs.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            seqs[w] = out
    return merges
