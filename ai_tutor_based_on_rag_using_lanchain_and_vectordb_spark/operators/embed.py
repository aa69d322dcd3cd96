"""Deterministic batch embedding — the engine's stand-in for the
reference's network embedding calls (GoogleGenerativeAIEmbeddings,
backend/chroma_utils.py:25-28). Per BASELINE.json: "batch document
embedding and indexing via MLlib".

Two interchangeable encoders:

- ``hashing_embedding`` — feature-hashing trick as a pure Column
  expression: token → (index, sign) from xxhash64, summed into a
  fixed-dim array, L2-normalized. Map-only, deterministic, no fitting;
  2 hashes per token, one count array and one norm per row.
- ``tfidf_embedding`` — MLlib HashingTF + IDF pipeline (fitted), for
  when corpus-level weighting matters.

A real model would slot in as an Arrow-batched ``pandas_udf`` with the
same (text → array<float>) signature — the pipeline shape (batch,
map-only, schema-stable) is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import bind

DEFAULT_DIM = 64


def hashing_embedding(text: Column, dim: int = DEFAULT_DIM) -> Column:
    """Signed feature hashing: for each token t, index = xxhash64(t) mod
    dim, sign = bit 62 of xxhash64(1, t) (any fixed hash bit works as a
    sign source; 62 avoids the two's-complement sign bit); accumulate,
    then L2-normalize. Empty/blank text → zero vector, NULL → NULL.

    Index, sign, counts and norm are each bound once (:func:`bind`)
    before the lambdas that use them, so no lambda re-evaluates an
    outer expression per element: each token costs 2 hashes and one
    ``dim``-wide update."""
    # split("", "\s+") yields [""] — drop empty tokens so blank text
    # really produces the documented zero vector
    toks = F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda t: F.length(t) > 0
    )

    def add_token(acc: Column, t: Column) -> Column:
        # counts are sums of ±1.0, exact in any order, and acc never
        # holds -0.0, so updating only the hit coordinate is
        # bit-identical to adding a one-hot ±1.0 vector
        sign = F.when(
            F.shiftright(F.xxhash64(F.lit(1), t), 62).bitwiseAND(F.lit(1)) == 1,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
        return bind(F.pmod(F.xxhash64(t), F.lit(dim)), lambda idx: bind(
            sign,
            lambda sgn: F.transform(
                acc, lambda x, j: F.when(j == idx, x + sgn).otherwise(x)
            ),
        ))

    def normalize(counts: Column) -> Column:
        sq = F.aggregate(counts, F.lit(0.0), lambda acc, x: acc + x * x)
        return bind(F.sqrt(sq), lambda nrm: F.when(
            nrm > 0, F.transform(counts, lambda x: (x / nrm).cast("float"))
        ).otherwise(F.transform(counts, lambda x: x.cast("float"))))

    return bind(
        F.aggregate(toks, F.array_repeat(F.lit(0.0), dim), add_token), normalize
    )


def embed_documents(
    docs: DataFrame,
    text_col: str = "page_content",
    id_col: str = "chunk_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Chunk rows → (id, embedding) vector table (the Chroma collection
    shape, backend/chroma_utils.py:128-133)."""
    return docs.select(
        F.col(id_col),
        hashing_embedding(F.col(text_col), dim).alias("embedding"),
    )
