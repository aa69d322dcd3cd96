"""Golden bit-identity of the hashing embedding.

The digests below were frozen from the embedding expression before it
was rewritten to evaluate each sub-expression once. Any change to the
exact float32 coordinates of ``hashing_embedding`` (or to the
``vec_hash`` fingerprints the scalar projection exposes) fails here.
"""

from __future__ import annotations

import hashlib
import struct

import pytest
from pyspark.sql import functions as F

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import embed as EMB
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans import pipeline as P

TEXTS = [
    None,
    "",
    " ",
    "   \t  ",
    "\t\n",
    "a A a",
    "a",
    "hello world",
    "Hello HELLO hello hElLo",
    "the the the the the the the the",
    "  padded   text  with   runs  ",
    "tab\tseparated\ttokens\there",
    "line one\nline two\r\nline three",
    "mixed \t\n whitespace \x0b\x0c kinds",
    "café naïve résumé CAFÉ",
    "日本語 テキスト 日本語",
    "Ünïcödé ÜNÏCÖDÉ ünïcödé",
    "emoji 🙂 🙂 🎉",
    "İstanbul ıi ß SS",
    "hello, world! hello. world?",
    "1 2 3 42 42 3.14 -7",
    "a" * 300,
    "The quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    " nbsp separated ",
    "zero-width​joined words",
    "SQL SELECT * FROM t WHERE x = 1;",
    " ".join(f"tok{i}" for i in range(64)),
    # ~500 tokens with heavy repetition
    " ".join(f"w{(i * 7919) % 211}" for i in range(500)),
]

GOLDEN = {
    64: "993f4c98a629c1281adadfbc0798670da48c505943a3d24915b2f2aeab59df66",
    16: "adf2701b03e48403d9fd8d47e001dbb610eda79eda61d31b80170c15bf3b2244",
    128: "d318f4c20c669ece5c48c24d3af8cb8f77f3a60c974a0545d8aef67398fed56d",
}
GOLDEN_VEC_HASH = "7a6a66267d5c1c98a51bf37c2469ef191eada1a918d154f9c190c80b421638d6"


def _docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")


def embedding_digest(spark, dim: int) -> str:
    """sha256 over the packed float32 coordinates of every row, in
    doc_id order; a NULL embedding contributes the byte ``N``."""
    rows = (
        _docs(spark)
        .select("doc_id", EMB.hashing_embedding(F.col("text"), dim).alias("e"))
        .orderBy("doc_id")
        .collect()
    )
    h = hashlib.sha256()
    for r in rows:
        e = r["e"]
        h.update(b"N" if e is None else struct.pack(f"<{len(e)}f", *e))
    return h.hexdigest()


def vec_hash_digest(spark) -> str:
    rows = P._embedding_scalars(_docs(spark)).orderBy("doc_id").collect()
    return hashlib.sha256(repr([r["vec_hash"] for r in rows]).encode()).hexdigest()


@pytest.mark.parametrize("dim", sorted(GOLDEN))
def test_hashing_embedding_matches_golden(spark, dim):
    assert embedding_digest(spark, dim) == GOLDEN[dim], f"dim={dim}"


def test_embedding_scalars_vec_hash_matches_golden(spark):
    assert vec_hash_digest(spark) == GOLDEN_VEC_HASH

