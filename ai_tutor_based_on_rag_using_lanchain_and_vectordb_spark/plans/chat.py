"""The reference's POST /chat lifecycle (SURVEY.md §3.1) as one
deterministic batch dataflow — history window → retrieve (k-NN) →
assemble → answer → parse/normalize. The two LLM calls are replaced by
a deterministic stub (SURVEY.md §2.9: template answer + rule-based
emotion) so the pipeline is end-to-end testable; a real model slots in
as an Arrow-batched pandas_udf with the same string→string signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as TX
from ..operators import embed as EMB
from ..operators import knn as KNN
from ..operators import splitter as SPL
from ..session import pin

RETRIEVER_K = 2  # reference backend/config.py:34


def build_chunk_index(
    spark: SparkSession, sf_dir: str, chunk_size: int = 300, chunk_overlap: int = 60
) -> tuple[DataFrame, DataFrame]:
    """documents → (chunks, vectors): the /upload-doc indexing path
    (backend/chroma_utils.py:97-144) on the fixture corpus. The chunk
    table is pinned: the vectors and the chat's context join both read
    it, and each would otherwise run the splitter UDF again."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = pin(
        SPL.split_documents(
            docs, text_col="text", id_col="doc_id", size=chunk_size, overlap=chunk_overlap
        ).withColumn("chunk_id", F.xxhash64("doc_id", "chunk_index"))
    )
    vectors = EMB.embed_documents(chunks, text_col="page_content", id_col="chunk_id")
    return chunks, vectors


def _llm_stub_answer(question: F.Column, context: F.Column) -> F.Column:
    """Deterministic 'generation': structured JSON exactly like the
    prompt contract demands (backend/langchain_utils.py:69-95), with a
    rule-based emotion derived from stable content hashes."""
    emotion = F.element_at(
        F.array(*[F.lit(e) for e in TX.EMOTIONS]),
        (F.pmod(F.xxhash64(question), F.lit(5)) + 1).cast("int"),
    )
    answer = F.concat(
        F.lit("Based on the course material: "),
        F.substring(context, 1, 160),
    )
    return F.to_json(F.struct(answer.alias("answer"), emotion.alias("emotion")))


def rag_answers(spark: SparkSession, sf_dir: str, n_questions: int = 5) -> DataFrame:
    """Full chat dataflow: question → embed → k-NN retrieve (k=2) →
    stuff context → stub-generate JSON → parse_llm_response (F6-F10)."""
    chunks, vectors = build_chunk_index(spark, sf_dir)

    questions = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < n_questions)
        .select(
            F.col("doc_id").alias("question_id"),
            F.substring("text", 1, 120).alias("question"),
        )
    )
    q_vecs = questions.select(
        "question_id",
        EMB.hashing_embedding(F.col("question")).alias("embedding"),
    )
    hits = KNN.knn_exact_expr(
        vectors,
        q_vecs,
        k=RETRIEVER_K,
        id_col="chunk_id",
        vec_col="embedding",
        query_id_col="question_id",
        query_vec_col="embedding",
        exclude_self=False,
    )
    # stuff: concatenate retrieved chunks in rank order (the {context}
    # assembly, backend/langchain_utils.py:58,99-103)
    context = (
        hits.join(chunks.select(F.col("chunk_id").alias("neighbor_id"), "page_content"),
                  "neighbor_id")
        .groupBy("query_id")
        .agg(
            F.concat_ws(
                "\n\n", F.array_sort(F.collect_list(F.struct("rank", "page_content")))
                .getField("page_content")
            ).alias("context")
        )
        .withColumnRenamed("query_id", "question_id")
    )
    raw = questions.join(context, "question_id", "left").withColumn(
        "raw_response",
        _llm_stub_answer(F.col("question"), F.coalesce(F.col("context"), F.lit(""))),
    )
    parsed = raw.withColumn("parsed", TX.parse_llm_response(F.col("raw_response")))
    return parsed.select(
        "question_id",
        "question",
        F.col("parsed.answer").alias("answer"),
        F.col("parsed.emotion").alias("emotion"),
    )
