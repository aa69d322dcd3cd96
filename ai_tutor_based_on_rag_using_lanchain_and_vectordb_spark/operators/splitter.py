"""Recursive character splitter — the reference's chunking stage
(RecursiveCharacterTextSplitter config at backend/chroma_utils.py:16-21:
chunk_size=1000, chunk_overlap=200, separators ["\\n\\n","\\n"," ",""]).

This is the one operator whose stateful overlap logic can't be expressed
with built-in column functions, so it's an Arrow-batched pandas UDF
(one Python call per ~10k documents, not per document).

Spec (pinned; SURVEY.md §5.3 invariants — deliberately *not* a
bug-for-bug copy of LangChain's merge behavior):

1. Atomize: split text by the first separator (in cascade order) that
   produces pieces; any piece still longer than `size` is re-split with
   the remaining separators; "" (last resort) splits into `size`-char
   slices. Atoms carry their [start, end) offsets in the original text.
2. Pack: greedily append atoms to the current chunk while the chunk
   stays ≤ `size` chars; emitting a chunk starts the next one at
   `max(prev_end - overlap, prev_start + 1)`, snapped back to the
   nearest atom start when possible (overlap never exceeds `overlap`).
3. Every chunk is a contiguous substring text[start:end] — concatenating
   chunks with overlaps removed reconstructs the input exactly.

Invariants (property-tested in tests/test_splitter.py):
- 0 < end - start <= size for every chunk
- chunks cover [0, len(text)) with no gaps
- consecutive-chunk overlap in [0, overlap]
- chunk_index/total_chunks ordinals match the reference's metadata
  enrichment (backend/chroma_utils.py:119-125)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SEPARATORS = ("\n\n", "\n", " ", "")
DEFAULT_SIZE = 1000
DEFAULT_OVERLAP = 200

CHUNK_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("chunk_text", T.StringType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)


def _atomize(text: str, lo: int, hi: int, seps: tuple[str, ...], size: int) -> list[tuple[int, int]]:
    """Offsets [start, end) of atoms, each ≤ size chars."""
    if hi - lo <= size:
        return [(lo, hi)] if hi > lo else []
    if not seps:
        return [(s, min(s + size, hi)) for s in range(lo, hi, size)]
    sep, rest = seps[0], seps[1:]
    if sep == "":
        return [(s, min(s + size, hi)) for s in range(lo, hi, size)]
    out: list[tuple[int, int]] = []
    cursor = lo
    segment = text[lo:hi]
    parts = segment.split(sep)
    for i, part in enumerate(parts):
        start = cursor
        end = cursor + len(part)
        # keep the separator attached to the preceding atom so offsets
        # tile the input exactly
        if i < len(parts) - 1:
            end_with_sep = end + len(sep)
        else:
            end_with_sep = end
        if end_with_sep - start > size:
            out.extend(_atomize(text, start, end_with_sep, rest, size))
        elif end_with_sep > start:
            out.append((start, end_with_sep))
        cursor = end_with_sep
    return out


def split_text(text: str, size: int = DEFAULT_SIZE, overlap: int = DEFAULT_OVERLAP,
               seps: tuple[str, ...] = DEFAULT_SEPARATORS) -> list[tuple[str, int, int]]:
    """Pure-Python core: returns [(chunk_text, start, end), ...]."""
    if text is None or text == "":
        return []
    n = len(text)
    atoms = _atomize(text, 0, n, seps, size)
    if not atoms:
        return []
    chunks: list[tuple[int, int]] = []
    cur_start = 0
    cur_end = 0
    atom_starts = [a[0] for a in atoms]
    i = 0
    while i < len(atoms):
        a_start, a_end = atoms[i]
        if cur_end == cur_start:  # empty current chunk
            cur_start, cur_end = a_start, a_end
        elif a_end - cur_start <= size:
            cur_end = a_end
        else:
            chunks.append((cur_start, cur_end))
            # next chunk starts `overlap` chars back, snapped forward to
            # an atom start when one lies inside the overlap window
            back = max(cur_end - overlap, cur_start + 1)
            snapped = next((s for s in atom_starts if s >= back and s < a_end), a_start)
            cur_start = min(snapped, a_start)
            cur_end = a_end
            if cur_end - cur_start > size:  # oversized atom: take as-is
                cur_start = a_start
                cur_end = a_end
        i += 1
    if cur_end > cur_start:
        chunks.append((cur_start, cur_end))
    return [(text[s:e], s, e) for s, e in chunks]


def make_splitter_udf(size: int = DEFAULT_SIZE, overlap: int = DEFAULT_OVERLAP,
                      seps: tuple[str, ...] = DEFAULT_SEPARATORS):
    @F.pandas_udf(CHUNK_STRUCT)
    def split_udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: [
                {"chunk_text": c, "start": s, "end": e}
                for (c, s, e) in split_text(t, size, overlap, seps)
            ]
        )

    return split_udf


def split_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = DEFAULT_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Document → chunk rows with the reference's ordinal metadata
    (chunk_index, total_chunks; backend/chroma_utils.py:119-125).

    posexplode_outer provides the ordinal without a window, and
    total_chunks is the array's size read in the same projection, so the
    splitter UDF runs once per document. The outer form plus a NOT NULL
    position filter keeps exactly the rows a plain posexplode would: a
    plain posexplode lets Catalyst infer ``size(_chunks) > 0`` below the
    UDF's projection, and that filter carries a second copy of the UDF.
    ``keep_cols`` are carried through unchanged (lineage columns like the
    file-level document id or source filename).
    """
    udf = make_splitter_udf(size, overlap)
    with_chunks = docs.withColumn("_chunks", udf(F.col(text_col)))
    return (
        with_chunks.withColumn("total_chunks", F.size("_chunks"))
        .select(
            F.col(id_col).alias("doc_id"),
            *keep_cols,
            "total_chunks",
            F.posexplode_outer("_chunks").alias("chunk_index", "_c"),
        )
        .where(F.col("chunk_index").isNotNull())
        .select(
            "doc_id",
            *keep_cols,
            F.col("chunk_index").cast("int").alias("chunk_index"),
            F.col("total_chunks").cast("int").alias("total_chunks"),
            F.col("_c.chunk_text").alias("page_content"),
            F.col("_c.start").alias("char_start"),
            F.col("_c.end").alias("char_end"),
        )
    )
