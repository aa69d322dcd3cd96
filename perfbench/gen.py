"""Seeded input generator for the benchmark workloads.

Everything here is standard library only, so the inputs are the same
for a given seed on any host. The program under test only ever sees
the generated files, texts and ids; the ground truth stays on the
benchmark's side for the correctness checks.
"""

from __future__ import annotations

import io
import os
import random
import zipfile

# Sizes are fixed across seeds, so that only content changes with the seed.
INGEST_HTML = 20
INGEST_DOCX = 10
INGEST_EXACT_DUPS = 3
INGEST_NEAR_DUPS = 3
SERVE_CHUNKS = 120
DELETE_ROWS = 4
DOC_WORDS = 320
CHUNK_WORDS = 80
OVERSIZE_BYTES = 10 * 1024 * 1024 + 1  # one byte over the 10 MB upload cap

VOCAB_SIZE = 900
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"


class Vocab:
    """Pseudo-words with Zipf-like frequencies, so BM25 idf and the
    hashing embedding see a realistic spread of common and rare terms.
    The word at frequency rank r always has 2 + r % 3 syllables, so text
    bytes per word are the same for every seed; only the words change."""

    def __init__(self, rng: random.Random) -> None:
        self.words: list[str] = []
        seen: set[str] = set()
        while len(self.words) < VOCAB_SIZE:
            n_syl = 2 + len(self.words) % 3
            w = "".join(rng.choice(_SYLLABLES) for _ in range(n_syl))
            if w not in seen:
                seen.add(w)
                self.words.append(w)
        self.weights = [1.0 / (r + 1) ** 1.05 for r in range(VOCAB_SIZE)]

    def sample(self, rng: random.Random, n: int) -> list[str]:
        return rng.choices(self.words, weights=self.weights, k=n)


def paragraphs(rng: random.Random, vocab: Vocab, n_words: int) -> list[list[str]]:
    out, left = [], n_words
    while left > 0:
        n = min(left, rng.randint(25, 70))
        out.append(vocab.sample(rng, n))
        left -= n
    return out


def html_bytes(paras: list[list[str]]) -> bytes:
    body = "".join(f"<p>{' '.join(p)}</p>\n" for p in paras)
    return f"<!DOCTYPE html>\n<html><body>\n{body}</body></html>\n".encode()


def html_text(paras: list[list[str]]) -> str:
    """The text the HTML decoder yields: tags dropped, whitespace collapsed."""
    return " ".join(" ".join(p) for p in paras)


def docx_bytes(paras: list[list[str]]) -> bytes:
    body = "".join(
        f"<w:p><w:r><w:t>{' '.join(p)}</w:t></w:r></w:p>" for p in paras
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>{body}</w:body></w:document>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in (
            ("[Content_Types].xml", '<?xml version="1.0"?><Types/>'),
            ("word/document.xml", document),
        ):
            zf.writestr(zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def docx_text(paras: list[list[str]]) -> str:
    return "\n".join(" ".join(p) for p in paras)


def _perturb(rng: random.Random, vocab: Vocab, paras: list[list[str]]) -> list[list[str]]:
    """A near-duplicate: about 1% of the words (at least two) replaced by
    other words."""
    out = [list(p) for p in paras]
    spots = [(i, j) for i, p in enumerate(out) for j in range(len(p))]
    for i, j in rng.sample(spots, max(2, len(spots) // 100)):
        out[i][j] = rng.choice([w for w in vocab.words[:50] if w != out[i][j]])
    return out


def ingest_corpus(seed: int, out_dir: str) -> dict:
    """Write one ingest batch into ``out_dir`` and return its ground truth.

    The batch holds unique HTML and DOCX documents, exact byte copies
    (rejected as in-batch duplicates), near-duplicates (accepted; found
    later by the chunk dedup) and files the validator must reject.
    """
    rng = random.Random(seed)
    vocab = Vocab(rng)
    os.makedirs(out_dir, exist_ok=True)
    files: dict[str, dict] = {}

    def put(name: str, data: bytes, **truth) -> None:
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        files[name] = {"bytes": len(data), **truth}

    originals = []
    for i in range(INGEST_HTML + INGEST_DOCX):
        paras = paragraphs(rng, vocab, DOC_WORDS)
        if i < INGEST_HTML:
            name, data, text = f"d{i:04d}.html", html_bytes(paras), html_text(paras)
        else:
            name, data, text = f"d{i:04d}.docx", docx_bytes(paras), docx_text(paras)
        put(name, data, status="accepted", text=text)
        originals.append((name, paras, data))
    for j, (name, _paras, data) in enumerate(rng.sample(originals, INGEST_EXACT_DUPS)):
        # sorts after the original, so the original is the copy kept
        put(f"x{j:02d}_{name}", data, status="rejected", reason="duplicate_in_batch")
    near = []
    for j, (name, paras, _data) in enumerate(rng.sample(originals, INGEST_NEAR_DUPS)):
        p2 = _perturb(rng, vocab, paras)
        stem, ext = name.rsplit(".", 1)
        nd = f"n{j:02d}_{stem}.{ext}"
        if ext == "html":
            put(nd, html_bytes(p2), status="accepted", text=html_text(p2))
        else:
            put(nd, docx_bytes(p2), status="accepted", text=docx_text(p2))
        near.append((name, nd))
    junk = " ".join(vocab.sample(rng, 200)).encode()
    put("notes.txt", junk, status="rejected", reason="unsupported_extension")
    put("readme.md", junk, status="rejected", reason="unsupported_extension")
    put("broken.docx", junk, status="rejected", reason="mime_mismatch")
    big = b"<html><body>" + b"x" * (OVERSIZE_BYTES - 26) + b"</body></html>"
    put("huge.html", big, status="rejected", reason="file_too_large")
    return {"files": files, "near_dups": near, "vocab": vocab}


# request kind → query texts it carries (fixed, so work per block is too)
REQUEST_KINDS = {"lexical": 3, "ann": 2, "exact": 4, "hybrid": 2}


def request_block(rng: random.Random, texts: list[str]) -> list[dict]:
    """One block of a closed-loop request stream: one request of each kind,
    always in the same order, so the mix and the position of each kind in
    the block are the same for every seed. Query texts are seeded word runs
    cut from live chunks, so requests hit."""
    out = []
    for kind, n_queries in REQUEST_KINDS.items():
        queries = []
        for q in range(n_queries):
            toks = rng.choice(texts).split()
            start = rng.randrange(max(1, len(toks) - 6))
            queries.append((f"q{q}", " ".join(toks[start:start + rng.randint(3, 6)])))
        out.append({"kind": kind, "queries": queries})
    return out


def serve_corpus(seed: int = 0) -> dict[int, str]:
    """The serving corpus. It is the same for every run (seed 0), so its
    layouts are built once per checkout; a run's seed picks its deletes
    and requests."""
    rng = random.Random(seed * 104729 + 3)
    vocab = Vocab(rng)
    ids = rng.sample(range(1, 10**12), SERVE_CHUNKS)
    return {i: " ".join(vocab.sample(rng, CHUNK_WORDS)) for i in ids}


def delete_batch(rng: random.Random, live: dict[int, str]) -> list[int]:
    """One write op: live ids to delete (one delete file)."""
    return rng.sample(sorted(live), DELETE_ROWS)
