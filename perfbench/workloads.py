"""The two workloads. Each drives the package's public functions the way
a user of a RAG engine would, times its operations, checks every result
it can against perfbench.reference, and returns a ``Run``.

- ingest_curate: batch passes of files → ingest → chunk and vector
  tables → near-duplicate and semantic dedup → IVF-PQ and BM25 layouts.
- serve: one client, closed loop, over a copy of layouts prepared once
  per checkout: one delete op that lands as a file, is applied to both
  layouts through the delete stream and must be visible to re-opened
  searchers, one block of read requests (lexical, ann, exact, hybrid) and
  one compaction.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from . import reference as R

PKG = "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark"
K = 5
HYBRID_DEPTH = 20
MMR_FETCH = 16
SEMDEDUP_TAU = 0.95
MINHASH_THRESHOLD = 0.5
ANN_RECALL_FLOOR = 0.9


@dataclass
class Run:
    setup_s: list[float] = field(default_factory=list)
    latencies_ms: list[float] = field(default_factory=list)
    by_kind_ms: dict[str, list[float]] = field(default_factory=dict)
    units_done: float = 0.0
    timed_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    space_amp: float = 0.0
    sizes: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def record(self, kind: str, ms: float) -> None:
        self.latencies_ms.append(ms)
        self.by_kind_ms.setdefault(kind, []).append(ms)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def _mods():
    import importlib

    names = {
        "session": "session", "ingest": "sources.ingest", "embed": "operators.embed",
        "knn": "operators.knn", "pqi": "operators.pq_index", "bm25": "operators.bm25",
        "dedup": "operators.dedup", "semdedup": "operators.semdedup", "mmr": "operators.mmr",
        "partdelete": "operators.partdelete", "vectors": "plans.vectors",
        "deletes": "streaming.index_deletes",
    }
    return type("Mods", (), {k: importlib.import_module(f"{PKG}.{v}") for k, v in names.items()})


def dir_bytes(*paths: str) -> tuple[int, int, int]:
    """(parquet files, bytes of all files, partition directories)."""
    files = size = parts = 0
    for root in paths:
        for d, _sub, fs in os.walk(root):
            if "=" in os.path.basename(d):
                parts += 1
            for f in fs:
                size += os.path.getsize(os.path.join(d, f))
                files += f.endswith(".parquet")
    return files, size, parts


class Engine:
    """The session plus the package's modules; what every workload shares."""

    def __init__(self, spark, work: str, tracer, layouts: str) -> None:
        from pyspark.sql import functions as F

        self.spark, self.work, self.tr, self.F = spark, work, tracer, F
        self.layouts = layouts
        self.m = _mods()

    def embed_queries(self, texts: list[tuple[int, str]]) -> list[tuple[int, list[float]]]:
        """Query text → hashing embedding, computed by the engine and
        brought to the client as a literal, as a serving tier does."""
        F = self.F
        df = self.spark.createDataFrame(texts, "qid long, text string").select(
            "qid", self.m.embed.hashing_embedding(F.col("text")).alias("embedding"))
        return [(r["qid"], list(r["embedding"])) for r in df.collect()]

    def vec_df(self, qvecs, id_col: str = "qid"):
        return self.spark.createDataFrame(qvecs, f"{id_col} long, embedding array<float>")

    def write_corpus(self, rows: dict[int, str], path: str):
        """(chunk_id, page_content) rows → chunk and vector tables."""
        chunks = self.spark.createDataFrame(sorted(rows.items()), "chunk_id long, page_content string")
        chunks.write.mode("overwrite").parquet(f"{path}/chunks")
        chunks = self.spark.read.parquet(f"{path}/chunks")
        self.embed_chunks(chunks).write.mode("overwrite").parquet(f"{path}/vectors")
        return chunks, self.spark.read.parquet(f"{path}/vectors")

    def embed_chunks(self, chunks):
        """The vector table, keyed by ``vec_id``: the key the IVF-PQ codes
        layout always carries, whatever ``id_col`` its upsert is given."""
        return self.m.embed.embed_documents(chunks, "page_content", "chunk_id").withColumnRenamed(
            "chunk_id", "vec_id")

    def build_indexes(self, chunks, vectors, path: str) -> None:
        self.m.pqi.build_ivfpq_index(vectors, f"{path}/ivfpq")
        self.m.bm25.build_bm25_index(chunks, f"{path}/bm25", id_col="chunk_id", text_col="page_content")

    def open_searchers(self, path: str, vectors):
        ivf = self.m.pqi.open_ivfpq_index(self.spark, f"{path}/ivfpq", vectors)
        return ivf, self.m.bm25.Bm25Searcher(self.spark, f"{path}/bm25")

    def vectors_np(self, vectors) -> tuple[np.ndarray, np.ndarray]:
        rows = vectors.collect()
        return (np.array([r["vec_id"] for r in rows], dtype=np.int64),
                np.array([r["embedding"] for r in rows], dtype=np.float64))


# ---------------------------------------------------------------- ingest

def ingest_curate(eng: Engine, seed: int, seconds: float) -> Run:
    """Batch passes, each over a fresh seeded batch, in a fresh process:
    the first pass pays the first-use costs (JIT, code generation, Python
    workers), as a batch ingest job does."""
    run = Run()
    t0 = time.perf_counter()
    n_pass = 0
    last = 0.0
    while n_pass == 0 or time.perf_counter() - t0 + last <= seconds:
        base = f"{eng.work}/ingest/pass{n_pass}"
        truth = gen.ingest_corpus(seed * 1000 + n_pass, f"{base}/in")
        with eng.tr.op("ingest_pass"):
            ts = time.perf_counter()
            out = _ingest_pass(eng, f"{base}/in", f"{base}/out")
            ms = (time.perf_counter() - ts) * 1e3
        run.record("ingest_pass", ms)
        last = ms / 1e3
        run.units_done += len(truth["files"])
        run.timed_s += ms / 1e3
        _check_ingest(eng, run, truth, out, f"{base}/out")
        files, size, _parts = dir_bytes(f"{base}/out/ivfpq", f"{base}/out/bm25")
        run.extra.setdefault("space_amp", []).append(size / out["text_bytes"])
        run.extra["dedup"] = {"candidates": out.get("candidates", 0), "confirmed": len(out["pairs"])}
        run.extra.update({"files_in": len(truth["files"]), "files_rejected": len(out["rejected"]),
                          "pages": out["pages"], "result_rows": out["n_chunks"]})
        run.extra["index_dirs"] = [f"{base}/out/ivfpq", f"{base}/out/bm25"]
        n_pass += 1
        if n_pass > 1:
            shutil.rmtree(f"{eng.work}/ingest/pass{n_pass - 2}", ignore_errors=True)
    run.space_amp = statistics.median(run.extra.pop("space_amp"))
    run.sizes = {"passes": n_pass, "files_per_pass": len(truth["files"]),
                 "accepted_per_pass": sum(f["status"] == "accepted" for f in truth["files"].values())}
    return run


def _ingest_pass(eng: Engine, in_dir: str, out: str) -> dict:
    """Files → ingest → chunk and vector tables → near-duplicate pairs →
    semantic dedup → both layouts."""
    m, F, spark = eng.m, eng.F, eng.spark
    res = m.ingest.ingest(spark, f"{in_dir}/*")
    rejected = [(r["path"], r["reason"]) for r in res.rejected.collect()]
    accepted = [r["filename"] for r in res.accepted.select("filename").collect()]
    res.chunks.write.mode("overwrite").parquet(f"{out}/chunks")
    chunks = spark.read.parquet(f"{out}/chunks")
    eng.embed_chunks(chunks).write.mode("overwrite").parquet(f"{out}/vectors")
    vectors = spark.read.parquet(f"{out}/vectors")
    pairs = m.dedup.minhash_dedup_pairs(chunks, id_col="chunk_id", text_col="page_content",
                                        threshold=MINHASH_THRESHOLD).collect()
    sem = m.semdedup.semdedup(vectors, n_cells=1, threshold=SEMDEDUP_TAU).collect()
    eng.build_indexes(chunks, vectors, out)
    return {"rejected": rejected, "accepted": accepted, "pairs": pairs, "sem": sem,
            "text_bytes": 0}


def _check_ingest(eng: Engine, run: Run, truth: dict, out: dict, out_dir: str) -> None:
    spark, F = eng.spark, eng.F
    files = truth["files"]
    got_rej = {os.path.basename(p): r for p, r in out["rejected"]}
    want_rej = {n: f["reason"] for n, f in files.items() if f["status"] == "rejected"}
    run.check(got_rej == want_rej, f"rejected {sorted(set(got_rej.items()) ^ set(want_rej.items()))[:4]}")
    want_acc = sorted(n for n, f in files.items() if f["status"] == "accepted")
    run.check(sorted(out["accepted"]) == want_acc, "accepted set differs")
    split_text = __import__(f"{PKG}.operators.splitter", fromlist=["split_text"]).split_text
    rows = spark.read.parquet(f"{out_dir}/chunks").select("source_file", "chunk_id", "page_content").collect()
    per_file: dict[str, int] = {}
    texts = {}
    for r in rows:
        per_file[r["source_file"]] = per_file.get(r["source_file"], 0) + 1
        texts[r["chunk_id"]] = r["page_content"]
    want_chunks = {n: len(split_text(files[n]["text"], 1000, 200)) for n in want_acc}
    run.check(per_file == want_chunks, "chunk counts differ from split_text")
    out["text_bytes"] = sum(len(t.encode()) for t in texts.values())
    out["n_chunks"] = len(texts)
    out["pages"] = spark.read.parquet(f"{out_dir}/chunks").select("doc_id", "page_no").distinct().count()
    n_codes = spark.read.parquet(f"{out_dir}/ivfpq/codes").count()
    n_docs = spark.read.parquet(f"{out_dir}/bm25/doclens").count()
    run.check(n_codes == len(texts) and n_docs == len(texts), f"index rows {n_codes}/{n_docs} != chunks {len(texts)}")
    if eng.tr.enabled:  # the useful-pair ratio's denominator, a per-layer metric only
        out["candidates"] = eng.m.dedup.minhash_candidates(
            spark.read.parquet(f"{out_dir}/chunks"), id_col="chunk_id", text_col="page_content").count()
    # near-dup pairs: each confirmed pair's Jaccard is real, and every
    # planted near-duplicate document is found through one of its chunks
    src = {r["chunk_id"]: r["source_file"] for r in rows}
    for p in out["pairs"]:
        j = R.jaccard(texts[p["id_a"]], texts[p["id_b"]])
        run.check(j >= MINHASH_THRESHOLD and abs(j - p["jaccard"]) < 1e-3, f"minhash pair {p}")
    found = {frozenset((src[p["id_a"]], src[p["id_b"]])) for p in out["pairs"]}
    for a, b in truth["near_dups"]:
        run.check(frozenset((a, b)) in found, f"near-dup {a}/{b} not found")
    # semantic prune equals the NumPy rule
    ids, mat = eng.vectors_np(spark.read.parquet(f"{out_dir}/vectors"))
    pruned, border = R.semdedup_pruned(mat, ids, SEMDEDUP_TAU)
    got = {r["vec_id"] for r in out["sem"] if not r["kept"]}
    run.check(got - border == pruned - border and len(out["sem"]) == len(ids), "semdedup prune set differs")


# ---------------------------------------------------------------- serve

def prepare_serve(eng: Engine, path: str) -> None:
    """Write the serving corpus's chunk and vector tables and build both
    layouts from them into ``path``: the persistent state a server starts
    on."""
    chunks, vectors = eng.write_corpus(gen.serve_corpus(), path)
    eng.build_indexes(chunks, vectors, path)


class Corpus:
    """A live chunk corpus with its tables, layouts and open searchers,
    started from a copy of prepared layouts."""

    def __init__(self, eng: Engine, rows: dict[int, str], layouts: str, path: str) -> None:
        self.eng, self.rows, self.path = eng, dict(rows), path
        shutil.copytree(layouts, path)
        self.chunks = eng.spark.read.parquet(f"{path}/chunks")
        self.reopen(eng.spark.read.parquet(f"{path}/vectors"))

    def reopen(self, vectors) -> None:
        self.vectors = vectors
        self.ivf, self.bm = self.eng.open_searchers(self.path, vectors)

    def reference(self):
        ids, mat = self.eng.vectors_np(self.vectors)
        return ids, mat, R.Bm25Ref(self.rows)


def serve(eng: Engine, seed: int, seconds: float) -> Run:
    """Closed loop, one client, on a copy of the prepared layouts. A cycle
    is one delete op that must become visible, one block of read requests
    (one of each kind, in a fixed order) and one BM25 compaction; runs are
    whole cycles, so every run has the same mix. A cycle starts only while it should end within
    ``seconds``, and the first always runs."""
    run = Run()
    rows = gen.serve_corpus()
    rng = random.Random(seed * 31 + 7)
    t = time.perf_counter()
    corpus = Corpus(eng, rows, eng.layouts, f"{eng.work}/serve")
    run.setup_s.append(time.perf_counter() - t)
    base = corpus.path
    os.makedirs(f"{base}/deletes_in", exist_ok=True)
    t0 = time.perf_counter()
    cycles = landed = 0
    last = 0.0
    while cycles == 0 or time.perf_counter() - t0 + last <= seconds:
        tc = time.perf_counter()
        deletes = gen.delete_batch(rng, corpus.rows)
        with eng.tr.op("delete"):
            landed += _apply_deletes(eng, corpus, deletes, cycles)
            probe = _visibility_probe(eng, corpus, deletes)
            ms = (time.perf_counter() - corpus.landed_at) * 1e3
        run.by_kind_ms.setdefault("write_visible", []).append(ms)
        run.timed_s += ms / 1e3
        _check_visible(run, corpus, probe)
        ref = corpus.reference()
        for req in gen.request_block(rng, list(corpus.rows.values())):
            with eng.tr.op(req["kind"]):
                ts = time.perf_counter()
                out = _REQUESTS[req["kind"]](eng, corpus, req)
                ms = (time.perf_counter() - ts) * 1e3
            run.record(req["kind"], ms)
            run.timed_s += ms / 1e3
            run.extra["result_rows"] = run.extra.get("result_rows", 0) + len(out["rows"])
            if req["kind"] == "ann":
                run.extra["ann_result_rows"] = run.extra.get("ann_result_rows", 0) + len(out["rows"])
            _check_request(run, req, out, *ref)
        with eng.tr.op("compact"):
            ts = time.perf_counter()
            comp = eng.m.bm25.compact_bm25_index(eng.spark, f"{base}/bm25")
            corpus.reopen(corpus.vectors)
            ms = (time.perf_counter() - ts) * 1e3
        run.by_kind_ms.setdefault("compact", []).append(ms)
        run.timed_s += ms / 1e3
        run.check(comp["files_after"] <= comp["files_before"], f"compaction grew the layout {comp}")
        cycles += 1
        last = time.perf_counter() - tc
    run.units_done = cycles * (len(gen.REQUEST_KINDS) + 2)
    run.space_amp = dir_bytes(f"{base}/ivfpq", f"{base}/bm25")[1] / sum(
        len(t.encode()) for t in corpus.rows.values())
    run.sizes = {"initial_chunks": len(rows), "live_chunks": len(corpus.rows), "cycles": cycles,
                 "reads": cycles * len(gen.REQUEST_KINDS), "writes": cycles,
                 "rows_per_write": gen.DELETE_ROWS}
    run.extra.update({"landed_bytes": landed, "index_dirs": [f"{base}/ivfpq", f"{base}/bm25"],
                      "recall": statistics.mean(run.extra.pop("recalls", [1.0]))})
    return run


def _numbered(req) -> list[tuple[int, str]]:
    return [(n, text) for n, (_qid, text) in enumerate(req["queries"])]


def _req_ann(eng, c, req):
    qv = eng.embed_queries(_numbered(req))
    rows = c.ivf.search(eng.vec_df(qv, "vec_id"), k=K, exclude_self=False).collect()
    return {"qv": qv, "rows": rows}


def _req_exact(eng, c, req):
    qv = eng.embed_queries(_numbered(req))
    df = eng.m.knn.knn_exact_expr(c.vectors, eng.vec_df(qv), k=K,
                                  query_id_col="qid", exclude_self=False)
    return {"qv": qv, "rows": df.collect()}


def _req_lexical(eng, c, req):
    return {"rows": c.bm.search(req["queries"], k=K).collect()}


def _req_hybrid(eng, c, req):
    """BM25 and exact-cosine rankings fused by RRF, then MMR over the fused
    candidates."""
    F, m = eng.F, eng.m
    named = [(str(n), text) for n, text in _numbered(req)]
    qv = eng.embed_queries(_numbered(req))
    lex = c.bm.search(named, k=HYBRID_DEPTH).select("query_id", "doc_id", "rank")
    vec = m.knn.knn_exact_expr(c.vectors, eng.vec_df(qv), k=HYBRID_DEPTH,
                               query_id_col="qid", exclude_self=False).select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"), "rank")
    fused = m.vectors.rrf_fuse([lex, vec], topk=MMR_FETCH).select(
        "query_id", F.col("doc_id").alias("neighbor_id"), F.col("rrf_score").alias("score"))
    df = m.mmr.mmr_rerank_candidates(fused, c.vectors, k=K, fetch_c=MMR_FETCH)
    return {"rows": df.collect(), "qv": qv}


_REQUESTS = {"ann": _req_ann, "exact": _req_exact, "lexical": _req_lexical, "hybrid": _req_hybrid}


def _check_request(run: Run, req: dict, out: dict, ids, mat, bref) -> None:
    kind = req["kind"]
    if kind == "lexical":
        ref = bref.search(req["queries"], K)
        for qid, text in req["queries"]:
            got = sorted(((r["doc_id"], r["score"], r["rank"]) for r in out["rows"] if r["query_id"] == qid),
                         key=lambda x: x[2])
            full = R.bm25_all_scores(bref, qid, text)
            run.check(R.topk_matches([(g, s) for g, s, _ in got], ref[qid], full, R.SCORE_TOL),
                      f"lexical {qid}")
    elif kind in ("exact", "ann"):
        recalls = []
        for qid, vec in out["qv"]:
            ref, full = R.cosine_topk(mat, ids, np.asarray(vec, dtype=np.float64), K)
            got = sorted(((r["neighbor_id"], r["score"], r["rank"]) for r in out["rows"] if r["query_id"] == qid),
                         key=lambda x: x[2])
            if kind == "exact":
                run.check(R.topk_matches([(g, s) for g, s, _ in got], ref, full, R.COS_TOL), f"exact {qid}")
            else:
                recalls.append(len({g for g, _, _ in got} & {r for r, _ in ref}) / K)
        if kind == "ann":
            run.extra.setdefault("recalls", []).extend(recalls)
            run.check(statistics.mean(recalls) >= ANN_RECALL_FLOOR, f"ann recall {recalls}")
    else:
        # k distinct ids per query, each within the top HYBRID_DEPTH of the
        # BM25 or the cosine reference (by score, so ties may go either way)
        by_q: dict = {}
        for r in out["rows"]:
            by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        run.check(len(by_q) == len(out["qv"]) and all(len(v) == K == len(set(v)) for v in by_q.values()),
                  f"hybrid shape {by_q}")
        for n, (_qid, text) in enumerate(req["queries"]):
            lex = R.bm25_all_scores(bref, str(n), text)
            lex_floor = sorted(lex.values(), reverse=True)[:HYBRID_DEPTH][-1]
            cos = R.cosine_topk(mat, ids, np.asarray(out["qv"][n][1], dtype=np.float64), K)[1]
            cos_floor = sorted(cos.values(), reverse=True)[:HYBRID_DEPTH][-1]
            ok = all(lex.get(d, -1.0) >= lex_floor - R.SCORE_TOL or cos.get(d, -2.0) >= cos_floor - R.COS_TOL
                     for d in by_q.get(str(n), []))
            run.check(ok, f"hybrid {n}: an id outside both top-{HYBRID_DEPTH} candidate lists")


def _land(table, dest: str, name: str) -> int:
    """A producer outside the engine drops one parquet file into a watched
    directory; the rename makes it appear whole (dot-files are ignored by
    the stream)."""
    tmp, target = f"{dest}/.{name}.tmp", f"{dest}/{name}.parquet"
    pq.write_table(table, tmp)
    os.replace(tmp, target)
    return os.path.getsize(target)


def _apply_deletes(eng: Engine, c: Corpus, deletes: list[int], n: int) -> int:
    """Land the delete file (ids) and apply it to both layouts through the
    delete stream. The chunk and raw-vector tables (exact search and the
    IVF-PQ re-rank read them) are rewritten without the deleted ids as new
    versions, and the searchers are re-opened."""
    m, spark = eng.m, eng.spark
    base = c.path
    landed = _land(pa.table({"chunk_id": pa.array(deletes, pa.int64())}),
                   f"{base}/deletes_in", f"del{n:05d}")
    c.landed_at = time.perf_counter()
    stream = spark.readStream.schema("chunk_id long").parquet(f"{base}/deletes_in")
    q = m.deletes.stream_index_deletes(
        stream, f"{base}/delete_state", f"{base}/delete_ckpt",
        [lambda s, v: m.bm25.delete_bm25_docs(s, f"{base}/bm25", v),
         lambda s, v: m.pqi.delete_ivfpq_ids(s, f"{base}/ivfpq", v)])
    q.awaitTermination()
    eng.tr.stream(q)
    gone = spark.read.parquet(f"{base}/deletes_in/del{n:05d}.parquet")
    m.partdelete.anti_filter(c.vectors, gone.withColumnRenamed("chunk_id", "vec_id"), "vec_id").write.parquet(
        f"{base}/vectors_v{n:05d}")
    m.partdelete.anti_filter(c.chunks, gone, "chunk_id").write.parquet(f"{base}/chunks_v{n:05d}")
    c.chunks = spark.read.parquet(f"{base}/chunks_v{n:05d}")
    c.reopen(spark.read.parquet(f"{base}/vectors_v{n:05d}"))
    return landed


def _visibility_probe(eng: Engine, c: Corpus, deletes: list[int]) -> dict:
    """The first search after a delete: lexical queries made of the rarest
    words of two deleted texts."""
    texts = [c.rows.pop(i) for i in deletes[:2]]
    for i in deletes[2:]:
        c.rows.pop(i)

    def rare(text):
        words = text.split()
        return " ".join(sorted(set(words), key=lambda w: (words.count(w), w))[:6])

    queries = [(f"d{j}", rare(t)) for j, t in enumerate(texts)]
    return {"lex": c.bm.search(queries, k=K).collect(), "queries": queries, "deleted": set(deletes)}


def _check_visible(run: Run, c: Corpus, probe: dict) -> None:
    """The probe equals the BM25 reference over the surviving rows, and
    neither layout holds a deleted id any more (the IVF-PQ codes are read
    back outside the engine)."""
    bref = R.Bm25Ref(c.rows)
    ref = bref.search(probe["queries"], K)
    for qid, text in probe["queries"]:
        got = [(r["doc_id"], r["score"]) for r in sorted(probe["lex"], key=lambda r: r["rank"])
               if r["query_id"] == qid]
        run.check(R.topk_matches(got, ref[qid], R.bm25_all_scores(bref, qid, text), R.SCORE_TOL),
                  f"delete: lexical {qid} differs from the reference")
    served = {r["doc_id"] for r in probe["lex"]} & probe["deleted"]
    run.check(not served, f"deleted rows {sorted(served)} still served by BM25")
    codes = set(pq.read_table(f"{c.path}/ivfpq/codes", columns=["vec_id"]).column("vec_id").to_pylist())
    run.check(codes == set(c.rows), f"IVF-PQ codes hold {len(codes)} ids, {len(c.rows)} live")


def self_check() -> None:
    """Show on a tiny corpus that the result checks count a corrupted
    answer as an error: correct lexical and exact answers pass, and the
    same answers with the top hit swapped for another id fail."""
    rng = random.Random(0)
    words = "ab ac ad ae af ag ah".split()
    docs = {i: " ".join(rng.choice(words) for _ in range(8)) for i in range(1, 13)}
    bref = R.Bm25Ref(docs)
    ids = np.array(sorted(docs), dtype=np.int64)
    mat = np.random.default_rng(0).normal(size=(len(ids), 4))
    q = mat[0] + 0.1
    lexical = {"kind": "lexical", "queries": [("q0", "ab ac")]}
    exact = {"kind": "exact", "queries": [("q0", "")]}
    lex_rows = [{"query_id": "q0", "doc_id": d, "score": sc, "rank": r + 1}
                for r, (d, sc) in enumerate(bref.search(lexical["queries"], K)["q0"])]
    ex_rows = [{"query_id": 0, "neighbor_id": d, "score": sc, "rank": r + 1}
               for r, (d, sc) in enumerate(R.cosine_topk(mat, ids, q, K)[0])]

    def corrupt(rows, key):
        taken = {r[key] for r in rows}
        spare = next(int(i) for i in ids if int(i) not in taken)
        return [dict(rows[0], **{key: spare})] + rows[1:]

    for lr, er, want in ((lex_rows, ex_rows, 0),
                         (corrupt(lex_rows, "doc_id"), corrupt(ex_rows, "neighbor_id"), 2)):
        run = Run()
        _check_request(run, lexical, {"rows": lr}, ids, mat, bref)
        _check_request(run, exact, {"rows": er, "qv": [(0, list(q))]}, ids, mat, bref)
        if run.failed != want:
            raise RuntimeError(f"self-check: {run.failed} errors counted, {want} expected")

