"""rag: the reference's ``main.py --force-rebuild``, then its QA session.

A run starts the way the reference's ``main.py --force-rebuild`` does: a
fresh process builds the knowledge base with
``ChunkWarehouse.build(force_rebuild=True)`` from a seeded pseudo-PDF
directory (the UTF-8 stub decode path, ``\\f`` = page break, text drawn
from the fixture ``documents`` table), then asks seeded questions over
the new KB, one at a time, for ``--seconds`` (at least three). Each
question is answered twice by ``qa.answer_with_sources``:
``method="exact"``, then ``method="ivf"``. A local deterministic client
stands in for the LLM.

``batch_cpu_s`` is the CPU time of that build and ``requests_cpu_s`` the
median CPU time of one question, both answers included, over the
questions after the first: the first pays the question path's JIT and is
reported on its own. The build's and the questions' wall times are in
the report. The traced run
then alternates untraced and traced iterations of a rebuild and a short
question session; a traced iteration calls the public functions that
``build`` and ``answer_with_sources`` compose, in the same order, forcing
each output, so each layer gets its own span.
"""

from __future__ import annotations

import itertools
import os
import random
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_engineering_1_spark.functions.embedding import (
    DEFAULT_DIM,
    get_embedder,
    hash_embed_texts,
)
from data_engineering_1_spark.operators import qa
from data_engineering_1_spark.operators.chunking import chunk_text, clean_documents
from data_engineering_1_spark.operators.similarity import (
    ivf_assign,
    ivf_topk_search,
    label_centroids,
    topk_by_cosine,
)
from data_engineering_1_spark.sources.pdf import extract_paragraphs, scan_pdf_dir
from data_engineering_1_spark.warehouse import CHUNKS, EMBEDDINGS, ChunkWarehouse

from common import FIXTURES, Clock, median, summary
from spans import dir_mb

SIZES = {
    "full": {"files": 60, "docs_per_file": 25, "questions": 3},
    "tiny": {"files": 4, "docs_per_file": 5, "questions": 2},
}
TOP_K = 5
N_CLUSTERS, NPROBE = 16, 4  # answer_with_sources' defaults
QUESTION_WORDS = 8
CLIENT_PREFIX = "stub answer"


def client(system_prompt: str, user_prompt: str) -> str:
    """Deterministic local stand-in for the chat-completions call."""
    return f"{CLIENT_PREFIX}: {len(system_prompt)}+{len(user_prompt)} chars"


def make_inputs(seed: int, size: str, work: str):
    """Seeded pseudo-PDFs (a few docs per page, blank line between docs,
    ``\\f`` between pages) and questions that are word windows of corpus
    docs."""
    cfg = SIZES[size]
    texts = pq.read_table(
        os.path.join(FIXTURES, "documents-sf0.1.parquet"), columns=["text"]
    ).column("text").to_pylist()
    rng = random.Random(seed)
    picked = rng.sample(texts, cfg["files"] * cfg["docs_per_file"])

    pdf_dir = os.path.join(work, "pdfs")
    os.makedirs(pdf_dir)
    per = cfg["docs_per_file"]
    for i in range(cfg["files"]):
        docs = picked[i * per:(i + 1) * per]
        pages, j = [], 0
        while j < len(docs):
            k = rng.randint(2, 6)
            pages.append("\n\n".join(docs[j:j + k]))
            j += k
        with open(os.path.join(pdf_dir, f"kb{i:03d}.pdf"), "wb") as fh:
            fh.write("\f".join(pages).encode("utf-8"))

    def question() -> str:
        words = rng.choice(picked).split()
        start = rng.randrange(max(1, len(words) - QUESTION_WORDS))
        return " ".join(words[start:start + QUESTION_WORDS])

    questions = [question() for _ in range(500)]
    return pdf_dir, questions


# -- untraced ops: exactly the public entry points -----------------------
def build(wh: ChunkWarehouse, pdf_dir: str) -> dict:
    return wh.build(pdf_dir, force_rebuild=True)


def answer(spark, q: str, chunks, method: str) -> dict:
    res = qa.answer_with_sources(
        spark, q, chunks, client=client, top_k=TOP_K, id_col="chunk_id",
        method=method, n_clusters=N_CLUSTERS, nprobe=NPROBE,
    )
    return {
        "answer": res["answer"],
        "hits": [(s["metadata"]["chunk_id"], s["similarity"])
                 for s in res["sources"]],
    }


# -- traced ops: the same calls, one span per layer ----------------------
def build_traced(tr, spark, wh: ChunkWarehouse, pdf_dir: str, op: str):
    """``ChunkWarehouse.build(force_rebuild=True)`` and the
    ``extract_chunks`` it composes, stage by stage."""
    with tr.span("warehouse.build", op):
        with tr.span("pdf.extract"):
            paras = extract_paragraphs(scan_pdf_dir(spark, pdf_dir)).persist()
            n_paras = paras.count()
        with tr.span("chunking.chunk"):
            chunked = chunk_text(
                clean_documents(paras, text_col="text", min_len=10),
                text_col="cleaned",
            ).select(
                F.col("chunk_text").alias("text"), "source", "page_number",
                "paragraph_number", "total_pages", "chunk_number",
            ).withColumn(
                "chunk_id",
                F.concat_ws(":", "source", "page_number", "paragraph_number",
                            F.coalesce(F.col("chunk_number"), F.lit(0))),
            ).persist()
            n_chunks = chunked.count()
        with tr.span("warehouse.write"):
            chunked.write.mode("overwrite").partitionBy("source").parquet(
                wh.path(CHUNKS))
        with tr.span("embedding.embed"):
            emb = wh.load(CHUNKS).select(
                "chunk_id", "text", "source", "page_number",
                "paragraph_number", "total_pages", "chunk_number",
                get_embedder(dim=DEFAULT_DIM)("text").alias("embedding"),
            ).persist()
            emb.count()
        with tr.span("warehouse.write"):
            emb.write.mode("overwrite").parquet(wh.path(EMBEDDINGS))
        with tr.span("warehouse.stats"):
            stats = wh.stats()
    for df in (paras, chunked, emb):
        df.unpersist()
    return stats, n_paras, n_chunks


def answer_traced(tr, spark, q: str, chunks, method: str, op: str):
    """``qa.answer_with_sources`` unrolled; returns the answer and, for
    IVF, the number of candidates the probe admitted."""
    n_cand = None
    with tr.span(f"qa.{method}_answer", op):
        with tr.span("embedding.query_embed"):
            qvec = hash_embed_texts(pd.Series([q]), dim=DEFAULT_DIM)[0]
            qdf = spark.createDataFrame([(qvec,)], "query_vec array<float>")
        if method == "exact":
            with tr.span("similarity.exact_topk"):
                docs = [r.asDict() for r in topk_by_cosine(
                    chunks, qdf, k=TOP_K, id_col="chunk_id").collect()]
        else:
            labeled = chunks.withColumn(
                "label",
                F.pmod(F.xxhash64(F.col("chunk_id")),
                       F.lit(N_CLUSTERS)).cast("int"),
            )
            with tr.span("similarity.ivf_centroids"):
                cents = label_centroids(labeled).persist()
                cents.count()
            with tr.span("similarity.ivf_assign"):
                assign = ivf_assign(labeled, cents, id_col="chunk_id").persist()
                assign.count()
            with tr.span("similarity.ivf_search"):
                docs = [r.asDict() for r in ivf_topk_search(
                    labeled, qdf, k=TOP_K, nprobe=NPROBE, centroids=cents,
                    assignment=assign, id_col="chunk_id",
                ).drop("label").collect()]
            probe = ivf_assign(
                qdf.select(F.lit("query").alias("chunk_id"),
                           F.col("query_vec").alias("embedding")),
                cents, id_col="chunk_id", n_best=NPROBE,
            ).select("assigned_label")
            n_cand = assign.join(probe, "assigned_label", "left_semi").count()
            cents.unpersist()
            assign.unpersist()
        with tr.span("qa.compose"):
            text = qa.generate_answer(q, docs, client)
    hits = [(d["chunk_id"], d["cosine_sim"]) for d in docs]
    return {"answer": text, "hits": hits}, n_cand


# -- checks ----------------------------------------------------------------
def query_vec(q: str) -> np.ndarray:
    """The query embedding as the engine sees it (``array<float>``)."""
    return np.asarray(hash_embed_texts(pd.Series([q]), dim=DEFAULT_DIM)[0],
                      dtype=np.float32).astype(np.float64)


def numpy_topk(ids: list, mat: np.ndarray, q: str) -> list[tuple[str, float]]:
    """Brute-force cosine ranking over the written embeddings table,
    rounded like the engine (6 places), ties broken on chunk_id."""
    qv = query_vec(q)
    cos = np.round(mat @ qv / (np.linalg.norm(mat, axis=1)
                               * np.linalg.norm(qv)), 6)
    order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))
    return [(ids[i], float(cos[i])) for i in order]


def half_away(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 0)`` (half away from zero), as int64."""
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


class NumpyIvf:
    """The IVF index ``answer_with_sources(method="ivf")`` builds, in
    NumPy: elements on the 1e8 grid, per-label centroids as the
    half-away mean on the 1e6 grid (``label_centroids``), each chunk in
    the cluster of its highest exact integer dot (``ivf_assign``, ties to
    the lower label)."""

    def __init__(self, mat: np.ndarray, labels: np.ndarray):
        grid = half_away(mat * 1e8)
        self.labels = np.unique(labels)
        cents = []
        for lab in self.labels:
            s, n = grid[labels == lab].sum(axis=0), int((labels == lab).sum())
            cents.append(np.where(s >= 0, (2 * s + 100 * n) // (200 * n),
                                  -((-2 * s + 100 * n) // (200 * n))))
        self.cents = np.array(cents)
        self.assigned = self.labels[np.argmax(grid @ self.cents.T, axis=1)]

    def probe(self, q: str) -> set:
        """The ``nprobe`` labels whose centroids have the highest dot with
        the query."""
        dots = self.cents @ half_away(query_vec(q) * 1e8)
        order = sorted(range(len(self.labels)),
                       key=lambda i: (-dots[i], self.labels[i]))
        return {int(self.labels[i]) for i in order[:NPROBE]}


def same_hits(hits, want, sims, allowed=None) -> bool:
    """The engine's hits are the wanted top-k with their true cosines;
    two chunks may swap only where their cosines tie within the 6-place
    rounding. ``allowed``: the ids a hit may come from."""
    got = [h[0] for h in hits]
    if len(got) != len(want) or len(set(got)) != len(got):
        return False
    if any(abs(sims.get(i, -9) - s) > 1e-6 for i, s in hits):
        return False
    if allowed is not None and not set(got) <= allowed:
        return False
    return got == [w[0] for w in want] or all(
        abs(sims[g] - w[1]) <= 1e-6 for g, w in zip(got, want))


def check_answers(ctx, wh: ChunkWarehouse, asked: list) -> float:
    """Exact hits equal the NumPy top-k over the written embeddings; IVF
    hits equal the NumPy top-k over the members of the clusters the
    NumPy IVF index probes for the question. Returns mean IVF recall@k
    against the exact top-k."""
    t = pq.read_table(wh.path(EMBEDDINGS), columns=["chunk_id", "embedding"])
    ids = t.column("chunk_id").to_pylist()
    mat = np.asarray(t.column("embedding").to_pylist(),
                     dtype=np.float32).astype(np.float64)
    # the engine's bucket label of each chunk, from one Spark pass
    labels = wh.load(EMBEDDINGS).select(
        "chunk_id",
        F.pmod(F.xxhash64("chunk_id"), F.lit(N_CLUSTERS)).cast("int")
        .alias("label"),
    ).toPandas().set_index("chunk_id")["label"]
    ivf = NumpyIvf(mat, labels.loc[ids].to_numpy())
    cluster_of = dict(zip(ids, ivf.assigned.tolist()))
    recalls, bad = [], []
    for q, exact, approx in asked:
        ranked = numpy_topk(ids, mat, q)
        sims = dict(ranked)
        probed = ivf.probe(q)
        members = {i for i in ids if cluster_of[i] in probed}
        want_ivf = [r for r in ranked if r[0] in members][:TOP_K]
        ok = (same_hits(exact["hits"], ranked[:TOP_K], sims)
              and same_hits(approx["hits"], want_ivf, sims, members)
              and all(r["answer"].startswith(CLIENT_PREFIX)
                      for r in (exact, approx)))
        if not ok:
            bad.append(q)
        recalls.append(len({h[0] for h in exact["hits"]}
                           & {h[0] for h in approx["hits"]}) / TOP_K)
    ctx.check("rag.topk_matches_numpy", not bad and bool(asked),
              f"{len(asked)} questions, exact and IVF; failing: {bad[:3]}")
    return float(np.mean(recalls)) if recalls else 0.0


def ask(ctx, spark, q: str, chunks, traced: bool, op: str):
    """One question, exact then IVF; None when either answer failed.
    Returns the answers, the exact answer's wall time and, traced, the
    number of IVF candidates."""
    n_cand = None
    t0 = time.perf_counter()
    if not traced:
        ex = ctx.op(answer, spark, q, chunks, "exact")
        t_exact = time.perf_counter() - t0
        iv = ctx.op(answer, spark, q, chunks, "ivf")
    else:
        ex = ctx.op(answer_traced, ctx.tracer, spark, q, chunks, "exact", op)
        t_exact = time.perf_counter() - t0
        iv = ctx.op(answer_traced, ctx.tracer, spark, q, chunks, "ivf", op)
        if ex is not None and iv is not None:
            (ex, _), (iv, n_cand) = ex, iv
    if ex is None or iv is None:
        return None
    return ex, iv, t_exact, n_cand


def traced_iterations(ctx, wh: ChunkWarehouse, pdf_dir: str, qs, asked: list,
                      stats_seen: list) -> dict:
    """Traced run only: iterations of a rebuild and a question session,
    alternately untraced and traced, for ``--seconds`` and at least one
    of each. Returns the per-layer metrics."""
    spark, tr, cfg = ctx.spark, ctx.tracer, SIZES[ctx.size]
    batch, sess = {0: [], 1: []}, {0: [], 1: []}
    counts, n_cands = [], []
    t_end = time.perf_counter() + ctx.args.seconds
    for it in itertools.count():
        traced = it % 2 == 1
        op = f"iteration-{it}"
        t0 = time.perf_counter()
        if traced:
            stats = None
            built = ctx.op(build_traced, tr, spark, wh, pdf_dir, op)
            if built is not None:
                stats, n_paras, n_chunks = built
                counts.append((n_paras, n_chunks))
        else:
            stats = ctx.op(build, wh, pdf_dir)
        if stats is not None:
            batch[traced].append(time.perf_counter() - t0)
            stats_seen.append(stats)
        with tr.span("warehouse.load", op):
            chunks = wh.load(EMBEDDINGS)
        session = []
        for k in range(cfg["questions"]):
            q = next(qs)
            t0 = time.perf_counter()
            got = ask(ctx, spark, q, chunks, traced, f"{op}-q{k}")
            if got is None:
                continue
            session.append(time.perf_counter() - t0)
            asked.append((q, got[0], got[1]))
            if got[3] is not None:
                n_cands.append(got[3])
        if len(session) == cfg["questions"]:
            sess[traced].append(sum(session))
        if it >= 1 and time.perf_counter() >= t_end:
            break

    def med_ms(name: str) -> float:
        return median(tr.durations(name)) * 1e3

    def per_build(name: str) -> float:
        by_op: dict[str, float] = {}
        for s in tr.named(name):
            by_op[s["op"]] = by_op.get(s["op"], 0.0) + s["end"] - s["start"]
        return median(list(by_op.values()))

    return {
        "pdf.extract_s": (median(tr.durations("pdf.extract")), "s"),
        "pdf.paragraphs": (counts[-1][0] if counts else 0, "count"),
        "pdf.chunks": (counts[-1][1] if counts else 0, "count"),
        "chunking.chunk_s": (median(tr.durations("chunking.chunk")), "s"),
        "embedding.embed_s": (median(tr.durations("embedding.embed")), "s"),
        "embedding.query_embed_ms": (med_ms("embedding.query_embed"), "ms"),
        "warehouse.write_s": (per_build("warehouse.write"), "s"),
        "warehouse.written_mb": (dir_mb(wh.root), "MB"),
        "warehouse.load_ms": (med_ms("warehouse.load"), "ms"),
        "similarity.exact_topk_ms": (med_ms("similarity.exact_topk"), "ms"),
        "similarity.ivf_centroids_ms": (med_ms("similarity.ivf_centroids"),
                                        "ms"),
        "similarity.ivf_assign_ms": (med_ms("similarity.ivf_assign"), "ms"),
        "similarity.ivf_search_ms": (med_ms("similarity.ivf_search"), "ms"),
        "similarity.ivf_candidates": (median(n_cands), "count"),
        "qa.compose_ms": (med_ms("qa.compose"), "ms"),
        "qa.exact_answer_ms": (med_ms("qa.exact_answer"), "ms"),
        "qa.ivf_answer_ms": (med_ms("qa.ivf_answer"), "ms"),
        "trace.bookkeeping_s": (tr.bookkeeping_s, "s"),
        # traced minus untraced medians of the warm iterations
        "trace.batch_overhead_s": (median(batch[1]) - median(batch[0]), "s"),
        "trace.requests_overhead_s": (median(sess[1]) - median(sess[0]),
                                      "s"),
    }


def run(ctx) -> dict:
    spark, cfg = ctx.spark, SIZES[ctx.size]
    pdf_dir, questions = make_inputs(ctx.args.seed, ctx.size, ctx.work)
    qs = itertools.cycle(questions)
    wh = ChunkWarehouse(spark, os.path.join(ctx.work, "kb"))
    stats_seen, asked = [], []

    # the fresh process's forced build, then its question session
    ctx.setup_done()
    with Clock() as ingest:
        stats = ctx.op(build, wh, pdf_dir)
    samples = {"wall": [], "cpu": [], "exact": [], "ivf": []}
    if stats is not None:
        stats_seen.append(stats)
        chunks = wh.load(EMBEDDINGS)
        t_end = time.perf_counter() + ctx.args.seconds
        for k in itertools.count():
            if k >= cfg["questions"] and time.perf_counter() >= t_end:
                break
            q = next(qs)
            with Clock() as c:
                got = ask(ctx, spark, q, chunks, False, f"question-{k}")
            if got is None:
                continue
            asked.append((q, got[0], got[1]))
            samples["wall"].append(c.wall)
            samples["cpu"].append(c.cpu)
            samples["exact"].append(got[2])
            samples["ivf"].append(c.wall - got[2])
    per_layer = {}
    if ctx.args.trace:
        per_layer = traced_iterations(ctx, wh, pdf_dir, qs, asked, stats_seen)

    # checks, outside the timed region
    seen = {(s["chunk_count"], s["document_count"]) for s in stats_seen}
    ctx.check("rag.kb_counts",
              len(seen) == 1 and min(seen)[0] == min(seen)[1] > 0,
              f"(chunks, embeddings) per build: {sorted(seen)}")
    recall = check_answers(ctx, wh, asked)
    if ctx.args.trace:
        per_layer["similarity.ivf_recall_at_5"] = (recall, "ratio")

    def ms(xs: list[float]) -> list[float]:
        return [x * 1e3 for x in xs]

    report = {
        "kb_chunks": stats_seen[0]["chunk_count"] if stats_seen else 0,
        "kb_files": cfg["files"],
        "ingest_s": {"value": ingest.wall, "unit": "s", "n": 1},
        "ingest_cpu_s": {"value": ingest.cpu, "unit": "s", "n": 1},
        "rag_question_ms": summary(ms(samples["wall"]), "ms"),
        "rag_question_cpu_s": summary(samples["cpu"][1:], "s"),
        "rag_first_question_cpu_s": summary(samples["cpu"][:1], "s"),
        "rag_exact_ms": summary(ms(samples["exact"]), "ms"),
        "rag_ivf_ms": summary(ms(samples["ivf"]), "ms"),
        "ivf_recall_at_5": {"value": recall, "unit": "ratio",
                            "n": len(asked)},
    }
    return {
        "report": report,
        "end_to_end": {
            "batch_cpu_s": (ingest.cpu, "s"),
            "requests_cpu_s": (round(median(samples["cpu"][1:]), 6), "s"),
        },
        "per_layer": per_layer,
    }
