"""corpus_pipeline: one composed materialization of the training-corpus DAG.

clean -> length/diversity gate -> ``exact_dedup`` -> ``minhash_signatures``
-> ``lsh_candidate_pairs`` -> ``jaccard_pairs`` >= 0.8 ->
``connected_components`` -> survivors -> ``chunk_text`` -> window block
packing -> per-lang stats, over a copy of the fixture ``documents`` table
whose row order and file count come from the seed. The dedup layer runs
inline and uncached here (``query_mix`` reaches it through
``operators.sigcache``). One materialization is a noop write of the
packed chunks plus a collect of the per-lang stats; ``batch_cpu_s`` is
the median CPU time of one, and its wall time is in the report.

Checks: the stage row counts and an order-insensitive digest of the
packed output equal the values pinned for the fixture, whatever the seed.
The traced run forces each stage's output in turn, one span per layer.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineering_1_spark.operators.chunking import chunk_text, clean_whitespace
from data_engineering_1_spark.operators.components import connected_components
from data_engineering_1_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
)
from data_engineering_1_spark.operators.textanalysis import tokens

from common import FIXTURES, Clock, median, summary

BLOCK_TOKENS = 2048
TINY_DOCS = 300
# stage row counts and packed-output digest of the fixture (the full
# counts are those of bench_pipeline.json at sf0.1)
EXPECTED = {
    "full": {
        "counts": {"cleaned": 5000, "gated": 4263, "exact_dedup": 4256,
                   "neardup_survivors": 4001, "chunks": 4236, "packed": 4236,
                   "langs": 5},
        "digest": "4236:-455784249201637458160",
    },
    "tiny": {
        "counts": {"cleaned": 300, "gated": 259, "exact_dedup": 259,
                   "neardup_survivors": 259, "chunks": 274, "packed": 274,
                   "langs": 5},
        "digest": "274:-35464273455107033572",
    },
}
LAYERS = ("textanalysis.gate", "dedup.exact", "dedup.minhash", "dedup.lsh",
          "dedup.verify", "components.cc", "chunking.chunk", "pipeline.pack")
STAGES = ("cleaned", "gated", "exact_dedup", "neardup_survivors", "chunks",
          "packed")


def write_documents(seed: int, size: str, out_dir: str) -> None:
    """The fixture documents with seeded row order, in 1-8 files."""
    table = pq.read_table(os.path.join(FIXTURES, "documents-sf0.1.parquet"))
    if size == "tiny":
        table = table.slice(0, TINY_DOCS)
    rng = random.Random(seed)
    order = list(range(table.num_rows))
    rng.shuffle(order)
    table = table.take(pa.array(order))
    n_files = rng.randint(1, 8)
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def stages(docs, tr=None) -> dict:
    """The composed DAG, lazy. With a tracer, each stage's output is
    persisted and forced inside its layer's span instead."""

    def force(name, make):
        """``make()`` builds the stage; connected_components runs eagerly
        inside it, so the call itself belongs in the span."""
        if tr is None:
            return make()
        with tr.span(name, op="materialization"):
            df = make().persist()
            df.count()
        return df

    toks = tokens("text_clean")
    cleaned = docs.select(
        "doc_id", "lang", "source",
        clean_whitespace("text").alias("text_clean"),
    ).withColumn("n_words", F.size(toks))
    gated = force("textanalysis.gate", lambda: cleaned.where(
        (F.col("n_words") >= 20)
        & (F.size(F.array_distinct(toks)).cast("double") / F.col("n_words")
           >= 0.3)
    ))
    exact = force("dedup.exact", lambda: exact_dedup(
        gated, key_cols=("text_clean",), order_col="doc_id"))
    texts = exact.select("doc_id", F.col("text_clean").alias("text"))
    sigs = force("dedup.minhash", lambda: minhash_signatures(texts))
    cands = force("dedup.lsh", lambda: lsh_candidate_pairs(sigs))
    verified = force("dedup.verify", lambda: jaccard_pairs(
        texts, cands, max_token_df_frac=0.5).filter(F.col("jaccard") >= 0.8))
    comp = force("components.cc", lambda: connected_components(
        verified, src="doc_a", dst="doc_b", node_out="doc_id"))
    drop = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    survivors = exact.join(drop, "doc_id", "left_anti")
    chunks = force("chunking.chunk", lambda: chunk_text(
        survivors, text_col="text_clean", chunk_col="chunk_text",
    ).select(
        "doc_id", "lang", "chunk_number", "chunk_text",
        F.size(tokens("chunk_text")).alias("n_tok"),
    ))
    w = (Window.partitionBy("lang").orderBy("doc_id", "chunk_number")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = chunks.withColumn(
        "block_id",
        ((F.sum("n_tok").over(w) - F.col("n_tok")) / BLOCK_TOKENS)
        .cast("bigint"),
    )
    stats = packed.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        (F.max("block_id") + 1).alias("n_blocks"),
        F.sum(F.col("n_tok").cast("bigint")).alias("n_tokens"),
    ).orderBy("lang")
    return {"cleaned": cleaned, "gated": gated, "exact_dedup": exact,
            "neardup_survivors": survivors, "chunks": chunks,
            "packed": packed, "stats": stats, "candidates": cands,
            "verified": verified}


def materialize(spark, path: str, tr=None) -> dict:
    """Noop-write the packed chunks and collect the per-lang stats."""
    st = stages(spark.read.parquet(path), tr)
    with tr.span("pipeline.pack", op="materialization") if tr else nullcontext():
        st["packed"].write.format("noop").mode("overwrite").save()
        st["stats"].collect()
    return st


def traced_layers(ctx, path: str) -> dict:
    """One traced materialization of the documents at ``path``: each
    layer's time and the dedup counts, as per-layer metrics ({} when the
    materialization failed)."""
    spark, tr = ctx.spark, ctx.tracer
    st = ctx.op(materialize, spark, path, tr)
    if st is None:
        return {}
    n_cand, n_ver = st["candidates"].count(), st["verified"].count()
    spark.catalog.clearCache()
    layer = {f"{name}_s": (tr.total(name), "s") for name in LAYERS}
    layer.update({
        "dedup.lsh_candidates": (n_cand, "count"),
        "dedup.verified_pairs": (n_ver, "count"),
        "dedup.lsh_precision": (n_ver / n_cand if n_cand else 0.0, "ratio"),
        "components.jobs": (tr.total("components.cc", "jobs"), "count"),
    })
    return layer


def digest(packed) -> str:
    """Order-insensitive: the exact sum of per-row 64-bit hashes."""
    row = packed.select(F.sum(F.xxhash64(*packed.columns).cast(
        "decimal(38,0)")).alias("d"), F.count(F.lit(1)).alias("n")).first()
    return f"{row['n']}:{row['d']}"


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    path = os.path.join(ctx.work, "documents")
    write_documents(ctx.args.seed, ctx.size, path)
    materialize(spark, path)  # warm-up: JIT, codegen, Python workers
    ctx.setup_done()
    samples, cpus = [], []
    while True:
        with Clock() as c:
            done = ctx.op(materialize, spark, path) is not None
        if done:
            samples.append(c.wall)
            cpus.append(c.cpu)
        if not ctx.time_left():
            break

    # checks, outside the timed region
    st = stages(spark.read.parquet(path))
    counts = {name: st[name].count() for name in STAGES}
    counts["langs"] = st["stats"].count()
    got_digest = digest(st["packed"])
    want = EXPECTED[ctx.size]
    ctx.check("corpus.stage_counts", counts == want["counts"],
              f"{counts} vs pinned {want['counts']}")
    ctx.check("corpus.packed_digest", got_digest == want["digest"],
              f"{got_digest} vs pinned {want['digest']}")

    out = {
        "report": {"corpus_s": summary(samples, "s"),
                   "corpus_cpu_s": summary(cpus, "s"), "stages": counts,
                   "digest": got_digest},
        "end_to_end": {"batch_cpu_s": (median(cpus), "s")},
        "per_layer": {},
    }
    if not ctx.args.trace:
        return out
    t0 = time.perf_counter()
    layer = traced_layers(ctx, path)
    traced_s = time.perf_counter() - t0
    if layer:
        # negative when persisting each stage saves more recomputation of
        # shared subplans than the forcing costs
        layer["trace.batch_overhead_s"] = (traced_s - median(samples), "s")
    layer["trace.bookkeeping_s"] = (tr.bookkeeping_s, "s")
    out["per_layer"] = layer
    return out
