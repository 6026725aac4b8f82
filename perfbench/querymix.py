"""query_mix: one cold pass over declared queries, in a seeded order.

Twenty-two queries read a shared relation of ``operators.edgecache`` or
``operators.sigcache``; eighteen (the ``plans/tpch_queries.py`` set) read
none. The pass runs the shared-relation set first and the TPC-H set
after it, each in a seeded order. The pass starts from empty caches
(``edgecache.clear_cache()``, ``spark.catalog.clearCache()`` and a fresh,
empty durable warehouse directory), so every shared relation is built
inside the pass and its price is its build plus all its reuses. Each
query's result is collected to the driver, and after the pass every
result is compared with its DuckDB oracle by ``tools/check_parity.py``'s
own ``compare``.

``batch_cpu_s`` is the summed CPU time of the shared-relation queries of
the pass and ``requests_cpu_s`` that of its TPC-H queries; their wall
times are in the report.
The pass is the first in its process, so it also pays each query plan's
first codegen and JIT; a second warm-up pass does not fit the run budget.
The traced run then clears the caches again and forces each shared
relation once, in dependency order, to price each build on its own.
It also runs the corpus DAG of ``corpus_pipeline`` once, traced, over
the fixture's ``documents`` table, so the textanalysis, inline dedup,
components, chunking and block-packing layers have numbers on this
workload too.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import random
import shutil

import pandas as pd

from data_engineering_1_spark.operators import edgecache, sigcache
from data_engineering_1_spark.plans import registry
from tools.check_parity import compare, duck_connection

import corpus
from common import FIXTURES, Clock, median, summary
from spans import dir_mb, storage_snapshot

SHARED = (
    "clustering_coefficient_copurchase pagerank_copurchase kcore_copurchase "
    "modularity_brand_partition itemset3_orders triangle_count_copurchase "
    "cheapest_path_copurchase degree_assortativity_copurchase "
    "part_affinity_pairs hits_authority_parts user_part_recs_topn "
    "incremental_dedup_ingest dedup_clusters_lsh dedup_survivor_quality "
    "split_leakage_audit jaccard_neardup_pairs prefix_filter_jaccard_join "
    "containment_pairs_docs ensemble_neardup_vote lsh_index_admission "
    "lsh_quality_eval minhash_lsh_pairs"
).split()
PLAIN = (
    "q2_best_supplier_per_part q4_order_priority q6_forecast_revenue "
    "q7_nation_trade q8_market_share q9_product_profit q10_returned_items "
    "q11_important_stock q13_order_count_distribution q14_promo_effect "
    "q15_top_supplier q16_supplier_part_counts q17_small_quantity "
    "q18_large_orders q19_disjunctive_revenue q20_promo_volume_suppliers "
    "q21_waiting_suppliers q22_idle_rich_customers"
).split()
FIXTURE = os.path.join(FIXTURES, "sf0.01")
PINNED = os.path.join(FIXTURES, "oracle-sf0.01")
TINY = ("pagerank_copurchase", "minhash_lsh_pairs", "q6_forecast_revenue")
# every copurchase_* / document_* shared-relation function, dependencies
# first, so each build span prices only its own relation
RELATIONS = (
    (edgecache, "copurchase_items"),
    (edgecache, "copurchase_pairs"),
    (edgecache, "copurchase_und"),
    (edgecache, "copurchase_edges"),
    (edgecache, "copurchase_edges_distinct"),
    (edgecache, "copurchase_user_items"),
    (edgecache, "copurchase_supp"),
    (edgecache, "copurchase_pair_counts"),
    (edgecache, "copurchase_deg"),
    (edgecache, "copurchase_oriented"),
    (edgecache, "copurchase_oriented_adj"),
    (sigcache, "document_signatures"),
    (sigcache, "document_fingerprints"),
    (sigcache, "document_shingle_arrays"),
    (sigcache, "document_neardup_pairs"),
    (sigcache, "document_neardup_components"),
)


def empty_caches(spark, warehouse: str) -> None:
    edgecache.clear_cache()
    spark.catalog.clearCache()
    shutil.rmtree(warehouse, ignore_errors=True)
    os.makedirs(warehouse)


def one_pass(ctx, queries, order, sf: str, warehouse: str) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    empty_caches(spark, warehouse)
    secs, cpus, results, peak = {}, {}, {}, 0.0
    for name in order:
        gc.collect()  # drop py4j references of the previous query
        with tr.span(f"plans.{name}", op=name), Clock() as c:
            pdf = ctx.op(lambda: queries[name](spark, sf).toPandas())
        if pdf is not None:
            secs[name], cpus[name], results[name] = c.wall, c.cpu, pdf
        peak = max(peak, tr.snapshot(spark, name)["cached_mb"])
    return {"secs": secs, "cpus": cpus, "results": results,
            "peak_cached_mb": peak}


def parity_problems(name: str, got: pd.DataFrame,
                    want: pd.DataFrame) -> list[str]:
    """check_parity's comparison of a result with its oracle; its dtype
    notes are warnings there and here."""
    return [p for p in compare(name, got, want)
            if not p.startswith("dtype-diff")]


def fixture_digest() -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(FIXTURE)):
        with open(os.path.join(FIXTURE, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def oracle_key(sql: str, fixture: str) -> str:
    """Names one oracle output: its SQL and the fixture it reads."""
    return hashlib.sha256(f"{sql}\0{fixture}".encode()).hexdigest()


def oracle_outputs(names, sf: str) -> dict[str, pd.DataFrame]:
    """Each query's DuckDB oracle output over the fixture: the pinned
    copy (pin_oracles.py) while its SQL and the fixture are unchanged,
    else a live DuckDB run."""
    oracles = registry.get_oracles()
    with open(os.path.join(PINNED, "manifest.json")) as fh:
        manifest = json.load(fh)
    out, live, fixture = {}, [], fixture_digest()
    for name in names:
        if name not in oracles:
            continue
        entry = manifest.get(name)
        if entry and entry["key"] == oracle_key(oracles[name], fixture):
            out[name] = pd.read_parquet(os.path.join(PINNED, entry["file"]))
        else:
            live.append(name)
    if live:
        con = duck_connection(sf, threads=2, memory="1GB")
        try:
            for name in live:
                out[name] = con.execute(oracles[name]).df()
        finally:
            con.close()
    return out


def check_oracles(ctx, passes: list[dict], sf: str, names) -> None:
    wanted = oracle_outputs(names, sf)
    for name in names:
        if name not in wanted:
            ctx.check(f"oracle.{name}", False, "no oracle")
            continue
        want = wanted[name]
        diffs = [parity_problems(name, p["results"][name], want)
                 for p in passes if name in p["results"]]
        bad = [d for d in diffs if d]
        ctx.check(f"oracle.{name}", bool(diffs) and not bad,
                  "; ".join(bad[0]) if bad else f"{len(want)} rows")


def force_relations(ctx, sf: str, warehouse: str) -> dict:
    """Traced only: each shared relation built once from empty caches."""
    spark, tr = ctx.spark, ctx.tracer
    empty_caches(spark, warehouse)
    out = {}
    for module, fname in RELATIONS:
        with tr.span(f"sharedrel.{fname}", op=fname) as span:
            getattr(module, fname)(spark, sf).count()
        out[f"sharedrel.{fname}.build_s"] = (span["end"] - span["start"], "s")
    snap = storage_snapshot(spark)
    out.update({
        "sharedrel.count": (snap["rdds"], "count"),
        "sharedrel.resident_mb": (snap["cached_mb"], "MB"),
        "sharedrel.durable_mb": (dir_mb(warehouse), "MB"),
    })
    empty_caches(spark, warehouse)
    return out


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    names = list(TINY) if ctx.size == "tiny" else SHARED + PLAIN
    # the shared-relation queries first, then the TPC-H ones, each set in
    # a seeded order: JIT warm-up lands in the shared sum whatever the
    # order, and the TPC-H queries run with every shared relation resident
    rng = random.Random(ctx.args.seed)
    order = []
    for group in (SHARED, PLAIN):
        part = [n for n in group if n in names]
        rng.shuffle(part)
        order += part
    sf = os.path.join(ctx.work, "sf")
    shutil.copytree(FIXTURE, sf)
    warehouse = os.environ["SPARK_GRAFT_WAREHOUSE"]
    queries = registry.get_queries()

    # warm-up: parquet scan and write path, no query plan of the mix
    spark.read.parquet(os.path.join(sf, "lineitem.parquet")).write.format(
        "noop").mode("overwrite").save()
    ctx.setup_done()
    passes = []
    while True:
        passes.append(one_pass(ctx, queries, order, sf, warehouse))
        if not ctx.time_left():
            break
    empty_caches(spark, warehouse)

    check_oracles(ctx, passes, sf, names)

    def sums(key: str, group) -> list[float]:
        return [round(sum(p[key][n] for n in group if n in p[key]), 6)
                for p in passes]

    shared, plain = sums("secs", SHARED), sums("secs", PLAIN)
    shared_cpu, plain_cpu = sums("cpus", SHARED), sums("cpus", PLAIN)
    plain_lat = [p["secs"][n] * 1e3 for p in passes for n in PLAIN
                 if n in p["secs"]]
    peak = max(p["peak_cached_mb"] for p in passes)
    report = {
        "passes": len(passes),
        "shared_pass_s": summary(shared, "s"),
        "plain_pass_s": summary(plain, "s"),
        "shared_pass_cpu_s": summary(shared_cpu, "s"),
        "plain_pass_cpu_s": summary(plain_cpu, "s"),
        "plain_query_ms": summary(plain_lat, "ms"),
        "peak_cached_mb": {"value": peak, "unit": "MB", "n": len(passes)},
        "query_s": {n: median([p["secs"][n] for p in passes
                               if n in p["secs"]]) for n in order},
        "rows": {n: len(passes[0]["results"][n]) for n in order
                 if n in passes[0]["results"]},
        "order": order,
    }
    out = {
        "report": report,
        "end_to_end": {
            "batch_cpu_s": (median(shared_cpu), "s"),
            "requests_cpu_s": (median(plain_cpu), "s"),
        },
        "per_layer": {},
    }
    if not ctx.args.trace:
        return out

    layer = {
        "plans.shared_pass_s": (median(shared), "s"),
        "plans.plain_pass_s": (median(plain), "s"),
        "sharedrel.peak_cached_mb": (peak, "MB"),
        # the pass runs the same calls traced or not, so its tracing
        # overhead is the tracer's own time inside the query spans
        "trace.batch_overhead_s": (sum(
            s["book_s"] for n in SHARED for s in tr.named(f"plans.{n}")), "s"),
        "trace.requests_overhead_s": (sum(
            s["book_s"] for n in PLAIN for s in tr.named(f"plans.{n}")), "s"),
    }
    for name in names:
        recs = tr.named(f"plans.{name}")
        layer[f"plans.{name}.s"] = (median(tr.durations(f"plans.{name}")), "s")
        if name in SHARED:
            layer[f"plans.{name}.jobs"] = (
                median([s["jobs"] for s in recs]), "count")
    layer.update(force_relations(ctx, sf, warehouse))
    # the corpus DAG's layers (textanalysis, dedup inline, components,
    # chunking, block packing) over the fixture's documents table
    layer.update(corpus.traced_layers(
        ctx, os.path.join(sf, "documents.parquet")))
    layer["trace.bookkeeping_s"] = (tr.bookkeeping_s, "s")
    out["per_layer"] = layer
    return out
