"""Session-scoped persisted co-purchase edge relations.

The X37 stored-index discipline applied to the graph family (VERDICT
r7 #4): eleven declared queries (pagerank, personalized pagerank, k-hop
BFS, k-core, cheapest-path, clustering coefficient, triangle count,
modularity, label propagation, 2-hop reach, assortativity) all start
from the SAME base relation — the distinct (l_orderkey, l_partkey)
items self-join — and each used to rebuild it from the lineitem
parquet scan up (~2 s of the 2.3-6.7 s per graph query at sf0.1).
This module builds it ONCE per (application, sf_dir) and persists it
(MEMORY_AND_DISK), so every graph query after the first reads the
in-memory edge relation instead of re-running the scan + self-join.

At 100 TB the same discipline holds with a durable artifact instead of
a cache: the edge list is the persisted table (bucketed by src) and
every graph algorithm reads it — never re-deriving edges from the
fact table per query. The in-session persist is the local-mode
equivalent; `operators/graph.py` additionally repartitions its own
copy on src per algorithm call (iteration-internal reuse), which this
cache feeds.

Two base relations are cached, everything else is a projection:

- ``copurchase_pairs``  — (u, v) with u < v, one row per co-purchasing
  ORDER (multiplicity preserved; parallel pairs act as weights).
- ``copurchase_und``    — DISTINCT (u, v), u < v (the simple
  undirected graph).

The symmetrized multigraph view (``copurchase_edges``) explodes each
cached row into both directions — a narrow map over the cache, NOT
persisted twice. The symmetrized SIMPLE relation
(``copurchase_edges_distinct``) IS persisted (r9): it is the working
relation of the iterative graph family (k-core, clustering
coefficient, triangle count, 2-hop reach, ...), several of which scan
it once per round — ~2|E| rows of two BIGINTs is far cheaper to hold
than to re-explode inside every loop, and it lets kcore_peel run
directly on the cached relation instead of persisting a private copy.

Cache safety: entries are keyed by (applicationId, realpath(sf_dir))
and additionally pin the owning SparkSession by identity — a new
session (fresh driver run, test isolation) rebuilds rather than
reusing DataFrames whose analyzer state belongs to a dead session.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# key -> (owning session, value); every value has ``unpersist()``.
_CACHE: dict[tuple, tuple[SparkSession, object]] = {}
# _LOCK guards only the two dicts, never a build: a build
# runs under its own key's in-flight lock, so a first build blocks
# callers of the SAME key (one build, one persisted copy — a second
# would leak, unreferenced but persisted) while other keys build
# concurrently. Builds may recurse into other keys (pairs -> items);
# the registered relations form a DAG, so per-key locks cannot cycle.
_LOCK = threading.Lock()
_INFLIGHT: dict[tuple, threading.Lock] = {}


def _release(value) -> None:
    try:
        value.unpersist()
    except Exception:
        pass


def _lookup(spark: SparkSession, key: tuple, fresh):
    """The live value under ``key``, else None; drops a stale entry
    (other session, or ``fresh(value)`` false). Caller holds _LOCK."""
    hit = _CACHE.get(key)
    if hit is None:
        return None
    owner, value = hit
    if owner is spark and fresh(value):
        return value
    del _CACHE[key]
    _release(value)
    return None


def session_entry(spark: SparkSession, key: tuple, build, fresh=None):
    """Register/read one session-scoped value under ``key``.

    ``build()`` runs at most once per live entry and returns a value
    with ``unpersist()`` (a persisted DataFrame, an index holding one).
    The entry is pinned to the owning SparkSession by identity and to
    the application id (a new session or app rebuilds rather than
    reusing DataFrames whose analyzer state belongs to a dead one);
    ``fresh(value)``, when given, must hold for a hit — a false result
    unpersists the old value and rebuilds. Dropped by
    :func:`clear_cache` or app exit."""
    app = spark.sparkContext.applicationId
    key = (app, *key)
    fresh = fresh or (lambda _value: True)
    with _LOCK:
        # evict entries owned by dead applications (ADVICE r8): their
        # values can never be returned again and would otherwise linger
        # in the module dict for the process lifetime.
        for stale in [k for k in _CACHE if k[0] != app]:
            _release(_CACHE.pop(stale)[1])
        for stale in [k for k in _INFLIGHT if k[0] != app]:
            del _INFLIGHT[stale]
        value = _lookup(spark, key, fresh)
        if value is not None:
            return value
        inflight = _INFLIGHT.setdefault(key, threading.Lock())
    with inflight:
        with _LOCK:  # a concurrent caller may have built it meanwhile
            value = _lookup(spark, key, fresh)
        if value is None:
            value = build()
            with _LOCK:
                _CACHE[key] = (spark, value)
        return value


def _cached(
    spark: SparkSession, sf_dir: str, kind: str, build
) -> DataFrame:
    return session_entry(
        spark,
        (os.path.realpath(sf_dir), kind),
        lambda: build().persist(StorageLevel.MEMORY_AND_DISK),
    )


def session_cached(
    spark: SparkSession, sf_dir: str, kind: str, build
) -> DataFrame:
    """Public register/read entry point for session-scoped persisted
    relations (ADVICE r13): other modules (plans, sigcache) register
    their own shared relations under a unique ``kind`` without coupling
    to this module's private registry internals (lock, eviction,
    session-identity pinning). The relation is built lazily ONCE per
    (applicationId, realpath(sf_dir), kind), persisted MEMORY_AND_DISK,
    and dropped by :func:`clear_cache` or app exit.

    Footprint note (ADVICE r13): every registered relation stays
    persisted until app exit / clear_cache(); multi-sf_dir sessions
    hold one copy per sf_dir. All current entries spill to disk under
    memory pressure (MEMORY_AND_DISK), and the largest are fact-grain
    incidences (user_items) or |E|-grain edge lists — bounded well
    below the fact table they are derived from."""
    return _cached(spark, sf_dir, kind, build)


def clear_cache() -> None:
    """Unpersist and forget every registered value — cached edge
    relations, other modules' ``session_cached`` relations and the RAG
    IVF indexes (test hygiene, and the cold bench arm's per-query
    reset)."""
    with _LOCK:
        for _, value in _CACHE.values():
            _release(value)
        _CACHE.clear()


def copurchase_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (l_orderkey, l_partkey) incidence — the base relation
    of the whole co-purchase family (pair build, per-part support,
    3-itemsets, HITS hubs) — persisted once per (app, sf_dir)."""

    def build() -> DataFrame:
        from ..io import load_table

        li = load_table(spark, sf_dir, "lineitem")
        return li.select("l_orderkey", "l_partkey").distinct()

    return _cached(spark, sf_dir, "items", build)


def _pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw (u, v) pair self-join plan — the expensive relation the
    session cache and the durable warehouse both memoize."""
    items = copurchase_items(spark, sf_dir)
    a, b = items.alias("a"), items.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("u"),
        F.col("b.l_partkey").alias("v"),
    )


def _warehouse_root() -> str | None:
    """Durable-cache root (VERDICT r8 #4), or None when disabled.

    ``SPARK_GRAFT_EDGE_WAREHOUSE=0`` opts out entirely;
    ``SPARK_GRAFT_WAREHOUSE`` overrides the location (default:
    ``<repo>/warehouse`` — gitignored)."""
    flag = os.environ.get("SPARK_GRAFT_EDGE_WAREHOUSE", "1").strip().lower()
    if flag in {"0", "false", "no", "off"}:
        return None
    root = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if not root:
        root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__)))),
            "warehouse",
        )
    return root


def _durable_keys(
    sf_dir: str, source: str = "lineitem.parquet", version: str = ""
) -> tuple[str, str]:
    """(sf_key, fingerprint): sf_key names the SOURCE DIRECTORY (one
    subtree per sf_dir — sf0.001/0.01/0.1 coexist), fingerprint names
    the CONTENT of ``source`` (total bytes + max mtime_ns of its
    parquet files) SALTED with the artifact's ``version`` string
    (ADVICE r10: the stored relation bakes in operator parameters —
    n_bands/shingle_k/FP_TOKENS/... — so a parameter change must read
    as a new fingerprint, not silently serve the old layout). A
    regenerated fixture OR a bumped version gets a new fingerprint;
    stale fingerprints are cleaned only inside their own sf_key
    subtree."""
    import hashlib

    real = os.path.realpath(sf_dir)
    path = os.path.join(real, source)
    total, mtime = 0, 0
    if os.path.isfile(path):  # single-file parquet (the fixtures)
        st = os.stat(path)
        total, mtime = st.st_size, st.st_mtime_ns
    else:  # parquet directory
        for droot, _, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(droot, f))
                total += st.st_size
                mtime = max(mtime, st.st_mtime_ns)
    sf_key = hashlib.sha256(real.encode()).hexdigest()[:12]
    fp = hashlib.sha256(f"{total}|{mtime}|{version}".encode()).hexdigest()[:16]
    return sf_key, fp


def durable_read_or_build(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    build_plan,
    source: str = "lineitem.parquet",
    version: str = "",
) -> DataFrame | None:
    """Read-or-build a WAREHOUSE parquet copy of an expensive relation.

    The X37 stored-index discipline made durable (VERDICT r8 #4, made
    generic for r9 #4's signature index): the relation is written ONCE
    per (sf_dir, source-fingerprint) as parquet under
    ``warehouse/<family>/<sf_key>/<fp>`` (crash-safe temp-dir + atomic
    rename, like ``operators/maintenance.py``), and every later
    session just scans it instead of re-deriving it from the fixture.
    ``source`` names the fixture table whose bytes+mtime fingerprint
    the artifact, and ``version`` salts that fingerprint with the
    operator parameters the artifact bakes in (ADVICE r10) — a
    regenerated fixture or a parameter change self-invalidates, and
    stale fingerprints are cleaned only inside their own sf_key
    subtree. At 100 TB this is exactly the durable index-table
    artifact — bucketed on its join key on a real cluster; locally a
    plain parquet directory. Returns None (caller falls back to the
    in-memory plan) when the warehouse is disabled
    (``SPARK_GRAFT_EDGE_WAREHOUSE=0``) or unwritable."""
    root = _warehouse_root()
    if root is None:
        return None
    try:
        sf_key, fp = _durable_keys(sf_dir, source=source, version=version)
        base = os.path.join(root, family, sf_key)
        dst = os.path.join(base, fp)
        if not os.path.isdir(dst):
            import shutil

            os.makedirs(base, exist_ok=True)
            # GC breadcrumb (tools/warehouse_gc.py): record which source
            # directory this sf_key hashes so orphaned subtrees (deleted
            # test fixtures) are mechanically identifiable later.
            try:
                with open(os.path.join(base, "_SOURCE"), "w") as fh:
                    fh.write(os.path.realpath(sf_dir))
            except OSError:
                pass
            tmp = os.path.join(base, f".tmp-{fp}-{os.getpid()}")
            build_plan().write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, dst)  # atomic publish
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # lost the race
            # best-effort: drop stale fingerprints of THIS source dir
            for old in os.listdir(base):
                if old != fp and old != "_SOURCE" and not old.startswith(".tmp-"):
                    shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        return spark.read.parquet(dst)
    except Exception:
        return None


def _durable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The warehouse copy of the co-purchase pair relation: a FRESH
    session used to pay the full lineitem scan + self-join (~2 s at
    sf0.1) before the first of the ~15 graph queries; now it scans the
    stored pair table."""
    return durable_read_or_build(
        spark,
        sf_dir,
        "copurchase_pairs",
        lambda: _pairs_plan(spark, sf_dir),
        version="pairs-v1",  # schema (u,v), u<v, order-multiplicity rows
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) part pairs with u < v, one row per co-purchasing order
    (multiplicity preserved) — persisted once per (app, sf_dir), and
    (r9) backed by a durable warehouse parquet copy so a FRESH session
    scans the stored pair table instead of re-running the lineitem
    self-join (VERDICT r8 #4)."""

    def build() -> DataFrame:
        durable = _durable_pairs(spark, sf_dir)
        return durable if durable is not None else _pairs_plan(spark, sf_dir)

    return _cached(spark, sf_dir, "pairs", build)


def copurchase_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (u, v) with u < v — the simple undirected co-purchase
    graph, persisted once per (app, sf_dir); derived from the cached
    pairs so the lineitem scan + self-join never reruns."""
    return _cached(
        spark,
        sf_dir,
        "und",
        lambda: copurchase_pairs(spark, sf_dir).distinct(),
    )


def _symmetrize(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized multigraph edge list (parallel edges = weights) — a
    narrow explode over the cached pairs."""
    return _symmetrize(copurchase_pairs(spark, sf_dir))


def copurchase_edges_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized simple-graph edge list (both directions, no parallel
    edges) — persisted once per (app, sf_dir): the iterative graph
    family scans it once per ROUND, so caching the exploded form (two
    BIGINT columns) beats re-exploding the pair cache inside every
    loop, and lets kcore_peel skip its private persisted copy."""
    return _cached(
        spark,
        sf_dir,
        "edges_distinct",
        lambda: _symmetrize(copurchase_und(spark, sf_dir)),
    )


def copurchase_user_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (o_custkey, l_partkey) customer-part incidence —
    persisted once per (app, sf_dir). Consumed by the bipartite HITS
    query (three passes per run) and the user-recommendation serving
    query (candidate join + anti-join), each of which re-ran the
    orders x lineitem join + distinct per consumer."""

    def build() -> DataFrame:
        from ..io import load_table

        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        return (
            o.select("o_custkey", "o_orderkey")
            .join(
                li.select("l_orderkey", "l_partkey"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .select("o_custkey", "l_partkey")
            .distinct()
        )

    return _cached(spark, sf_dir, "user_items", build)


def copurchase_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, n_ord) per-part order support — part-catalog grain,
    persisted once per (app, sf_dir); the recommender family
    (item-item cosine, user recs, association rules, exposure audit)
    each re-derived it from the incidence cache per query."""
    return _cached(
        spark,
        sf_dir,
        "supp",
        lambda: (
            copurchase_items(spark, sf_dir)
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ord"))
        ),
    )


def copurchase_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, co) undirected co-occurrence counts (u < v) — the
    aggregated form of the pair multiset, persisted once per
    (app, sf_dir) for the same four recommender consumers."""
    return _cached(
        spark,
        sf_dir,
        "pair_counts",
        lambda: (
            copurchase_pairs(spark, sf_dir)
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        ),
    )


def copurchase_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, d) exact degree table of the simple undirected graph —
    persisted once per (app, sf_dir). Consumed by the degree-oriented
    wedge family (triangle count, clustering coefficient) which
    previously each re-derived it from the pair cache."""
    return _cached(
        spark,
        sf_dir,
        "deg",
        lambda: (
            copurchase_und(spark, sf_dir)
            .select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        ),
    )


def copurchase_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented simple edges (src, dst): every undirected edge
    points from its (degree, id)-smaller endpoint to the larger — the
    Schank-Wagner orientation whose out-degree is O(sqrt(m)). This IS
    the "persisted oriented adjacency" of the triangle/wedge scale
    story (SURVEY X130): built once per (app, sf_dir) instead of once
    per query, replacing the per-query localCheckpoint in both
    triangle_count_copurchase and clustering_coefficient_copurchase."""

    def build() -> DataFrame:
        und = copurchase_und(spark, sf_dir)
        deg = copurchase_deg(spark, sf_dir)
        e = und.join(
            deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"),
            "u",
        ).join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"),
            "v",
        )
        u_first = F.struct("du", "u") < F.struct("dv", "v")
        return e.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )

    return _cached(spark, sf_dir, "oriented", build)


def copurchase_oriented_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, nbrs) sorted out-neighborhood arrays over the oriented
    edges (max O(sqrt(m)) elements per row) — persisted once per
    (app, sf_dir); the wedge queries each join it TWICE per run, and
    previously each rebuilt it from their private oriented copy."""
    return _cached(
        spark,
        sf_dir,
        "oriented_adj",
        lambda: (
            copurchase_oriented(spark, sf_dir)
            .groupBy("src")
            .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        ),
    )
