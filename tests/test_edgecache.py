"""Session-scoped co-purchase edge cache (operators/edgecache.py).

VERDICT r7 #4: the graph family shares ONE persisted pair relation per
(application, sf_dir) instead of re-running the lineitem scan +
items self-join per query. These tests pin (1) the cache actually
reuses the same persisted DataFrame, (2) consumers read it through
InMemoryTableScan, (3) the cache keys on sf_dir, and (4) clear_cache
returns consumers to the parquet scan.
"""

from __future__ import annotations

import pytest

from data_engineering_1_spark.operators import edgecache


@pytest.fixture(autouse=True)
def _clean_cache():
    edgecache.clear_cache()
    yield
    edgecache.clear_cache()


def test_pairs_cached_and_reused(spark, sf_dir):
    p1 = edgecache.copurchase_pairs(spark, sf_dir)
    p2 = edgecache.copurchase_pairs(spark, sf_dir)
    assert p1 is p2
    # und derives from the SAME cached pairs and is itself cached
    u1 = edgecache.copurchase_und(spark, sf_dir)
    u2 = edgecache.copurchase_und(spark, sf_dir)
    assert u1 is u2
    assert u1 is not p1


def test_consumers_read_inmemory_scan(spark, sf_dir):
    pairs = edgecache.copurchase_pairs(spark, sf_dir)
    pairs.count()  # materialize the persist
    edges = edgecache.copurchase_edges(spark, sf_dir)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # the symmetrized view is a narrow explode: no shuffle ON TOP of
    # the cache (the InMemoryRelation's description still prints its
    # original build plan, exchanges included, so only the section
    # above the cache boundary must be exchange-free)
    above_cache = plan.split("InMemoryTableScan", 1)[0]
    assert "Exchange" not in above_cache


def test_edges_match_uncached_build(spark, sf_dir):
    from data_engineering_1_spark.io import load_table
    from pyspark.sql import functions as F

    got = sorted(
        (r.src, r.dst)
        for r in edgecache.copurchase_edges_distinct(spark, sf_dir).collect()
    )
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .collect()
    )
    want = sorted(
        pair for r in und for pair in ((r.u, r.v), (r.v, r.u))
    )
    assert got == want


def test_cache_keys_on_sf_dir(spark, sf_dir, tmp_path):
    import shutil
    import os

    alt = tmp_path / "sfalt"
    alt.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"),
        alt / "lineitem.parquet",
    )
    p1 = edgecache.copurchase_pairs(spark, sf_dir)
    p2 = edgecache.copurchase_pairs(spark, str(alt))
    assert p1 is not p2


def test_clear_cache_rebuilds(spark, sf_dir):
    p1 = edgecache.copurchase_pairs(spark, sf_dir)
    p1.count()
    edgecache.clear_cache()
    p2 = edgecache.copurchase_pairs(spark, sf_dir)
    assert p1 is not p2
    plan = p2._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan


class _Held:
    """A registry value: anything with ``unpersist()``."""

    def __init__(self, tag):
        self.tag, self.released = tag, False

    def unpersist(self):
        self.released = True


def _run_threads(threads) -> None:
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not any(t.is_alive() for t in threads)


def test_builds_of_different_keys_run_concurrently(spark):
    """A build holds only its own key's in-flight lock: two first builds
    of different keys overlap (each waits for the other inside build)."""
    import threading

    both_building = threading.Barrier(2, timeout=30)
    got = {}

    def build(tag):
        both_building.wait()  # BrokenBarrierError if builds serialize
        return _Held(tag)

    def call(tag):
        got[tag] = edgecache.session_entry(
            spark, ("concurrency-test", tag), lambda: build(tag))

    _run_threads([threading.Thread(target=call, args=(t,)) for t in "ab"])
    assert {k: v.tag for k, v in got.items()} == {"a": "a", "b": "b"}


def test_same_key_builds_once_under_contention(spark):
    """More callers than cores race over a few keys with a short switch
    interval: every key is built exactly once and every caller of a key
    gets the same value."""
    import os
    import random
    import sys
    import threading
    import time

    keys = ("k0", "k1", "k2")
    builds = {k: 0 for k in keys}
    count_lock = threading.Lock()
    got = {k: [] for k in keys}
    start = threading.Barrier(2 * (os.cpu_count() or 4), timeout=30)

    def build(key):
        with count_lock:
            builds[key] += 1
        time.sleep(0.05)  # other callers arrive mid-build
        return _Held(key)

    def call(seed):
        order = random.Random(seed).sample(keys, len(keys))
        start.wait()
        for key in order:
            got[key].append(edgecache.session_entry(
                spark, ("contention-test", key), lambda key=key: build(key)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_threads([threading.Thread(target=call, args=(i,))
                      for i in range(start.parties)])
    finally:
        sys.setswitchinterval(interval)
    assert builds == {k: 1 for k in keys}
    for key in keys:
        assert len(got[key]) == start.parties
        assert all(v is got[key][0] for v in got[key])


def test_stale_entry_is_released_and_rebuilt(spark):
    first = edgecache.session_entry(spark, ("fresh-test",), lambda: _Held(1))
    assert edgecache.session_entry(
        spark, ("fresh-test",), lambda: _Held(2)) is first
    second = edgecache.session_entry(
        spark, ("fresh-test",), lambda: _Held(2), fresh=lambda v: v.tag == 2)
    assert second.tag == 2 and first.released
    edgecache.clear_cache()
    assert second.released


# ---- durable warehouse layer (VERDICT r8 #4) ---------------------------


@pytest.fixture()
def wh(tmp_path, monkeypatch):
    """Point the durable edge warehouse at a hermetic tmp root."""
    root = tmp_path / "wh"
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(root))
    monkeypatch.delenv("SPARK_GRAFT_EDGE_WAREHOUSE", raising=False)
    return root


def _fps(path):
    """Fingerprint subtrees only (skip the _SOURCE GC breadcrumb)."""
    import os

    return [
        x for x in os.listdir(path)
        if x != "_SOURCE" and not x.startswith(".tmp-")
    ]


def test_durable_pairs_value_equal_and_read_from_warehouse(
    spark, sf_dir, wh
):
    import os

    direct = sorted(
        (r.u, r.v)
        for r in edgecache._pairs_plan(spark, sf_dir).collect()
    )
    p1 = edgecache.copurchase_pairs(spark, sf_dir)
    got = sorted((r.u, r.v) for r in p1.collect())
    assert got == direct
    # the artifact was published (no temp dirs left behind)
    base = wh / "copurchase_pairs"
    sf_keys = os.listdir(base)
    assert len(sf_keys) == 1
    fps = _fps(base / sf_keys[0])
    assert len(fps) == 1 and not fps[0].startswith(".tmp-")
    # a FRESH session-cache entry reads the warehouse parquet, not the
    # lineitem self-join: the plan's file scan points at the warehouse
    edgecache.clear_cache()
    p2 = edgecache.copurchase_pairs(spark, sf_dir)
    plan = p2._jdf.queryExecution().executedPlan().toString()
    # scans the stored pair table (a bare parquet read of the warehouse
    # artifact), NOT the lineitem self-join (paths are elided in the
    # printed plan, so pin the absence of the source table + join)
    assert "lineitem" not in plan
    assert "FileScan parquet" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert sorted((r.u, r.v) for r in p2.collect()) == direct


def test_durable_pairs_rebuild_on_source_change(spark, sf_dir, wh, tmp_path):
    import os
    import shutil

    alt = tmp_path / "sfalt"
    alt.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"), alt / "lineitem.parquet"
    )
    edgecache.copurchase_pairs(spark, str(alt)).count()
    base = wh / "copurchase_pairs"
    (sf_key,) = [
        k
        for k in os.listdir(base)
        if _fps(base / k)  # the alt dir's subtree
    ]
    (fp1,) = _fps(base / sf_key)
    # "regenerate" the source: same bytes, new mtime -> new fingerprint
    edgecache.clear_cache()
    os.utime(alt / "lineitem.parquet")
    edgecache.copurchase_pairs(spark, str(alt)).count()
    (fp2,) = _fps(base / sf_key)  # stale fingerprint evicted
    assert fp2 != fp1


def test_warehouse_opt_out_keeps_selfjoin_build(
    spark, sf_dir, tmp_path, monkeypatch
):
    import os

    root = tmp_path / "wh-off"
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(root))
    monkeypatch.setenv("SPARK_GRAFT_EDGE_WAREHOUSE", "0")
    p = edgecache.copurchase_pairs(spark, sf_dir)
    p.count()
    assert not root.exists()  # nothing written
    # and the build is the in-memory self-join over the lineitem scan
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" in plan


def test_fingerprint_salted_by_version(sf_dir):
    """ADVICE r10: stored artifacts bake in operator parameters, so the
    fingerprint must change when the declared artifact version does —
    same source, different version string, different fp."""
    k1, f1 = edgecache._durable_keys(sf_dir, version="v1")
    k2, f2 = edgecache._durable_keys(sf_dir, version="v2")
    assert k1 == k2
    assert f1 != f2
    # and the unsalted legacy key differs from any salted one
    _, f0 = edgecache._durable_keys(sf_dir)
    assert f0 not in {f1, f2}
