"""Embedding UDF (E1) + QA composition (Q1-Q6) + full pipeline golden test.

The LLM client is always injected (a recording stub) — the network call is
never exercised, matching SURVEY.md §2.11's exclusion of Q3 from the
correctness surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_engineering_1_spark.functions.embedding import (
    hash_embed_texts,
    hash_embedder,
)
from data_engineering_1_spark.operators import qa
from data_engineering_1_spark.sources import pdf as P


class TestHashEmbedder:
    def test_deterministic_and_normalized(self):
        a = hash_embed_texts(pd.Series(["hello world", "hello world", ""]))
        assert a[0] == a[1]
        assert abs(np.linalg.norm(a[0]) - 1.0) < 1e-9
        assert np.linalg.norm(a[2]) == 0.0  # empty text -> zero vector
        assert len(a[0]) == 64

    def test_case_insensitive_tokens(self):
        a = hash_embed_texts(pd.Series(["Hello World", "hello world"]))
        assert a[0] == a[1]

    def test_distinct_texts_differ(self):
        a = hash_embed_texts(pd.Series(["alpha beta gamma", "delta epsilon zeta"]))
        assert a[0] != a[1]

    def test_udf_matches_local(self, spark):
        df = spark.createDataFrame(
            [("spark engine",), ("vector search",)], "text string"
        )
        got = [r.e for r in df.select(hash_embedder()("text").alias("e")).collect()]
        exp = hash_embed_texts(pd.Series(["spark engine", "vector search"]))
        for g, e in zip(got, exp):
            assert np.allclose(g, e, atol=1e-6)


class TestContextFormatting:
    DOCS = [
        {"text": "第一段内容", "source": "课件一.pdf", "page_number": 3,
         "paragraph_number": 2},
        {"text": "second passage", "source": "notes.pdf", "page_number": 1,
         "paragraph_number": 7},
    ]

    def test_golden_citation_string(self):
        ctx = qa.format_context_rows(self.DOCS)
        assert ctx == (
            "[来源1: 文档《课件一.pdf》第3页第2段]\n第一段内容\n"
            "\n"
            "[来源2: 文档《notes.pdf》第1页第7段]\nsecond passage\n"
        )

    def test_spark_twin_matches_driver_side(self, spark):
        rows = [
            (i + 1, d["source"], d["page_number"], d["paragraph_number"], d["text"])
            for i, d in enumerate(self.DOCS)
        ]
        df = spark.createDataFrame(
            rows,
            "rank int, source string, page_number int, paragraph_number int, text string",
        )
        got = qa.format_context_df(df).collect()[0]["context"]
        assert got == qa.format_context_rows(self.DOCS)

    def test_prompt_assembly(self):
        p = qa.build_user_prompt("CTX", "什么是数据工程?")
        assert p.startswith("参考文档：\n        CTX\n")
        assert "用户问题：什么是数据工程?" in p
        assert p.endswith("注明信息来源：")


class TestAnswerFlow:
    def test_no_client_returns_no_key_answer(self):
        assert qa.generate_answer("q", [], None) == qa.NO_KEY_ANSWER

    def test_exception_captured_as_value(self):
        def boom(sys_p, user_p):
            raise RuntimeError("connection refused")

        out = qa.generate_answer("q", [], boom)
        assert out == "生成答案时出错: connection refused"

    def test_client_receives_templates(self):
        seen = {}

        def record(sys_p, user_p):
            seen["sys"], seen["user"] = sys_p, user_p
            return "ANSWER"

        docs = TestContextFormatting.DOCS
        assert qa.generate_answer("my question", docs, record) == "ANSWER"
        assert seen["sys"] == qa.SYSTEM_PROMPT
        assert qa.format_context_rows(docs).splitlines()[0] in seen["user"]
        assert "用户问题：my question" in seen["user"]


class TestFullPipeline:
    @pytest.fixture(scope="class")
    def chunk_table(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("qa_pdfs")
        (d / "spark.pdf").write_text(
            "Apache Spark is a distributed engine for large scale data.\n\n"
            "Cats purr when they are content and relaxed at home daily.",
            encoding="utf-8",
        )
        chunks = P.extract_chunks(spark, str(d)).withColumn(
            "doc_id", F.monotonically_increasing_id()
        )
        return chunks.withColumn("embedding", hash_embedder()("text")).cache()

    def test_ivf_method_with_full_probe_equals_exact(self, spark, sf_dir):
        """VERDICT r8 #8: the flag-gated IVF scale path, pinned equal to
        exact top-k on the fixture when every cluster is probed
        (nprobe >= n_clusters degenerates to exact search)."""
        from data_engineering_1_spark.io import load_table

        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("vec_id")).alias("text"),
            "embedding",
        )
        q = "distributed query engine"
        kw = dict(client=lambda s, u: "a", top_k=5)
        exact = qa.answer_with_sources(spark, q, emb, **kw)
        full_probe = qa.answer_with_sources(
            spark, q, emb, method="ivf", n_clusters=4, nprobe=4, **kw
        )
        want = [(s["text"], s["similarity"]) for s in exact["sources"]]
        got = [(s["text"], s["similarity"]) for s in full_probe["sources"]]
        assert got == want
        # no synthesized bucket label leaks into the source metadata
        assert all("label" not in s["metadata"] for s in full_probe["sources"])
        # probed (partial) search returns top_k rows whose similarities
        # never exceed the exact optimum, in descending order
        probed = qa.answer_with_sources(
            spark, q, emb, method="ivf", n_clusters=8, nprobe=2, **kw
        )
        sims = [s["similarity"] for s in probed["sources"]]
        assert len(sims) == 5 and sims == sorted(sims, reverse=True)
        assert sims[0] <= want[0][1]
        with pytest.raises(ValueError):
            qa.answer_with_sources(spark, q, emb, method="annoy", **kw)

    def test_answer_with_sources(self, spark, chunk_table):
        resp = qa.answer_with_sources(
            spark,
            "distributed engine for data",
            chunk_table,
            client=lambda s, u: "the answer",
            top_k=1,
        )
        assert resp["answer"] == "the answer"
        assert len(resp["sources"]) == 1
        top = resp["sources"][0]
        assert "Spark" in top["text"]  # retrieval found the on-topic chunk
        assert 0.0 < top["similarity"] <= 1.0
        assert top["metadata"]["source"] == "spark.pdf"
        assert top["metadata"]["page_number"] == 1


def test_demo_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The composed training-data pipeline demo must run end-to-end on
    the fixture and its stage counts must be internally consistent
    (monotone filters, non-empty output, clustered files on disk)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.demo_pipeline import run

    report = run(spark, sf_dir, str(tmp_path / "demo_out"))
    assert (
        report["ingested"]
        >= report["after_quality_floor"]
        >= report["after_exact_dedup"]
        >= report["after_contamination_screen"]
        > 0
    )
    assert report["neardup_candidate_pairs"] >= 0
    assert sum(v["n_docs"] for v in report["per_lang"].values()) == (
        report["after_contamination_screen"]
    )
    out = report["output"]
    assert os.path.isdir(out["path"]) and out["files"] >= 1
    back = spark.read.parquet(out["path"])
    assert back.count() == report["after_contamination_screen"]
    assert "text" not in back.columns  # raw text dropped before landing


# ---- IVF index lifetime: built once per knowledge base -----------------

IVF_KW = dict(client=lambda s, u: "a", top_k=3, id_col="chunk_id",
              method="ivf", n_clusters=4, nprobe=2)


def _write_pdfs(d, tag: str, n_files: int = 5) -> str:
    """Stub PDFs (UTF-8 text, blank line between paragraphs) whose
    names and words depend on ``tag``, so two tags give two corpora
    with disjoint chunk ids."""
    d.mkdir()
    words = ("spark", "vector", "index", "query", "cluster", "answer",
             "chunk", "embed", "probe", "corpus", "engine", "table")
    for i in range(n_files):
        paras = [
            " ".join(f"{tag}{words[(i * 5 + j * 3 + w) % len(words)]}"
                     for w in range(9))
            for j in range(4)
        ]
        (d / f"{tag}{i}.pdf").write_text("\n\n".join(paras), encoding="utf-8")
    return str(d)


def _row_list_query(spark, q: str):
    """The query frame as a Python row list: the reference for the
    float32 cast of :func:`qa.query_frame`."""
    return spark.createDataFrame(
        [(hash_embed_texts(pd.Series([q]), dim=64)[0],)],
        "query_vec array<float>",
    )


def _scratch_ivf(spark, chunks, q: str, n_clusters: int, nprobe: int):
    """The from-scratch IVF answer: label_centroids + ivf_assign rebuilt
    for this one question, as ``ivf_topk_search`` does by default."""
    from data_engineering_1_spark.operators.similarity import ivf_topk_search

    qdf = _row_list_query(spark, q)
    labeled = chunks.withColumn(
        "label",
        F.pmod(F.xxhash64("chunk_id"), F.lit(n_clusters)).cast("int"),
    )
    return [
        (r["chunk_id"], r["cosine_sim"])
        for r in ivf_topk_search(labeled, qdf, k=3, nprobe=nprobe,
                                 id_col="chunk_id").collect()
    ]


def _hits(resp):
    return [(s["metadata"]["chunk_id"], s["similarity"])
            for s in resp["sources"]]


def _ivf_entries():
    from data_engineering_1_spark.operators import edgecache

    return [v for k, (_, v) in edgecache._CACHE.items()
            if "ivf_index" in k]


@pytest.fixture()
def kb(spark, tmp_path):
    from data_engineering_1_spark.warehouse import ChunkWarehouse

    wh = ChunkWarehouse(spark, str(tmp_path / "kb"))
    wh.build(_write_pdfs(tmp_path / "a", "a"), force_rebuild=True)
    return wh


@pytest.fixture()
def _clean_registry():
    from data_engineering_1_spark.operators import edgecache

    edgecache.clear_cache()
    yield
    edgecache.clear_cache()


def _plans_of_jobs(spark, jobs) -> list[str]:
    """Physical plans of the SQL executions that ran any of ``jobs``."""
    executions = spark._jsparkSession.sharedState().statusStore(
    ).executionsList()
    return [
        e.physicalPlanDescription()
        for e in (executions.apply(i) for i in range(executions.size()))
        if any(e.jobs().contains(j) for j in jobs)
    ]


@pytest.mark.usefixtures("_clean_registry")
class TestIvfIndexLifetime:
    def test_two_answers_build_once_and_match_scratch(
        self, spark, kb, monkeypatch
    ):
        from data_engineering_1_spark.operators import similarity

        builds = []

        class Counting(similarity.IvfIndex):
            def __init__(self, *a, **kw):
                builds.append(1)
                super().__init__(*a, **kw)

        monkeypatch.setattr(similarity, "IvfIndex", Counting)
        for q in ("aspark avector aindex", "aprobe acorpus aengine"):
            got = _hits(qa.answer_with_sources(spark, q, kb.load("embeddings"),
                                               **IVF_KW))
            assert len(got) == 3
            assert got == _scratch_ivf(spark, kb.load("embeddings"), q, 4, 2)
        assert len(builds) == 1
        assert len(_ivf_entries()) == 1

    def test_force_rebuild_replaces_index(self, spark, kb, tmp_path):
        from pyspark.storagelevel import StorageLevel

        from data_engineering_1_spark.operators.similarity import ivf_index

        sc = spark.sparkContext
        qa.answer_with_sources(spark, "aspark aquery", kb.load("embeddings"),
                               **IVF_KW)
        old = ivf_index(kb.load("embeddings"), n_clusters=4,
                        id_col="chunk_id")
        resident = len(sc._jsc.sc().getRDDStorageInfo())

        kb.build(_write_pdfs(tmp_path / "b", "b"), force_rebuild=True)
        q = "bspark bvector bquery"
        got = _hits(qa.answer_with_sources(spark, q, kb.load("embeddings"),
                                           **IVF_KW))
        assert got == _scratch_ivf(spark, kb.load("embeddings"), q, 4, 2)
        assert len(got) == 3 and all(cid.startswith("b") for cid, _ in got)
        new = ivf_index(kb.load("embeddings"), n_clusters=4,
                        id_col="chunk_id")
        assert new is not old
        assert _ivf_entries() == [new]
        assert old.assignment.storageLevel == StorageLevel.NONE
        assert old.centroids.storageLevel == StorageLevel.NONE
        assert len(sc._jsc.sc().getRDDStorageInfo()) <= resident

    def test_clear_cache_drops_index(self, spark, kb):
        from pyspark.storagelevel import StorageLevel

        from data_engineering_1_spark.operators import edgecache
        from data_engineering_1_spark.operators.similarity import ivf_index

        ix = ivf_index(kb.load("embeddings"), n_clusters=4, id_col="chunk_id")
        assert ivf_index(kb.load("embeddings"), n_clusters=4,
                         id_col="chunk_id") is ix
        edgecache.clear_cache()
        assert _ivf_entries() == []
        assert ix.assignment.storageLevel == StorageLevel.NONE
        assert ix.centroids.storageLevel == StorageLevel.NONE
        assert ivf_index(kb.load("embeddings"), n_clusters=4,
                         id_col="chunk_id") is not ix

    def test_in_memory_chunk_table_answers_unregistered(self, spark, kb):
        rows = kb.load("embeddings").select(
            "chunk_id", "text", "embedding").collect()
        mem = spark.createDataFrame(
            [tuple(r) for r in rows],
            "chunk_id string, text string, embedding array<float>",
        )
        q = "aanswer achunk aembed"
        for _ in range(2):
            got = _hits(qa.answer_with_sources(spark, q, mem, **IVF_KW))
            assert got == _scratch_ivf(spark, mem, q, 4, 2)
        assert _ivf_entries() == []  # no input files: nothing to key on

    def test_empty_chunk_table_answers_nothing(self, spark, tmp_path):
        path = str(tmp_path / "empty")
        spark.createDataFrame(
            [], "chunk_id string, text string, embedding array<float>"
        ).write.parquet(path)
        resp = qa.answer_with_sources(spark, "q", spark.read.parquet(path),
                                      **IVF_KW)
        assert resp["sources"] == []

    def test_full_probe_equals_exact(self, spark, kb):
        q = "acluster aengine atable"
        kw = dict(IVF_KW, nprobe=4)
        exact = qa.answer_with_sources(
            spark, q, kb.load("embeddings"),
            **dict(kw, method="exact"))
        assert _hits(qa.answer_with_sources(
            spark, q, kb.load("embeddings"), **kw)) == _hits(exact)

    def test_warm_question_plan_and_jobs(self, spark, kb):
        """A warm question starts no Python worker: the plans of a warm
        exact and a warm IVF answer scan no Python RDD (no
        ``ExistingRDD``), the exact one runs at most 2 jobs and the IVF
        one at most 6. The IVF one probes the resident index: no
        posexplode, no Window, no hash shuffle, and the
        TakeOrderedAndProject top-k stays. The first (index-building)
        answer runs at most the 11 jobs of the per-question rebuild it
        replaced."""
        sc = spark.sparkContext
        chunks = kb.load("embeddings")
        asked = (
            ("exact-first-pin", "exact", "aquery atable"),
            ("exact-warm-pin", "exact", "aengine aprobe"),
            ("ivf-first-pin", "ivf", "aspark aindex"),
            ("ivf-warm-pin", "ivf", "avector acorpus"),
        )
        try:
            for group, method, q in asked:
                sc.setJobGroup(group, group)
                qa.answer_with_sources(spark, q, chunks,
                                       **dict(IVF_KW, method=method))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        _, exact_warm, first, warm = (
            set(sc.statusTracker().getJobIdsForGroup(g)) for g, _, _ in asked
        )
        assert len(exact_warm) <= 2
        assert len(first) <= 11
        assert len(warm) <= 6
        for jobs in (exact_warm, warm):
            plans = _plans_of_jobs(spark, jobs)
            assert plans
            assert any("TakeOrderedAndProject" in p for p in plans)
            for banned in ("ExistingRDD", "LogicalRDD"):
                assert not any(banned in p for p in plans), banned
        plans = _plans_of_jobs(spark, warm)
        for banned in ("posexplode", "Window", "hashpartitioning"):
            assert not any(banned in p for p in plans), banned

    def test_query_frame_is_local_relation_matching_row_list(
        self, spark, kb
    ):
        """The query frame plans as a JVM LocalRelation even with Arrow
        conversion off, holds the same float32 values as a row-list
        frame, and every question gets the hits the row-list frame gets
        from ``topk_by_cosine`` and from ``ivf_topk_search`` over the
        same index."""
        from data_engineering_1_spark.operators.similarity import (
            ivf_index,
            ivf_topk_search,
            topk_by_cosine,
        )

        key = "spark.sql.execution.arrow.pyspark.enabled"
        before = spark.conf.get(key)
        try:
            for arrow in ("true", "false"):
                spark.conf.set(key, arrow)
                qdf = qa.query_frame(spark, "aspark aquery", dim=64)
                plan = qdf._jdf.queryExecution().optimizedPlan()
                assert plan.nodeName() == "LocalRelation", arrow
                assert qdf.collect() == _row_list_query(
                    spark, "aspark aquery").collect()
        finally:
            spark.conf.set(key, before)

        chunks = kb.load("embeddings")
        ix = ivf_index(chunks, n_clusters=4, id_col="chunk_id")
        labeled = chunks.withColumn(
            "label", F.pmod(F.xxhash64("chunk_id"), F.lit(4)).cast("int"))
        for q in ("aspark avector", "acluster aembed atable",
                  "aanswer achunk", "aindex aprobe acorpus"):
            rows = _row_list_query(spark, q)
            want_exact = [
                (r["chunk_id"], r["cosine_sim"])
                for r in topk_by_cosine(chunks, rows, k=3,
                                        id_col="chunk_id").collect()
            ]
            want_ivf = [
                (r["chunk_id"], r["cosine_sim"])
                for r in ivf_topk_search(
                    labeled, rows, k=3, nprobe=2, centroids=ix.centroids,
                    assignment=ix.assignment, id_col="chunk_id").collect()
            ]
            assert _hits(qa.answer_with_sources(
                spark, q, chunks, **dict(IVF_KW, method="exact"))) == want_exact
            assert _hits(qa.answer_with_sources(
                spark, q, chunks, **IVF_KW)) == want_ivf


@pytest.mark.usefixtures("_clean_registry")
class TestZeroNormVectors:
    """A zero vector (a question or a chunk with no word tokens) has a
    NULL cosine, never a DIVIDE_BY_ZERO under ANSI mode, and is never
    cited."""

    @pytest.mark.parametrize("method", ["exact", "ivf"])
    def test_question_without_words_cites_nothing(self, spark, kb, method):
        for q in ("", "...", "？！"):
            seen = []
            resp = qa.answer_with_sources(
                spark, q, kb.load("embeddings"),
                **dict(IVF_KW, method=method,
                       client=lambda s, u: seen.append(u) or "no source"))
            assert resp["sources"] == []
            assert resp["answer"] == "no source" and len(seen) == 1

    @pytest.mark.parametrize("method", ["exact", "ivf"])
    def test_punctuation_chunk_never_cited(self, spark, tmp_path, method):
        from data_engineering_1_spark.warehouse import ChunkWarehouse

        pdfs = _write_pdfs(tmp_path / "a", "a")
        rule = "-" * 40
        with open(f"{pdfs}/a0.pdf", "a", encoding="utf-8") as fh:
            fh.write("\n\n" + rule)
        wh = ChunkWarehouse(spark, str(tmp_path / "kb"))
        wh.build(pdfs, force_rebuild=True)
        chunks = wh.load("embeddings")
        texts = [r["text"] for r in chunks.select("text").collect()]
        assert rule in texts
        resp = qa.answer_with_sources(
            spark, "aspark aquery", chunks,
            **dict(IVF_KW, method=method, nprobe=4, top_k=len(texts)))
        assert len(resp["sources"]) == len(texts) - 1
        assert rule not in [s["text"] for s in resp["sources"]]
