"""Round-5 operator tests: batched BM25, dedup canonical selection, DSIR
importance weights, packing efficiency, daily anomaly sweep, analyzer-mode
sparse queries."""

import pytest
from pyspark.sql import functions as F

from neural_search_spark.search.bm25 import (
    BM25Engine,
    bm25_batch_topk,
    topk,
)


@pytest.fixture(scope="module")
def engine(spark, tiny_corpus):
    return BM25Engine(spark, tiny_corpus).cache()


class TestBatchBM25:
    def test_batch_equals_per_query(self, spark, engine):
        """The single-plan batch path must score EXACTLY like N independent
        match queries (same idf, same norms, same round-then-cut)."""
        queries = {
            0: ["import", "ident1"],
            1: ["def", "uniq_000003"],
            2: ["return", "self", "ident5"],
        }
        got = {
            (r["qid"], r["docID"]): r["score"]
            for r in bm25_batch_topk(engine, queries, k=5).collect()
        }
        for qid, terms in queries.items():
            # same round-then-cut as the batch path (topk() cuts on the raw
            # double, which breaks round4 ties differently)
            solo = engine.match(" ".join(terms)).collect()
            ranked = sorted(
                ((round(r["score"], 4), r["docID"]) for r in solo),
                key=lambda t: (-t[0], t[1]),
            )[:5]
            solo_scores = {(qid, doc): s for s, doc in ranked}
            batch_q = {k: v for k, v in got.items() if k[0] == qid}
            assert batch_q == solo_scores, qid

    def test_empty_batch(self, spark, engine):
        out = bm25_batch_topk(engine, {}, k=5)
        assert out.count() == 0
        assert out.columns == ["qid", "docID", "score"]

    def test_per_qid_k(self, engine):
        out = bm25_batch_topk(engine, {0: ["import"], 1: ["import"]}, k=3)
        rows = out.groupBy("qid").count().collect()
        assert all(r["count"] <= 3 for r in rows) and len(rows) == 2

    def test_job_ceiling(self, engine, job_count):
        """A batch scores from the engine's postings table in one plan:
        the query-table broadcast, one scan and (qid, docID) aggregation,
        the per-qid window cut and the output sort — no df or doc-length
        side jobs (11 jobs before the table carried ``dlq`` and ``ndoc``).
        Measured on this session shape (local[4], 8 shuffle partitions)."""
        queries = {0: ["import", "ident1"], 1: ["def", "class"], 2: ["return", "self", "ident5"]}
        bm25_batch_topk(engine, queries, k=5).collect()  # warm
        jobs, cached = job_count(lambda: bm25_batch_topk(engine, queries, k=5).collect())
        assert cached == 0
        assert jobs <= 6


class TestBatchNeural:
    def test_batch_equals_per_query(self, spark, tiny_corpus):
        from neural_search_spark.pipeline.embedding import text_embedding_stub
        from neural_search_spark.search.neural import (
            neural_batch_topk,
            neural_clause_scores,
            query_embedding_stub,
        )

        emb = text_embedding_stub(tiny_corpus).cache()
        texts = ["import ident1 self", "def return class"]
        qvs = {i: query_embedding_stub(t) for i, t in enumerate(texts)}
        got = {
            (r["qid"], r["docID"]): r["score"]
            for r in neural_batch_topk(spark, emb, qvs, k=4).collect()
        }
        for qid, t in enumerate(texts):
            solo = neural_clause_scores(emb, qvs[qid], k=4).collect()
            want = {(qid, r["docID"]): r["score"] for r in solo}
            assert {k: v for k, v in got.items() if k[0] == qid} == want

    def test_empty(self, spark, tiny_corpus):
        from neural_search_spark.pipeline.embedding import text_embedding_stub
        from neural_search_spark.search.neural import neural_batch_topk

        out = neural_batch_topk(spark, text_embedding_stub(tiny_corpus), {}, k=3)
        assert out.count() == 0 and out.columns == ["qid", "docID", "score"]


class TestBatchHybrid:
    def test_batch_equals_per_request(self, spark, engine):
        from neural_search_spark.search.hybrid import (
            hybrid_batch_topk,
            hybrid_search,
        )

        batches = {
            0: [["import", "ident1"], ["def", "return"]],
            1: [["class", "self"], ["ident2"]],
        }
        got = {
            (r["qid"], r["docID"]): r["score"]
            for r in hybrid_batch_topk(engine, batches, k=4, depth=20).collect()
        }
        for qid, clauses in batches.items():
            solo = hybrid_search(
                [engine.match(" ".join(c)) for c in clauses],
                "min_max",
                "arithmetic_mean",
                k=4,
                depth=20,
            ).collect()
            want = {(qid, r["docID"]): round(r["score"], 4) for r in solo}
            assert {k: v for k, v in got.items() if k[0] == qid} == want, qid

    def test_clause_cap_applies(self, engine):
        from neural_search_spark import settings
        from neural_search_spark.search.hybrid import hybrid_batch_topk

        with settings.override(hybrid_max_sub_queries=1):
            with pytest.raises(ValueError, match="1..1 sub-queries"):
                hybrid_batch_topk(engine, {0: [["a"], ["b"]]}, k=3)


class TestDedupCanonical:
    def test_keeper_is_longest_then_lowest_id(self, spark):
        from neural_search_spark.pipeline.dedup import canonical_per_cluster

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)], "docID long, cluster_id long"
        )
        corpus = spark.createDataFrame(
            [
                (1, "a b c"),          # 3 tokens
                (2, "a b c d e"),      # 5 tokens  -> keeper of cluster 1
                (3, "a b c d f"),      # 5 tokens, higher docID loses tie
                (7, "x y"),
                (9, "x y"),            # tie -> lower docID 7 wins
            ],
            "docID long, content string",
        )
        got = {
            r["cluster_id"]: (r["canonical"], r["n_members"], r["canonical_tokens"])
            for r in canonical_per_cluster(clusters, corpus).collect()
        }
        assert got == {1: (2, 3, 5), 7: (7, 2, 2)}


class TestDSIR:
    def test_target_like_docs_keep(self, spark):
        from neural_search_spark.pipeline.textstats import dsir_weights

        df = spark.createDataFrame(
            [
                (0, "java", "jvm jvm bytecode heap"),
                (1, "java", "jvm heap gc bytecode"),
                (2, "text", "poem poem verse rhyme"),
                (3, "text", "verse rhyme poem song"),
            ],
            "docID long, lang string, content string",
        )
        out = {r["docID"]: r for r in dsir_weights(df, "lang = 'java'").collect()}
        # target-vocabulary docs score positive, off-target negative
        assert out[0]["logratio"] > 0 and out[0]["keep"]
        assert out[1]["logratio"] > 0 and out[1]["keep"]
        assert out[2]["logratio"] < 0 and not out[2]["keep"]
        assert out[3]["logratio"] < 0 and not out[3]["keep"]

    def test_n_tokens_counts(self, spark):
        from neural_search_spark.pipeline.textstats import dsir_weights

        df = spark.createDataFrame(
            [(0, "a", "x x y"), (1, "b", "z")], "docID long, lang string, content string"
        )
        out = {r["docID"]: r["n_tokens"] for r in dsir_weights(df, "lang = 'a'").collect()}
        assert out == {0: 3, 1: 1}


class TestPackingEfficiency:
    def test_slot_math(self, spark):
        from neural_search_spark.pipeline.training import packing_efficiency

        # lengths 3, 5, 2 at L=4: padded slots = 1+2+1 = 4; packed = ceil(10/4)=3
        df = spark.createDataFrame(
            [(0, "a b c"), (1, "a b c d e"), (2, "a b")],
            "docID long, content string",
        )
        r = packing_efficiency(df, context_len=4).collect()[0]
        assert r["n_docs"] == 3 and r["total_tokens"] == 10
        assert r["slots_padded"] == 4 and r["slots_packed"] == 3
        assert r["util_padded"] == round(10 / 16, 4)
        assert r["util_packed"] == round(10 / 12, 4)


class TestDailyAnomalies:
    def test_spike_flagged(self, spark):
        from neural_search_spark.pipeline.events import daily_anomalies

        rows = []
        eid = 0
        # 9 quiet days of 2 events, one day with 30 -> clear outlier
        for day in range(1, 10):
            for _ in range(2):
                rows.append((eid, f"2024-01-{day:02d} 10:00:00", 1, "click", 1.0, "{}"))
                eid += 1
        for _ in range(30):
            rows.append((eid, "2024-01-10 10:00:00", 1, "click", 1.0, "{}"))
            eid += 1
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
        ).withColumn("ts", F.to_timestamp("ts"))
        got = daily_anomalies(ev, z_threshold=2.0).collect()
        assert len(got) == 1
        assert str(got[0]["day"]) == "2024-01-10" and got[0]["doc_count"] == 30

    def test_constant_series_no_flags(self, spark):
        from neural_search_spark.pipeline.events import daily_anomalies

        rows = [
            (i, f"2024-01-{d:02d} 09:00:00", 1, "view", 1.0, "{}")
            for i, d in enumerate([1, 2, 3, 4])
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
        ).withColumn("ts", F.to_timestamp("ts"))
        assert daily_anomalies(ev).count() == 0


class TestSparseAnalyzerMode:
    def test_distinct_tokens_weight_one(self):
        from neural_search_spark.search.sparse import (
            sparse_query_tokens_from_analyzer,
        )

        got = sparse_query_tokens_from_analyzer("join the data JOIN table")
        assert got == {"join": 1.0, "the": 1.0, "data": 1.0, "table": 1.0}

    def test_whitespace_analyzer(self):
        from neural_search_spark.search.sparse import (
            sparse_query_tokens_from_analyzer,
        )

        got = sparse_query_tokens_from_analyzer("a-b c", "whitespace")
        assert got == {"a-b": 1.0, "c": 1.0}

    def test_unknown_analyzer_raises(self):
        from neural_search_spark.search.sparse import (
            sparse_query_tokens_from_analyzer,
        )

        with pytest.raises(ValueError, match="not found"):
            sparse_query_tokens_from_analyzer("x", "no-such-analyzer")

    def test_spec_clause_analyzer_dispatch(self, spark, engine):
        """query_tokens wins; analyzer mode engages when absent."""
        from neural_search_spark.search.spec import _score_clause
        from neural_search_spark.search.sparse import (
            sparse_features_from_tf,
            sparse_postings,
        )

        postings = sparse_postings(sparse_features_from_tf(engine.corpus)).cache()
        by_map = _score_clause(
            engine,
            {"neural_sparse": {"postings": postings, "query_tokens": {"import": 1.0}}},
            None,
        )
        by_analyzer = _score_clause(
            engine, {"neural_sparse": {"postings": postings, "query": "import"}}, None
        )
        a = sorted((r["docID"], r["score"]) for r in by_map.collect())
        b = sorted((r["docID"], r["score"]) for r in by_analyzer.collect())
        assert a == b and len(a) > 0
