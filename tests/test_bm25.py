"""End-to-end BM25 parity: Spark DataFrame engine vs pure-Python Lucene oracle.

Mirrors the reference IT strategy (SURVEY.md §5): rankings must be exact,
scores within DELTA_FOR_SCORE_ASSERTION = 0.001 (TestUtils.java:43).
"""

import pytest

from neural_search_spark.oracle.bm25 import OracleIndex
from neural_search_spark.search.bm25 import BM25Engine, topk

QUERIES = [
    "import ident0",
    "def uniq_000007",
    "class ident1 ident2 ident3",
    "return self",
    "nonexistent_term_zzz",
    "ident0",  # hottest identifier
    "public void ident4",
]


@pytest.fixture(scope="module")
def engine(spark, tiny_corpus):
    return BM25Engine(spark, tiny_corpus).cache()


@pytest.fixture(scope="module")
def oracle(tiny_corpus_pdf):
    return OracleIndex(dict(zip(tiny_corpus_pdf["docID"], tiny_corpus_pdf["content"])))


def test_stats_match(engine, oracle):
    assert engine.stats.n_docs == oracle.n_docs
    assert abs(engine.stats.avgdl - float(oracle.avgdl)) < 1e-3


@pytest.mark.parametrize("q", QUERIES)
def test_match_topk_rank_identical(engine, oracle, q):
    k = 10
    got = [(r["docID"], r["score"]) for r in topk(engine.match(q), k).collect()]
    want = oracle.topk(__import__("neural_search_spark.analysis.tokenizer", fromlist=["tokenize_text"]).tokenize_text(q), k)
    assert [d for d, _ in got] == [d for d, _ in want], q
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-3, q


def test_all_scores_match(engine, oracle):
    q = "import def class"
    got = {r["docID"]: r["score"] for r in engine.match(q).collect()}
    want = oracle.clause_scores(["import", "def", "class"])
    assert set(got) == set(want)
    for d in got:
        assert abs(got[d] - float(want[d])) <= 1e-3


def test_postings_table_carries_doc_length_and_df(spark, engine):
    """Each posting row carries its document's ``dlq`` and its term's
    index-wide document count, so clauses need no side joins."""
    from pyspark.sql import functions as F

    p = engine.postings
    assert p.columns == ["docID", "term", "tf", "dlq", "ndoc"]
    counted = p.groupBy("term").agg(F.count("*").alias("n"))
    assert p.join(counted, "term").where(F.col("ndoc") != F.col("n")).count() == 0
    lens = engine.doclens.select("docID", F.col("dlq").alias("want"))
    assert p.join(lens, "docID").where(F.col("dlq") != F.col("want")).count() == 0
    assert p.count() == engine.postings.join(lens, "docID").count()


def test_postings_table_over_vocabulary_cap_joins_counts(engine, tiny_corpus):
    """A vocabulary over ``max_broadcast_expansion`` never goes to the
    driver: ``ndoc`` is joined back by a shuffle, and the table's rows and
    a clause's scores are the same as with the driver-side lookup."""
    from neural_search_spark import settings
    from neural_search_spark.search.bm25 import bm25_clause_scores, scoring_postings

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "ndoc(term" in plan(scoring_postings(tiny_corpus, "content", "docID"))
    with settings.override(max_broadcast_expansion=4):
        table = scoring_postings(tiny_corpus, "content", "docID")
    assert "ShuffledHashJoin" in plan(table) and "ndoc(term" not in plan(table)
    assert sorted(map(tuple, table.collect())) == sorted(map(tuple, engine.postings.collect()))
    terms = ["import", "ident0", "self"]
    got = {r["docID"]: r["score"] for r in bm25_clause_scores(table, engine.stats, terms).collect()}
    want = {r["docID"]: r["score"] for r in bm25_clause_scores(engine.postings, engine.stats, terms).collect()}
    # the same terms summed in another row order: equal up to rounding
    assert got.keys() == want.keys() and got
    assert all(abs(got[d] - want[d]) <= 1e-12 for d in got)


def test_engine_release_drops_every_cached_table(spark, tiny_corpus):
    """``cache()`` leaves exactly the postings table and the doclens cached
    (the tokenized postings it was built from are released), and
    unpersisting those two returns the CacheManager to where it was."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    # a corpus no other engine in this session caches, so no entry is shared
    eng = BM25Engine(spark, tiny_corpus.where("docID % 2 = 0")).cache()
    assert cm.numCachedEntries() == before + 2
    eng.postings.unpersist()
    eng.doclens.unpersist()
    assert cm.numCachedEntries() == before


def test_sha256_invariant(tiny_corpus):
    from neural_search_spark.corpus import assert_sha256_invariant

    assert_sha256_invariant(tiny_corpus)


def _phrase_oracle_scores(docs: dict[int, str], phrase_terms: list[str], oracle) -> dict[int, float]:
    """Pure-Python match_phrase oracle: overlapping adjacent-run count,
    query weight = sum of per-position idf (duplicates included)."""
    from neural_search_spark.analysis.tokenizer import tokenize_text
    from neural_search_spark.index.smallfloat import quantize_length

    m = len(phrase_terms)
    qidf = sum(float(oracle.idf(t)) for t in phrase_terms)
    out = {}
    for doc_id, text in docs.items():
        toks = tokenize_text(text)
        ptf = sum(1 for i in range(len(toks) - m + 1) if toks[i:i + m] == phrase_terms)
        if not ptf:
            continue
        dlq = float(quantize_length(len(toks)))
        out[doc_id] = qidf * ptf / (ptf + 1.2 * (1 - 0.75 + 0.75 * dlq / float(oracle.avgdl)))
    return out


def test_match_phrase_matches_python_oracle(spark, engine, oracle, tiny_corpus_pdf):
    docs = dict(zip(tiny_corpus_pdf["docID"], tiny_corpus_pdf["content"]))
    # pick a bigram that actually occurs in the corpus
    from neural_search_spark.analysis.tokenizer import tokenize_text

    toks0 = tokenize_text(next(iter(docs.values())))
    phrase = f"{toks0[0]} {toks0[1]}"
    got = {r["docID"]: r["score"] for r in engine.match_phrase(phrase).collect()}
    want = _phrase_oracle_scores(docs, tokenize_text(phrase), oracle)
    assert set(got) == set(want)
    for d in got:
        assert abs(got[d] - want[d]) <= 1e-3


def test_match_phrase_requires_adjacency(spark):
    from neural_search_spark.search.bm25 import BM25Engine

    rows = [
        (0, "alpha beta gamma"),       # phrase hit
        (1, "alpha gamma beta"),       # both terms, not adjacent
        (2, "beta alpha"),             # wrong order
        (3, "alpha beta alpha beta"),  # two hits
    ]
    eng = BM25Engine(spark, spark.createDataFrame(rows, "docID long, content string"))
    got = {r["docID"] for r in eng.match_phrase("alpha beta").collect()}
    assert got == {0, 3}


def test_match_phrase_overlapping_occurrences(spark):
    from neural_search_spark.search.bm25 import BM25Engine, phrase_freq_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(0, ["a", "a", "a"]), (1, ["a"]), (2, [])], "docID long, toks array<string>")
    got = {r["docID"]: r["ptf"] for r in df.select("docID", phrase_freq_col(F.col("toks"), ["a", "a"]).alias("ptf")).collect()}
    assert got == {0: 2, 1: 0, 2: 0}


def test_multi_match_best_vs_most_fields(spark):
    from neural_search_spark.search.bm25 import BM25Engine, multi_match_scores

    rows = [
        (0, "alpha beta", "alpha"),   # matches both fields
        (1, "alpha beta", "zzz"),     # content only
        (2, "zzz yyy", "alpha"),      # title only
        (3, "qqq", "rrr"),            # no match
    ]
    df = spark.createDataFrame(rows, "docID long, content string, title string")
    eng = BM25Engine(spark, df)
    fields = {"content": 1.0, "title": 2.0}
    best = {r["docID"]: r["score"] for r in multi_match_scores(
        eng, fields, "alpha", match_type="best_fields", tie_breaker=0.0).collect()}
    most = {r["docID"]: r["score"] for r in multi_match_scores(
        eng, fields, "alpha", match_type="most_fields").collect()}
    # second call reuses the per-field artifacts built on the engine
    assert set(eng._field_artifacts) == {"title"}
    assert set(best) == set(most) == {0, 1, 2}
    # single-field docs: identical under both types
    assert best[1] == most[1] and best[2] == most[2]
    # both-field doc: most_fields sums, best_fields takes the max
    assert most[0] > best[0]
    assert best[0] == max(most[0] - best[0], best[0])  # max component
    # tie_breaker interpolates between the two
    half = {r["docID"]: r["score"] for r in multi_match_scores(
        eng, fields, "alpha", match_type="best_fields", tie_breaker=1.0).collect()}
    assert abs(half[0] - most[0]) < 1e-12


def test_multi_match_rejects_unknown_type(spark):
    from neural_search_spark.search.bm25 import BM25Engine, multi_match_scores

    df = spark.createDataFrame([(0, "a", "b")], "docID long, content string, title string")
    with pytest.raises(ValueError):
        multi_match_scores(BM25Engine(spark, df), {"content": 1.0}, "a", match_type="cross_fields")


@pytest.fixture()
def bool_engine(spark):
    from neural_search_spark.search.bm25 import BM25Engine

    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha beta"),
        (2, "alpha gamma"),
        (3, "beta gamma"),
        (4, "alpha beta gamma delta"),
    ]
    return BM25Engine(spark, spark.createDataFrame(rows, "docID long, content string"))


def test_bool_must_and_should_scoring(spark, bool_engine):
    from neural_search_spark.search.bm25 import bool_query_scores

    eng = bool_engine
    out = {r["docID"]: r["score"] for r in bool_query_scores(
        must=[eng.match("alpha")], should=[eng.match("gamma")]).collect()}
    # membership = must matches only (msm defaults to 0 with a must clause)
    assert set(out) == {0, 1, 2, 4}
    alpha = {r["docID"]: r["score"] for r in eng.match("alpha").collect()}
    gamma = {r["docID"]: r["score"] for r in eng.match("gamma").collect()}
    for d in out:
        assert abs(out[d] - (alpha[d] + gamma.get(d, 0.0))) < 1e-12


def test_bool_minimum_should_match_and_must_not(spark, bool_engine):
    from neural_search_spark.search.bm25 import bool_query_scores

    eng = bool_engine
    # pure-should: msm defaults to 1 -> union of clause matches
    union = {r["docID"] for r in bool_query_scores(
        should=[eng.match("alpha"), eng.match("beta")]).collect()}
    assert union == {0, 1, 2, 3, 4}
    # msm=2 -> docs matching both shoulds
    both = {r["docID"] for r in bool_query_scores(
        should=[eng.match("alpha"), eng.match("beta")], minimum_should_match=2).collect()}
    assert both == {0, 1, 4}
    # must_not excludes
    got = {r["docID"] for r in bool_query_scores(
        must=[eng.match("alpha")], must_not=[eng.match("delta")]).collect()}
    assert got == {0, 1, 2}


def test_bool_requires_a_scoring_clause(spark, bool_engine):
    from neural_search_spark.search.bm25 import bool_query_scores

    with pytest.raises(ValueError):
        bool_query_scores(must_not=[bool_engine.match("alpha")])


def test_prefix_and_fuzzy_expansion(spark):
    from neural_search_spark.search.bm25 import BM25Engine, fuzzy_query_scores, prefix_query_scores

    rows = [
        (0, "table chair"),
        (1, "tablet stylus"),
        (2, "fable story"),
        (3, "chair only"),
    ]
    eng = BM25Engine(spark, spark.createDataFrame(rows, "docID long, content string"))
    got = {r["docID"]: r["score"] for r in prefix_query_scores(eng, "tab").collect()}
    assert got == {0: 1.0, 1: 1.0}  # table, tablet; fable excluded
    # fuzzy "tabla" <=1 edit: table (sub), NOT tablet (2 edits from tabla? t-a-b-l-a -> t-a-b-l-e-t = 2)
    fz = {r["docID"] for r in fuzzy_query_scores(eng, "tabla", max_edits=1).collect()}
    assert fz == {0}
    # without prefix guard, "fable" is 2 edits from "tabla"; with max_edits=2 it joins
    fz2 = {r["docID"] for r in fuzzy_query_scores(eng, "tabla", max_edits=2).collect()}
    assert 2 in fz2 and 0 in fz2
    # prefix_length pins the first letters: fable drops back out
    fz3 = {r["docID"] for r in fuzzy_query_scores(eng, "tabla", max_edits=2, prefix_length=1).collect()}
    assert fz3 == {0, 1}


def test_match_operator_and_msm(spark):
    from neural_search_spark.search.bm25 import BM25Engine

    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha beta"),
        (2, "alpha"),
        (3, "zzz"),
    ]
    eng = BM25Engine(spark, spark.createDataFrame(rows, "docID long, content string"))
    q = "alpha beta gamma"
    or_ids = {r["docID"] for r in eng.match(q).collect()}
    and_ids = {r["docID"] for r in eng.match(q, operator="and").collect()}
    msm2 = {r["docID"] for r in eng.match(q, minimum_should_match=2).collect()}
    assert or_ids == {0, 1, 2}
    assert and_ids == {0}
    assert msm2 == {0, 1}
    # scores of surviving docs are the untouched OR scores
    or_scores = {r["docID"]: r["score"] for r in eng.match(q).collect()}
    and_scores = {r["docID"]: r["score"] for r in eng.match(q, operator="and").collect()}
    assert and_scores[0] == or_scores[0]
    # Lucene BooleanQuery semantics: msm above the optional clause count
    # matches NOTHING (no clamp to the term count)
    assert eng.match(q, minimum_should_match=5).count() == 0
    with pytest.raises(ValueError, match="operator"):
        eng.match(q, operator="xor")


def test_spec_clause_boost(spark):
    from neural_search_spark.search.bm25 import BM25Engine
    from neural_search_spark.search.spec import _score_clause

    rows = [(0, "alpha beta"), (1, "alpha"), (2, "beta")]
    eng = BM25Engine(spark, spark.createDataFrame(rows, "docID long, content string"))
    plain = {r["docID"]: r["score"] for r in _score_clause(eng, {"match": {"query": "alpha"}}, None).collect()}
    boosted = {r["docID"]: r["score"] for r in _score_clause(eng, {"match": {"query": "alpha", "boost": 2.5}}, None).collect()}
    assert set(plain) == set(boosted)
    for d in plain:
        assert abs(boosted[d] - 2.5 * plain[d]) < 1e-12


def test_dis_max_boosting_constant_wildcard_range(spark):
    from neural_search_spark.search.bm25 import (
        BM25Engine,
        boosting_query_scores,
        constant_score_query,
        dis_max_scores,
        range_query_scores,
        wildcard_query_scores,
    )

    rows = [
        (0, "alpha beta", "x", 10),
        (1, "alpha slow", "y", 20),
        (2, "beta gamma", "z", 30),
        (3, "delta", "w", 40),
    ]
    eng = BM25Engine(
        spark,
        spark.createDataFrame(rows, "docID long, content string, lang string, n_chars long"),
    )
    a = {r["docID"]: r["score"] for r in eng.match("alpha").collect()}
    g = {r["docID"]: r["score"] for r in eng.match("gamma").collect()}
    dm = {r["docID"]: r["score"] for r in dis_max_scores(
        [eng.match("alpha"), eng.match("gamma")], tie_breaker=0.5).collect()}
    assert set(dm) == set(a) | set(g)
    for d in dm:
        mx = max(a.get(d, 0.0), g.get(d, 0.0))
        sm = a.get(d, 0.0) + g.get(d, 0.0)
        assert abs(dm[d] - (mx + 0.5 * (sm - mx))) < 1e-12
    # boosting: doc 1 matches negative 'slow' -> demoted, not excluded
    bq = {r["docID"]: r["score"] for r in boosting_query_scores(
        eng.match("alpha"), eng.match("slow"), 0.25).collect()}
    assert set(bq) == set(a)
    assert abs(bq[1] - 0.25 * a[1]) < 1e-12 and bq[0] == a[0]
    # constant_score: membership at exactly the boost
    cs = {r["docID"]: r["score"] for r in constant_score_query(eng.match("alpha"), 2.5).collect()}
    assert cs == {0: 2.5, 1: 2.5}
    # wildcard: ?lpha and *amma
    assert {r["docID"] for r in wildcard_query_scores(eng, "?lpha").collect()} == {0, 1}
    assert {r["docID"] for r in wildcard_query_scores(eng, "*amma").collect()} == {2}
    # range over n_chars
    assert {r["docID"] for r in range_query_scores(eng, "n_chars", gte=20, lt=40).collect()} == {1, 2}
