"""Plan-shape regression guards for the scale-critical registry keys.

The scale design lives in the PHYSICAL PLAN (zero-exchange semantic
route, bounded-exchange WAND path, TakeOrderedAndProject cuts — see
PLANS.md); these tests pin the structural properties so a future edit
cannot silently turn an indexed path back into a corpus scan or add an
unneeded shuffle. Counts asserted here are data-size-independent
invariants (projection-only plans, cached-artifact window cuts), checked
at sf0.001 so the guard stays cheap.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as m

    return m


def test_semantic_sparse_route_is_zero_exchange(spark, entry):
    """The stored rank_features map column is scored by a bounded
    per-token fold and cut by TakeOrderedAndProject — scan → project →
    top-k with NO shuffle at any corpus size."""
    for key in ("semantic_sparse_topk", "semantic_sparse_analyzer_topk"):
        plan = _plan(entry.queries()[key](spark, SF_DIR))
        assert plan.count(") Exchange") == 0, key
        assert "TakeOrderedAndProject" in plan, key


def test_wand_path_is_bounded_exchange_topk(spark, entry):
    """The block-max index query is cached-postings scans + the top-k
    cut: at most 2 exchanges, final TakeOrderedAndProject, and never a
    SortMergeJoin (a corpus re-sort would mean the index isn't used)."""
    for key in ("bm25_wand_topk", "bm25_updated_index_topk"):
        plan = _plan(entry.queries()[key](spark, SF_DIR))
        assert plan.count(") Exchange") <= 2, key
        assert "TakeOrderedAndProject" in plan, key
        assert "SortMergeJoin" not in plan, key


def test_phrase_default_routes_through_positional_index(spark, entry):
    """bm25_phrase_topk (the registry DEFAULT since round 6) must carry
    the positional-index plan: no SortMergeJoin (the scan path's position
    chain join) and no MapInPandas corpus re-tokenization; the explicit
    scan exhibit keeps both."""
    qmap = entry.queries()
    default = _plan(qmap["bm25_phrase_topk"](spark, SF_DIR))
    assert "SortMergeJoin" not in default
    assert "TakeOrderedAndProject" in default
    scan = _plan(qmap["bm25_phrase_scan_topk"](spark, SF_DIR))
    assert "SortMergeJoin" in scan  # the exhibit keeps the scan shape


def test_delegate_raw_routes_are_artifact_bounded(spark, entry):
    """The delegate raw-type routes never join the corpus against itself:
    token_count is a filter over the per-doc length artifact (its one
    exchange is the output sort), match_only_text is one ``isin``-filtered
    postings scan + one agg ending in TakeOrderedAndProject."""
    qmap = entry.queries()
    p = _plan(qmap["semantic_raw_token_count"](spark, SF_DIR))
    assert p.count(") Exchange") <= 1
    assert "Join" not in p
    p = _plan(qmap["semantic_raw_match_only_topk"](spark, SF_DIR))
    assert p.count(") Exchange") <= 1
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_batched_quantized_ann_is_two_window_cuts(spark, entry):
    """ann_quantized_batch_topk: one byte-table scan feeding Q broadcast
    query vectors — the only exchanges are the two per-qid window cuts
    (coarse window, final cut); no sort-merge join at any size."""
    p = _plan(entry.queries()["ann_quantized_batch_topk"](spark, SF_DIR))
    assert p.count(") Exchange") <= 2
    assert "SortMergeJoin" not in p


def test_two_phase_spec_rescore_broadcasts_the_window(spark, entry):
    """The spec-path two-phase rescore joins the corpus-sized phase-1
    table only against BROADCAST window tables (≤ 10000 rows by the
    processor cap) — a sort-merge join here would re-sort the corpus per
    query."""
    for key in ("sparse_two_phase_spec", "sparse_two_phase_topk"):
        p = _plan(entry.queries()[key](spark, SF_DIR))
        assert "SortMergeJoin" not in p, key
        assert "TakeOrderedAndProject" in p, key


def test_pq_code_table_builds_before_its_codebooks(spark, entry):
    """Not a plan shape but the same registry: the stored PQ code table,
    asked for first on a fresh (session, corpus) key, trains its own
    codebooks instead of raising KeyError."""
    import os

    from pyspark.sql import DataFrame

    sf_dir = os.path.join(SF_DIR, "")  # same data, a key no other test warmed
    key = (id(spark), sf_dir)
    try:
        codes = entry._pq_code_artifacts(spark, sf_dir)
        assert codes.count() == entry._embeddings(spark, sf_dir).count()
        assert entry._pq_codebook_artifacts(spark, sf_dir) is entry._PQ_CODEBOOKS[key]
    finally:
        for cache in (entry._PQ_CODES, entry._PQ_CODEBOOKS, entry._IVF_ARTIFACTS):
            held = cache.pop(key, ())
            for df in held if isinstance(held, tuple) else (held,):
                if isinstance(df, DataFrame):
                    df.unpersist()
