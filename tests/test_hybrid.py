"""Hybrid normalization/combination: golden edge cases + e2e oracle parity.

Golden fixtures mirror the reference unit tests
(processor/normalization/*Tests.java, processor/combination/*Tests.java);
e2e mirrors NormalizationProcessorIT/ScoreCombinationIT configurations.
"""

import math

import pytest

from neural_search_spark import oracle
from neural_search_spark.oracle import bm25 as obm
from neural_search_spark.search.bm25 import BM25Engine
from neural_search_spark.search.hybrid import (
    combine_clauses,
    hybrid_search,
    normalize_clause,
    validate_technique_pair,
    validate_weights,
)

DELTA = 1e-3  # TestUtils.java:43 DELTA_FOR_SCORE_ASSERTION


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "docID long, score double")


def _collect(df):
    return {r["docID"]: r[1] for r in df.collect()}


# ---------------------------------------------------------------- golden


def test_min_max_basic(spark):
    out = _collect(normalize_clause(_df(spark, [(1, 2.0), (2, 4.0), (3, 3.0)]), "min_max"))
    assert out[2] == pytest.approx(1.0)
    assert out[1] == pytest.approx(0.001)  # score==min → MIN_SCORE floor
    assert out[3] == pytest.approx(0.5)


def test_min_max_single_score_is_one(spark):
    out = _collect(normalize_clause(_df(spark, [(7, 0.3)]), "min_max"))
    assert out[7] == pytest.approx(1.0)  # SINGLE_RESULT_SCORE


def test_min_max_all_equal_is_one(spark):
    out = _collect(normalize_clause(_df(spark, [(1, 0.5), (2, 0.5)]), "min_max"))
    assert out == {1: pytest.approx(1.0), 2: pytest.approx(1.0)}


def test_min_max_lower_bound_apply(spark):
    # LowerBound.APPLY: effMin = bound when max>bound AND score>bound, else min
    out = _collect(
        normalize_clause(
            _df(spark, [(1, 2.0), (2, 4.0), (3, 3.0)]), "min_max", lower_bound=("apply", 2.5)
        )
    )
    assert out[1] == pytest.approx(0.001)  # s<=bound → effMin=min → raw 0 → floor
    assert out[3] == pytest.approx((3.0 - 2.5) / (4.0 - 2.5), abs=DELTA)
    assert out[2] == pytest.approx(1.0)


def test_min_max_lower_bound_clip(spark):
    # LowerBound.CLIP: scores below the bound clip to MIN_SCORE
    out = _collect(
        normalize_clause(
            _df(spark, [(1, 2.0), (2, 4.0), (3, 3.0)]), "min_max", lower_bound=("clip", 2.5)
        )
    )
    assert out[1] == pytest.approx(0.001)  # clipped below
    assert out[3] == pytest.approx((3.0 - 2.5) / (4.0 - 2.5), abs=DELTA)
    assert out[2] == pytest.approx(1.0)


def test_min_max_upper_bound_apply(spark):
    # UpperBound.APPLY: effMax = bound when min<bound AND score<bound, else max
    out = _collect(
        normalize_clause(
            _df(spark, [(1, 2.0), (2, 4.0), (3, 3.0)]), "min_max", upper_bound=("apply", 3.5)
        )
    )
    assert out[1] == pytest.approx(0.001)
    assert out[3] == pytest.approx((3.0 - 2.0) / (3.5 - 2.0), abs=DELTA)
    assert out[2] == pytest.approx(1.0)  # s>=bound → effMax=max → (4-2)/2


def test_min_max_upper_bound_clip(spark):
    # UpperBound.CLIP: scores above the bound clip to MAX_SCORE=1.0
    out = _collect(
        normalize_clause(
            _df(spark, [(1, 2.0), (2, 4.0), (3, 3.0)]), "min_max", upper_bound=("clip", 3.5)
        )
    )
    assert out[2] == pytest.approx(1.0)  # clipped above
    assert out[3] == pytest.approx((3.0 - 2.0) / (3.5 - 2.0), abs=DELTA)
    assert out[1] == pytest.approx(0.001)


def test_min_max_bounds_ignore_is_noop(spark):
    plain = _collect(normalize_clause(_df(spark, [(1, 2.0), (2, 4.0), (3, 3.0)]), "min_max"))
    ignored = _collect(
        normalize_clause(
            _df(spark, [(1, 2.0), (2, 4.0), (3, 3.0)]),
            "min_max",
            lower_bound=("ignore", 2.5),
            upper_bound=("ignore", 3.5),
        )
    )
    assert ignored == {k: pytest.approx(v) for k, v in plain.items()}


def test_bounds_rejected_for_non_minmax(spark):
    with pytest.raises(ValueError):
        normalize_clause(_df(spark, [(1, 1.0)]), "l2", lower_bound=("apply", 0.5))
    with pytest.raises(ValueError):
        normalize_clause(_df(spark, [(1, 1.0)]), "min_max", lower_bound=("bogus", 0.5))


def test_l2(spark):
    out = _collect(normalize_clause(_df(spark, [(1, 3.0), (2, 4.0)]), "l2"))
    assert out[1] == pytest.approx(0.6)
    assert out[2] == pytest.approx(0.8)


def test_l2_zero_norm(spark):
    out = _collect(normalize_clause(_df(spark, [(1, 0.0), (2, 0.0)]), "l2"))
    assert out == {1: 0.0, 2: 0.0}


def test_z_score(spark):
    # mean=2, sample sd=1; s==mean → clause max; z<=0 → 0.001
    out = _collect(normalize_clause(_df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), "z_score"))
    assert out[3] == pytest.approx(1.0)  # (3-2)/1
    assert out[2] == pytest.approx(3.0)  # s==mean → max
    assert out[1] == pytest.approx(0.001)  # z=-1 → MIN_SCORE


def test_z_score_sd_zero(spark):
    # both equal → s==mean branch fires first → max
    out = _collect(normalize_clause(_df(spark, [(1, 5.0), (2, 5.0)]), "z_score"))
    assert out == {1: pytest.approx(5.0), 2: pytest.approx(5.0)}


def test_rrf_normalization(spark):
    out = _collect(normalize_clause(_df(spark, [(1, 9.0), (2, 5.0), (3, 7.0)]), "rrf"))
    assert out[1] == pytest.approx(round(1 / 61, 10), abs=1e-12)
    assert out[3] == pytest.approx(round(1 / 62, 10), abs=1e-12)
    assert out[2] == pytest.approx(round(1 / 63, 10), abs=1e-12)


def test_arithmetic_mean_absent_counts_in_denominator(spark):
    # doc 2 matched clause0 only: (0.8*1 + 0*1)/(1+1) = 0.4
    c0 = _df(spark, [(1, 1.0), (2, 0.8)])
    c1 = _df(spark, [(1, 0.5)])
    out = _collect(combine_clauses([c0, c1], "arithmetic_mean").select("docID", "score"))
    assert out[1] == pytest.approx(0.75)
    assert out[2] == pytest.approx(0.4)


def test_harmonic_geometric_skip_zeros(spark):
    c0 = _df(spark, [(1, 1.0), (2, 0.8)])
    c1 = _df(spark, [(1, 0.5)])
    h = _collect(combine_clauses([c0, c1], "harmonic_mean").select("docID", "score"))
    assert h[1] == pytest.approx(2 / (1 / 1.0 + 1 / 0.5))
    assert h[2] == pytest.approx(0.8)  # zero clause skipped entirely
    g = _collect(combine_clauses([c0, c1], "geometric_mean").select("docID", "score"))
    assert g[1] == pytest.approx(math.exp((math.log(1.0) + math.log(0.5)) / 2))
    assert g[2] == pytest.approx(0.8)


def test_weighted_arithmetic(spark):
    c0 = _df(spark, [(1, 1.0)])
    c1 = _df(spark, [(1, 0.5)])
    out = _collect(
        combine_clauses([c0, c1], "arithmetic_mean", weights=[0.4, 0.6]).select("docID", "score")
    )
    assert out[1] == pytest.approx((0.4 * 1.0 + 0.6 * 0.5) / 1.0)


def test_rrf_combination_is_sum(spark):
    c0 = _df(spark, [(1, 0.3)])
    c1 = _df(spark, [(1, 0.2)])
    out = _collect(combine_clauses([c0, c1], "rrf").select("docID", "score"))
    assert out[1] == pytest.approx(0.5)


def test_weight_validation():
    validate_weights([0.5, 0.5], 2)
    with pytest.raises(ValueError):
        validate_weights([0.5, 0.6], 2)
    with pytest.raises(ValueError):
        validate_weights([1.5, -0.5], 2)
    with pytest.raises(ValueError):
        validate_weights([0.5], 2)


def test_technique_pair_validation():
    validate_technique_pair("rrf", "rrf")
    with pytest.raises(ValueError):
        validate_technique_pair("rrf", "arithmetic_mean")
    with pytest.raises(ValueError):
        validate_technique_pair("min_max", "rrf")


# ---------------------------------------------------------------- e2e vs oracle

CLAUSES = ("import ident0", "def class ident1")
CONFIGS = [
    ("min_max", "arithmetic_mean", None),
    ("min_max", "arithmetic_mean", [0.3, 0.7]),
    ("min_max", "harmonic_mean", None),
    ("min_max", "geometric_mean", None),
    ("l2", "arithmetic_mean", None),
    ("z_score", "arithmetic_mean", None),
    ("rrf", "rrf", None),
]


@pytest.fixture(scope="module")
def engine(spark, tiny_corpus):
    return BM25Engine(spark, tiny_corpus).cache()


@pytest.fixture(scope="module")
def oracle_idx(tiny_corpus_pdf):
    return obm.OracleIndex(dict(zip(tiny_corpus_pdf["docID"], tiny_corpus_pdf["content"])))


def _oracle_hybrid(oracle_idx, clauses, norm, comb, weights, k, depth):
    from neural_search_spark.analysis.tokenizer import tokenize_text

    per = []
    for text in clauses:
        scores = oracle_idx.clause_scores(tokenize_text(text))
        cut = dict(sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:depth])
        if norm == "min_max":
            per.append(obm.normalize_min_max(cut))
        elif norm == "l2":
            per.append(obm.normalize_l2(cut))
        elif norm == "z_score":
            per.append(obm.normalize_z_score(cut))
        elif norm == "rrf":
            per.append(obm.normalize_rrf(cut))
    combined = obm.combine(per, comb, weights)
    ranked = sorted(combined.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(d, float(s)) for d, s in ranked[:k]]


def _assert_matches(got, want, *ctx):
    got_map = dict(got)
    want_map = dict(want)
    assert set(got_map) == set(want_map), ctx
    for d in got_map:
        assert abs(got_map[d] - want_map[d]) <= DELTA, (*ctx, d)
    # rank-identical where score gaps exceed float32 noise
    for (gd, gs), (wd, ws) in zip(got, want):
        if gd != wd:
            assert abs(gs - ws) <= 2 * DELTA, (*ctx, gd, wd)


def _hybrid_rows(engine, clauses, norm, comb, weights=None, k=10, depth=50, **kw):
    out = hybrid_search([engine.match(t) for t in clauses], norm, comb, weights=weights, k=k, depth=depth, **kw)
    return [(r["docID"], r["score"]) for r in out.collect()]


@pytest.mark.parametrize("norm,comb,weights", CONFIGS)
def test_hybrid_e2e_vs_oracle(engine, oracle_idx, norm, comb, weights):
    k, depth = 10, 50
    got = _hybrid_rows(engine, CLAUSES, norm, comb, weights, k, depth)
    want = _oracle_hybrid(oracle_idx, CLAUSES, norm, comb, weights, k, depth)
    _assert_matches(got, want, norm, comb)


# ---------------------------------------------------------------- tagged-plan edge cases

PAIRS = list(dict.fromkeys((norm, comb) for norm, comb, _ in CONFIGS))  # the six pairs
# every clause's terms outside the vocabulary → an empty ``_c`` partition
EMPTY_CLAUSE = ("import ident0", "zzqx nosuchterm", "def class ident1")
FIVE_CLAUSES = ("import ident0", "def class ident1", "return self", "ident2 ident3", "class import ident4")


@pytest.mark.parametrize("norm,comb", PAIRS)
@pytest.mark.parametrize("clauses", [EMPTY_CLAUSE, FIVE_CLAUSES], ids=["empty_clause", "five_clauses"])
def test_hybrid_edge_cases_vs_oracle(engine, oracle_idx, clauses, norm, comb):
    got = _hybrid_rows(engine, clauses, norm, comb)
    want = _oracle_hybrid(oracle_idx, clauses, norm, comb, None, 10, 50)
    _assert_matches(got, want, norm, comb, len(clauses))


def _min_max_bounded(scores, lb, ub):
    """Python twin of min_max with ``normalization/bounds/`` rules."""
    mn, mx = min(scores.values()), max(scores.values())
    out = {}
    for d, s in scores.items():
        eff_min, eff_max = mn, mx
        if lb is not None:
            mode, b = lb
            if mode == "apply":
                eff_min = b if mx > b and s > b else mn
            elif mode == "clip":
                eff_min = mn if mx < b else b
        if ub is not None:
            mode, b = ub
            if mode == "apply":
                eff_max = b if mn < b and s < b else mx
            elif mode == "clip":
                eff_max = mx if mn > b else b
        if mx == mn and mx == s:
            out[d] = 1.0
        elif lb is not None and lb[0] == "clip" and s < eff_min:
            out[d] = 0.001
        elif ub is not None and ub[0] == "clip" and s > eff_max:
            out[d] = 1.0
        elif eff_max == eff_min:
            out[d] = 1.0
        else:
            raw = (s - eff_min) / (eff_max - eff_min)
            out[d] = 0.001 if raw == 0.0 else raw
    return out


@pytest.mark.parametrize("comb", ["arithmetic_mean", "geometric_mean", "harmonic_mean"])
def test_hybrid_per_clause_bounds_mixing_none_and_clip(engine, oracle_idx, comb):
    """Per-clause bounds become ``_c`` arms of one expression: a clause
    without bounds must keep plain min_max while its neighbours clip."""
    from neural_search_spark.analysis.tokenizer import tokenize_text

    clauses = ("import ident0", "def class ident1", "return self")
    lows = [("clip", 1.0), None, ("apply", 0.5)]
    ups = [None, ("clip", 2.0), None]
    got = _hybrid_rows(engine, clauses, "min_max", comb, lower_bounds=lows, upper_bounds=ups)
    per = []
    for text, lb, ub in zip(clauses, lows, ups):
        scores = oracle_idx.clause_scores(tokenize_text(text))
        cut = dict(sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:50])
        per.append(_min_max_bounded({d: float(v) for d, v in cut.items()}, lb, ub))
    combined = obm.combine(per, comb)
    want = [(d, float(s)) for d, s in sorted(combined.items(), key=lambda kv: (-kv[1], kv[0]))[:10]]
    _assert_matches(got, want, comb)


@pytest.mark.parametrize(
    "clauses,ceiling",
    [(CLAUSES, 5), (CLAUSES + ("return self ident2",), 6)],
    ids=["2_clauses", "3_clauses"],
)
def test_hybrid_request_job_ceiling_and_no_leftover_cache(engine, job_count, clauses, ceiling):
    """One hybrid request is one tagged plan over the engine's postings
    table: one job per clause scan plus the cut/normalize/combine tail,
    the count measured on this session shape (local[4], 8 shuffle
    partitions), and it leaves no cached table behind."""
    _hybrid_rows(engine, clauses, "min_max", "arithmetic_mean")  # warm the engine caches
    jobs, cached = job_count(lambda: _hybrid_rows(engine, clauses, "min_max", "arithmetic_mean"))
    assert cached == 0
    assert jobs <= ceiling


def test_rrf_requires_depth(spark):
    """The rrf rank window is global (single task) — hybrid_search enforces
    the depth cut instead of assuming it."""
    with pytest.raises(ValueError, match="depth"):
        hybrid_search(
            [_df(spark, [(1, 1.0)])], "rrf", "rrf", k=5, depth=None
        )
