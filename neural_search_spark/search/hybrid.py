"""Hybrid query: per-clause scoring → normalization → combination → top-k.

Reproduces the reference's normalization-processor workflow
(``processor/NormalizationProcessorWorkflow.java:64-107``) as one
declarative DataFrame plan:

- 1..5 sub-queries (``HybridQueryBuilder.java:67`` MAX_NUMBER_OF_SUB_QUERIES),
  each scored independently; a pushed ``filter`` restricts every clause
  (``HybridQueryBuilder.java:107-122``).
- per-clause candidate depth: the reference collects ``numHits =
  pagination_depth ?? size`` docs per clause *before* normalization
  (``HybridCollectorManager.java:102,591-607``); we cut each clause to
  ``depth`` by (score desc, docID asc).
- normalization stats are **global per clause** across all shards
  (``MinMaxScoreNormalizationTechnique.java:140-147``) — a plain global
  aggregate here.
- combination sees a zero-filled float array per doc
  (``ScoreCombiner.java:291-305``): absent clauses contribute 0.0 and DO
  count in the arithmetic-mean denominator.
- final cut: combined score desc, docID asc (``ScoreCombiner.java:43-56``),
  optional post_filter (membership only, ``HybridCollectorManager.java:121-133``)
  and collapse (best doc per field value,
  ``search/collector/HybridCollapsingTopDocsCollector.java``).

Scale shape: one request is one plan. Clauses are tagged with their index
``_c`` and unioned long-form ``(docID, _c, score)``; a ``row_number()``
window partitioned by ``_c`` makes the depth cut (a ``WindowGroupLimit``
ahead of the exchange: at most depth rows per clause leave a map task) and
normalization stats are window aggregates over the same partition, so no
clause is cached, aggregated apart or joined back. One groupBy pivots the
clauses into columns — one shuffle for any clause count. With
``depth=None`` each clause's stats window runs in one task over all its
matches: the one-task-per-clause contract the rrf depth guard enforces.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F, Window

# HybridQueryBuilder.java:67 — default; live value comes from the
# settings surface ("hybrid_max_sub_queries")
MAX_SUB_QUERIES = 5
MIN_SCORE = 0.001  # MinMaxScoreNormalizationTechnique.java MIN_SCORE
MAX_SCORE = 1.0  # MinMaxScoreNormalizationTechnique.java MAX_SCORE

NORMALIZATIONS = ("min_max", "l2", "z_score", "rrf")
COMBINATIONS = ("arithmetic_mean", "harmonic_mean", "geometric_mean", "rrf")
BOUND_MODES = ("apply", "clip", "ignore")  # bounds/BoundMode.java:18-23


def validate_weights(weights: list[float] | None, n_clauses: int) -> None:
    """``ScoreCombinationUtil.java:120-141``: each weight ∈ [0,1], sum 1.0±0.01."""
    if weights is None:
        return
    if len(weights) != n_clauses:
        raise ValueError("number of weights must match number of clauses")
    if any(w < 0.0 or w > 1.0 for w in weights):
        raise ValueError("all weights must be in [0.0, 1.0]")
    if abs(sum(weights) - 1.0) > 0.01:
        raise ValueError("sum of weights must be 1.0 (±0.01)")


def validate_technique_pair(normalization: str, combination: str) -> None:
    """rrf normalization only pairs with rrf combination
    (``ScoreNormalizationFactory.java:38-44,82-93``)."""
    if normalization not in NORMALIZATIONS:
        raise ValueError(f"unknown normalization {normalization}")
    if combination not in COMBINATIONS:
        raise ValueError(f"unknown combination {combination}")
    if (normalization == "rrf") != (combination == "rrf"):
        raise ValueError("rrf normalization must be paired with rrf combination")


def describe_normalization(
    technique: str,
    lower_bounds: list[tuple[str, float] | None] | None = None,
    upper_bounds: list[tuple[str, float] | None] | None = None,
) -> str:
    """The normalization explanation description string —
    ``"{describe()} normalization of:"`` (``ExplanationUtils.java:36``),
    where min_max ``describe()`` appends bound lists as
    ``", lower bounds [(mode, score), ...]"``
    (``MinMaxScoreNormalizationTechnique.java:155-176``; BoundMode
    ``toString()`` is lowercase)."""
    desc = technique
    for label, bounds in (("lower", lower_bounds), ("upper", upper_bounds)):
        if bounds:
            default = 0.0 if label == "lower" else 1.0  # {Lower,Upper}Bound DEFAULT_*_SCORE
            items = ", ".join(
                f"({m}, {float(v)!r})"
                for m, v in (b if b is not None else ("apply", default) for b in bounds)
            )
            desc += f", {label} bounds [{items}]"
    return f"{desc} normalization of:"


def describe_combination(technique: str, weights: list[float] | None = None) -> str:
    """``"{describe()} combination of:"`` (``ScoreCombiner.java:391-396``);
    with weights, describe() is ``"{name}, weights [w1, w2, ...]"``
    (``ExplanationUtils.java:51-60``, Java ``List<Float>.toString`` shape)."""
    if weights:
        w = ", ".join(f"{float(x)!r}" for x in weights)
        return f"{technique}, weights [{w}] combination of:"
    return f"{technique} combination of:"


def _tag(frames: list[DataFrame], col: str | None = None) -> DataFrame:
    """Per-clause frames → one long ``(docID, _c, score)`` frame tagged by
    clause index. ``col`` names the score column; ``None`` takes each
    frame's first non-docID column."""

    def tagged(i, df):
        score = col or next(c for c in df.columns if c != "docID")
        return df.select("docID", F.lit(i).alias("_c"), F.col(score).alias("score"))

    return reduce(DataFrame.unionByName, [tagged(i, df) for i, df in enumerate(frames)])


def _rank_cut(tagged: DataFrame, depth: int | None, by: tuple[str, ...] = ()) -> DataFrame:
    """Rank each clause (``by`` + ``_c``) by (score desc, docID asc) into
    ``_rn`` and keep its top ``depth`` docs (numHits); ``None`` keeps all.
    Spark plans the cut as a ``WindowGroupLimit`` ahead of the exchange."""
    w = Window.partitionBy(*by, "_c").orderBy(F.desc("score"), F.asc("docID"))
    ranked = tagged.withColumn("_rn", F.row_number().over(w))
    return ranked if depth is None else ranked.where(F.col("_rn") <= int(depth))


def clause_depth_cut(scored: DataFrame, depth: int | None) -> DataFrame:
    """Per-clause collection depth (numHits): keep top ``depth`` docs by
    (score desc, docID asc). ``None`` keeps all matches."""
    if depth is None:
        return scored
    return _rank_cut(scored.withColumn("_c", F.lit(0)), depth).drop("_c", "_rn")


def _effective_bounds(s, mn, mx, lower_bound, upper_bound):
    """Effective min/max under optional bounds — exact branch order of
    ``normalization/bounds/LowerBound.java:determineEffectiveScore`` and
    ``UpperBound.java:determineEffectiveScore``."""
    if lower_bound is None:
        eff_min = mn
    else:
        mode, bv = lower_bound
        b = F.lit(float(bv))
        if mode == "apply":
            eff_min = F.when((mx > b) & (s > b), b).otherwise(mn)
        elif mode == "clip":
            eff_min = F.when(mx < b, mn).otherwise(b)
        elif mode == "ignore":
            eff_min = mn
        else:
            raise ValueError(f"invalid bound mode: {mode}, valid values are: {', '.join(BOUND_MODES)}")
    if upper_bound is None:
        eff_max = mx
    else:
        mode, bv = upper_bound
        b = F.lit(float(bv))
        if mode == "apply":
            eff_max = F.when((mn < b) & (s < b), b).otherwise(mx)
        elif mode == "clip":
            eff_max = F.when(mn > b, mx).otherwise(b)
        elif mode == "ignore":
            eff_max = mx
        else:
            raise ValueError(f"invalid bound mode: {mode}, valid values are: {', '.join(BOUND_MODES)}")
    return eff_min, eff_max


def _min_max_score(s, mn, mx, lower_bound, upper_bound):
    """min_max normalized score under one clause's bounds."""
    eff_min, eff_max = _effective_bounds(s, mn, mx, lower_bound, upper_bound)
    raw = (s - eff_min) / (eff_max - eff_min)
    # normalizeSingleScore branch order (MinMaxScoreNormalizationTechnique
    # .java:258-280): single-score → 1.0; clip-below → MIN_SCORE;
    # clip-above → MAX_SCORE; effMax==effMin → 1.0; raw==0 → MIN_SCORE.
    n = F.when((mx == mn) & (mx == s), F.lit(1.0))
    if lower_bound is not None and lower_bound[0] == "clip":
        n = n.when(s < eff_min, F.lit(MIN_SCORE))
    if upper_bound is not None and upper_bound[0] == "clip":
        n = n.when(s > eff_max, F.lit(MAX_SCORE))
    return n.when(eff_max == eff_min, F.lit(1.0)).otherwise(
        F.when(raw == 0.0, F.lit(MIN_SCORE)).otherwise(raw)
    )


def _normalize_tagged(
    tagged: DataFrame, technique: str, depth: int | None, rank_constant: int,
    lower_bounds: list, upper_bounds: list, by: tuple[str, ...] = (),
) -> DataFrame:
    """(*by, docID, _c, score) → (*by, docID, _c, normalized score): cut
    each clause to ``depth`` and normalize it with its own stats, taken as
    window aggregates over the clause partition on the cut rows (no
    aggregate joined back, so each clause plan is referenced once)."""
    if technique != "min_max" and any(b is not None for b in [*lower_bounds, *upper_bounds]):
        raise ValueError("bounds are only supported by min_max normalization")
    if depth is not None or technique == "rrf":
        tagged = _rank_cut(tagged, depth, by)
    s = F.col("score")
    clause = Window.partitionBy(*by, "_c")
    if technique == "min_max":
        df = tagged.select("*", F.min(s).over(clause).alias("_mn"), F.max(s).over(clause).alias("_mx"))
        mn, mx = F.col("_mn"), F.col("_mx")
        bounds = list(zip(lower_bounds, upper_bounds))
        n = _min_max_score(s, mn, mx, *bounds[0])
        if any(b != bounds[0] for b in bounds):
            n = F.when(F.col("_c") == 0, n)
            for i, (lb, ub) in enumerate(bounds[1:], start=1):
                n = n.when(F.col("_c") == i, _min_max_score(s, mn, mx, lb, ub))
    elif technique == "l2":
        df = tagged.select("*", F.sqrt(F.sum(s * s).over(clause)).alias("_norm"))
        n = F.when(F.col("_norm") == 0.0, F.lit(0.0)).otherwise(s / F.col("_norm"))
    elif technique == "z_score":
        df = tagged.select(
            "*",
            F.avg(s).over(clause).alias("_mean"),
            F.coalesce(F.stddev_samp(s).over(clause), F.lit(0.0)).alias("_sd"),
            F.max(s).over(clause).alias("_mx"),
            F.min(s).over(clause).alias("_mn"),
        )
        z = (s - F.col("_mean")) / F.col("_sd")
        n = (
            F.when(s == F.col("_mean"), F.col("_mx"))  # s==mean → clause max
            .when(F.col("_sd") == 0.0, F.col("_mn"))  # sd==0 → clause min
            .otherwise(F.when(z <= 0.0, F.lit(MIN_SCORE)).otherwise(z))
        )
    elif technique == "rrf":
        # 1/(rank_constant + pos + 1), BigDecimal scale 10 HALF_UP
        # (RRFNormalizationTechnique.java:136-138); rank within the clause's
        # collected order = score desc, docID asc
        df = tagged
        n = F.round(F.lit(1.0) / (F.lit(rank_constant) + F.col("_rn")), 10)
    else:
        raise ValueError(technique)
    return df.select(*by, "docID", "_c", n.alias("score"))


def normalize_clause(
    scored: DataFrame,
    technique: str,
    rank_constant: int = 60,
    lower_bound: tuple[str, float] | None = None,
    upper_bound: tuple[str, float] | None = None,
) -> DataFrame:
    """(docID, score) → (docID, nscore), reference edge cases included.

    ``lower_bound``/``upper_bound``: optional ("apply"|"clip"|"ignore", value)
    pairs, min_max only — ``MinMaxScoreNormalizationTechnique.java:258-295``
    with the bound substitution/clip rules from ``normalization/bounds/``.
    """
    tagged = _tag([scored], "score")
    normalized = _normalize_tagged(tagged, technique, None, rank_constant, [lower_bound], [upper_bound])
    return normalized.select("docID", F.col("score").alias("nscore"))


def _combine_tagged(normalized: DataFrame, n: int, technique: str, weights: list[float] | None) -> DataFrame:
    """(docID, _c, score) over ``n`` clauses → (docID, score, s_0..s_{n-1}),
    combined per doc over zero-filled per-clause score columns."""
    validate_weights(weights, n)
    w = weights or [1.0] * n
    # one shuffle: pivot clause scores into columns, zero-fill absent
    wide = normalized.groupBy("docID").agg(
        *[
            F.coalesce(F.sum(F.when(F.col("_c") == i, F.col("score"))), F.lit(0.0)).alias(f"s_{i}")
            for i in range(n)
        ]
    )
    cols = [F.col(f"s_{i}") for i in range(n)]
    if technique == "arithmetic_mean":
        # s >= 0 always holds post-zero-fill → all weights in denominator
        # (ArithmeticMeanScoreCombinationTechnique.java:42-60)
        num = reduce(lambda a, b: a + b, [c * F.lit(wi) for c, wi in zip(cols, w)])
        den = F.lit(float(sum(w)))
        comb = F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)
    elif technique == "harmonic_mean":
        # zeros skipped (HarmonicMeanScoreCombinationTechnique.java:41-56)
        sw = reduce(lambda a, b: a + b, [F.when(c > 0.0, F.lit(wi)).otherwise(F.lit(0.0)) for c, wi in zip(cols, w)])
        sh = reduce(lambda a, b: a + b, [F.when(c > 0.0, F.lit(wi) / c).otherwise(F.lit(0.0)) for c, wi in zip(cols, w)])
        comb = F.when(sh > 0.0, sw / sh).otherwise(F.lit(0.0))
    elif technique == "geometric_mean":
        # exp(Σ w·ln s / Σ w) over s>0 (GeometricMeanScoreCombinationTechnique.java:43-59)
        sw = reduce(lambda a, b: a + b, [F.when(c > 0.0, F.lit(wi)).otherwise(F.lit(0.0)) for c, wi in zip(cols, w)])
        sl = reduce(lambda a, b: a + b, [F.when(c > 0.0, F.lit(wi) * F.log(c)).otherwise(F.lit(0.0)) for c, wi in zip(cols, w)])
        comb = F.when(sw == 0.0, F.lit(0.0)).otherwise(F.exp(sl / sw))
    elif technique == "rrf":
        # weighted SUM, not mean (RRFScoreCombinationTechnique.java:39-62)
        comb = reduce(lambda a, b: a + b, [c * F.lit(wi) for c, wi in zip(cols, w)])
    else:
        raise ValueError(technique)
    return wide.select("docID", comb.alias("score"), *[F.col(f"s_{i}") for i in range(n)])


def combine_clauses(
    normalized: list[DataFrame],
    technique: str = "arithmetic_mean",
    weights: list[float] | None = None,
) -> DataFrame:
    """Per-doc combination over zero-filled per-clause score columns."""
    return _combine_tagged(_tag(normalized), len(normalized), technique, weights)


def hybrid_raw_sum(clause_scores: list[DataFrame]) -> DataFrame:
    """Aggregation-path scoring (§2.7): each doc matched by any clause is
    seen once with score = SUM of raw sub-query scores
    (``query/HybridQueryScorer.java:104-120``, ``HybridSubQueryScorer.java:28-36``).
    """
    return _tag(clause_scores, "score").groupBy("docID").agg(F.sum("score").alias("score"))


def hybrid_batch_topk(
    engine,
    batches: dict[int, list[list[str]]],
    k: int = 10,
    depth: int | None = 50,
) -> DataFrame:
    """MANY hybrid requests (min_max + arithmetic_mean, the reference's
    default processor pair) in ONE grouped plan → (qid, docID, score).

    Every request's lexical clauses are scored in one
    :func:`bm25_batch_scores` pass (one postings scan), then depth-cut and
    min-max normalized by the same clause windows as :func:`hybrid_search`
    (partitioned by qid too) and mean-combined per (qid, docID) — the
    set-oriented restatement of the per-request
    NormalizationProcessor pipeline for offline eval sets and query logs.
    Per-request numbers are IEEE-identical to :func:`hybrid_search`: the
    pivot into fixed per-clause columns keeps the combine's add order
    left-associated exactly like :func:`combine_clauses`, and absent
    clauses zero-fill (they still count in the arithmetic-mean
    denominator, ``ScoreCombiner`` semantics).

    Scale shape: query tables broadcast; the corpus-sized work is one
    postings join + one (qid, clause, docID) aggregation; everything
    after the depth cut is bounded by Q × clauses × depth rows."""
    from neural_search_spark import settings
    from neural_search_spark.search.bm25 import bm25_batch_scores

    max_sub = int(settings.get("hybrid_max_sub_queries"))
    if any(not 1 <= len(clauses) <= max_sub for clauses in batches.values()):
        raise ValueError(f"hybrid query supports 1..{max_sub} sub-queries")
    spark = engine.spark
    if not any(t for clauses in batches.values() for terms in clauses for t in terms):
        return spark.range(0).select(
            F.col("id").cast("int").alias("qid"),
            F.col("id").alias("docID"),
            F.lit(0.0).alias("score"),
        )
    # every clause is one batch query keyed qid * max_sub + clause index
    keyed = {
        int(qid) * max_sub + ci: terms for qid, clauses in batches.items() for ci, terms in enumerate(clauses)
    }
    scored = bm25_batch_scores(spark, engine.postings, engine.stats, keyed)
    clause_scores = scored.select(
        F.floor(F.col("qid") / max_sub).cast("int").alias("qid"),
        F.pmod("qid", F.lit(max_sub)).alias("_c"),
        "docID",
        "score",
    )
    normalized = _normalize_tagged(clause_scores, "min_max", depth, 60, [None], [None], by=("qid",))
    maxc = max(len(c) for c in batches.values())
    wide = normalized.groupBy("qid", "docID").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("_c") == i, F.col("score"))), F.lit(0.0)
            ).alias(f"s_{i}")
            for i in range(maxc)
        ]
    )
    nclause = F.broadcast(
        spark.createDataFrame(
            [(int(qid), float(len(c))) for qid, c in sorted(batches.items())],
            "qid int, _nc double",
        )
    )
    num = reduce(lambda a, b: a + b, [F.col(f"s_{i}") for i in range(maxc)])
    # round-then-cut: the per-qid window orders by the ROUNDED score so the
    # engine and the DuckDB oracle (which rounds before ORDER BY/LIMIT)
    # share one cut contract — same reasoning as bm25_batch_topk; cutting
    # on the unrounded score can pick different docs on 4dp boundary ties.
    comb = wide.join(nclause, "qid").select(
        "qid", "docID", F.round(num / F.col("_nc"), 4).alias("score")
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docID").asc()
    )
    return (
        comb.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= int(k))
        .select("qid", "docID", "score")
        .orderBy("qid", F.col("score").desc(), "docID")
    )


def hybrid_search(
    clause_scores: list[DataFrame],
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    k: int = 10,
    depth: int | None = None,
    rank_constant: int = 60,
    post_filter_docs: DataFrame | None = None,
    collapse: tuple[DataFrame, str] | None = None,
    keep_clause_columns: bool = False,
    lower_bounds: list[tuple[str, float] | None] | None = None,
    upper_bounds: list[tuple[str, float] | None] | None = None,
) -> DataFrame:
    """Full hybrid pipeline over pre-scored clauses → top-k (docID, score).

    ``clause_scores``: per-clause (docID, score) DataFrames (raw scores).
    ``depth``: per-clause collection depth (pagination_depth ?? size).
    ``post_filter_docs``: docID membership filter applied after scoring,
    before the final cut (post_filter semantics).
    ``collapse``: (docs_df, field) — keep the best doc per field value.
    ``lower_bounds``/``upper_bounds``: per-clause min_max bounds, one entry
    (or None) per clause (``MinMaxScoreNormalizationTechnique.java:52-64``).
    """
    from neural_search_spark import settings

    max_sub = int(settings.get("hybrid_max_sub_queries"))
    if not 1 <= len(clause_scores) <= max_sub:
        raise ValueError(f"hybrid query supports 1..{max_sub} sub-queries")
    validate_technique_pair(normalization, combination)
    if normalization == "rrf" and depth is None:
        # rrf ranks via a row_number window per clause — safe ONLY over a
        # depth-cut clause (<= depth rows through one task); unbounded
        # input would funnel the whole clause through a single task, so
        # the scale contract is enforced, not assumed
        raise ValueError("rrf normalization requires a per-clause depth (numHits) cut")
    # stats-API event counters (stats/events/EventStatName.java analog)
    from neural_search_spark import stats as _stats

    # EventStatName.java counters: the normalization processor runs once
    # per hybrid request; techniques map to their typed counters (rrf is
    # the rank-based processor + comb_rrf pair in the reference)
    _stats.record_event("hybrid_query_requests")
    if normalization == "rrf":
        _stats.record_event("rank_based_normalization_processor_executions")
    else:
        _stats.record_event("normalization_processor_executions")
        _stats.record_event(
            {
                "min_max": "norm_minmax_executions",
                "l2": "norm_l2_executions",
                "z_score": "norm_zscore_executions",
            }[normalization]
        )
    _stats.record_event(
        {
            "arithmetic_mean": "comb_arithmetic_executions",
            "geometric_mean": "comb_geometric_executions",
            "harmonic_mean": "comb_harmonic_executions",
            "rrf": "comb_rrf_executions",
        }[combination]
    )
    for bounds in (lower_bounds, upper_bounds):
        if bounds is not None and len(bounds) != len(clause_scores):
            raise ValueError("bounds list must have one entry per sub-query")
    lbs = lower_bounds or [None] * len(clause_scores)
    ubs = upper_bounds or [None] * len(clause_scores)
    # one plan: each clause is referenced once (tag → window cut and stats
    # → pivot), so no clause needs caching to avoid running twice
    normalized = _normalize_tagged(
        _tag(clause_scores, "score"), normalization, depth, rank_constant, lbs, ubs
    )
    combined = _combine_tagged(normalized, len(clause_scores), combination, weights)
    if post_filter_docs is not None:
        combined = combined.join(post_filter_docs.select("docID"), "docID", "semi")
    if collapse is not None:
        docs_df, field = collapse
        combined = combined.join(docs_df.select("docID", field), "docID")
        w = Window.partitionBy(field).orderBy(F.desc("score"), F.asc("docID"))
        combined = (
            combined.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", field)
        )
    out_cols = ["docID", "score"] + (
        [c for c in combined.columns if c.startswith("s_")] if keep_clause_columns else []
    )
    return combined.select(*out_cols).orderBy(F.desc("score"), F.asc("docID")).limit(k)
