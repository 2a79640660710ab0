"""O7 — Bayes-factor / match-weight projection.

reference: splink/predict.py::predict_from_comparison_vectors_sqls;
TF adjustment: splink/comparison_level.py::ComparisonLevel
(_tf_adjustment_sql).

Fellegi–Sunter in log2 space (SURVEY.md §1.3):

    match_weight = log2(prior_odds) + sum_c log2(m_{c,gamma_c} / u_{c,gamma_c})
    match_probability = 2^w / (1 + 2^w)

Spark-first: per comparison a ``F.when`` cascade maps the (small-int)
gamma to a *literal* log2 Bayes factor — the m/u values are driver-side
model constants, so the whole projection is constant-folded column
arithmetic inside whole-stage codegen. Zero Python, zero shuffle.

TF adjustment (exact-match levels on low-cardinality columns): multiply
the level's Bayes factor by (u / tf(value))^tf_weight where tf(value) is
the term frequency of the shared value, clamped below by
tf_minimum_u_value — rarer values make an exact match more significant.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from splink_spark.model import NULL_GAMMA, Comparison, Settings
from splink_spark.operators.tf import tf_column_name


def _log2_bf_literal(comp: Comparison, gamma: int) -> float:
    bf = comp.level_for_gamma(gamma).bayes_factor()
    if bf <= 0:
        return float("-inf")
    return math.log2(bf)


def bayes_factor_expr(comp: Comparison) -> Column:
    """log2 Bayes factor for one comparison as a gamma→literal mapping."""
    expr = F.when(F.col(comp.gamma_column) == NULL_GAMMA, F.lit(0.0))
    for g in range(comp.num_scored_levels):
        expr = expr.when(
            F.col(comp.gamma_column) == g, F.lit(_log2_bf_literal(comp, g))
        )
    return expr.otherwise(F.lit(0.0))


def tf_adjustment_expr(comp: Comparison) -> Column:
    """Additional log2 weight from term-frequency adjustment.

    Applies on levels with ``tf_adjustment_column`` set when the pair
    landed in that level: log2( (u / max(tf, tf_min))^tf_weight ) using
    the tf of the matching value (both sides equal on a TF-adjusted
    exact-match level; we take the greater tf of the two sides as the
    conservative choice when they differ, matching the reference's use of
    the l/r tf pair).
    """
    out = F.lit(0.0)
    for lv in comp.scored_levels:
        if lv.tf_adjustment_column is None:
            continue
        g = comp.gamma_of(lv)
        tf_l = F.col(f"{tf_column_name(lv.tf_adjustment_column)}_l")
        tf_r = F.col(f"{tf_column_name(lv.tf_adjustment_column)}_r")
        tf_val = F.greatest(tf_l, tf_r)
        if lv.tf_minimum_u_value > 0:
            tf_val = F.greatest(tf_val, F.lit(lv.tf_minimum_u_value))
        u = F.lit(lv.u_probability)
        adj = F.log2(u / tf_val) * F.lit(lv.tf_adjustment_weight)
        out = out + F.when(
            (F.col(comp.gamma_column) == g) & tf_l.isNotNull() & tf_r.isNotNull(),
            adj,
        ).otherwise(F.lit(0.0))
    return out


def predict_from_comparison_vectors(
    vectors: DataFrame,
    settings: Settings,
    threshold_match_probability: float | None = None,
    threshold_match_weight: float | None = None,
) -> DataFrame:
    """Append bf_<name>, match_weight, match_probability; optional filter.

    reference: splink/predict.py::predict_from_comparison_vectors_sqls
    (CTE __splink__df_match_weight_parts then __splink__df_predict).
    """
    out = vectors
    bf_cols = []
    for comp in settings.comparisons:
        name = f"bf_{comp.output_column_name}"
        expr = bayes_factor_expr(comp)
        if any(lv.tf_adjustment_column for lv in comp.scored_levels):
            expr = expr + tf_adjustment_expr(comp)
        out = out.withColumn(name, expr)
        bf_cols.append(name)

    w = F.lit(settings.prior_match_weight)
    for name in bf_cols:
        w = w + F.col(name)
    out = out.withColumn("match_weight", w)
    out = out.withColumn(
        "match_probability",
        F.pow(F.lit(2.0), F.col("match_weight"))
        / (F.lit(1.0) + F.pow(F.lit(2.0), F.col("match_weight"))),
    )
    if threshold_match_weight is not None:
        out = out.filter(F.col("match_weight") >= threshold_match_weight)
    if threshold_match_probability is not None:
        out = out.filter(F.col("match_probability") >= threshold_match_probability)
    return out.drop(*bf_cols)


def match_weight_breakdown(
    vectors: DataFrame, settings: Settings, uid: str = "unique_id"
) -> DataFrame:
    """O23 — waterfall-chart DATA: per-pair, per-comparison log2-BF
    contributions in long format (one row per comparison per pair,
    plus the prior row), ordered by bar_sort_order. This is exactly
    the record set the reference's waterfall chart renders
    (reference: splink/charts.py::waterfall_chart /
    splink/predict.py match-weight decomposition); chart JSON itself
    stays out of scope (SURVEY §2.1).

    One projection + stack() — C+1 output rows per pair, no joins.
    """
    comps = settings.comparisons
    pairs = []
    # prior term
    pairs.append(
        (
            F.lit("prior"),
            F.lit(-1),
            F.lit(float(settings.prior_match_weight)),
        )
    )
    for comp in comps:
        pairs.append(
            (
                F.lit(comp.output_column_name),
                F.col(comp.gamma_column),
                bayes_factor_expr(comp),
            )
        )
    entries = F.array(
        *[
            F.struct(
                name.alias("comparison"),
                gamma.cast("int").alias("gamma_value"),
                bf.cast("double").alias("log2_bayes_factor"),
            )
            for name, gamma, bf in pairs
        ]
    )
    exploded = vectors.select(
        f"{uid}_l",
        f"{uid}_r",
        F.posexplode(entries).alias("bar_sort_order", "e"),
    )
    return exploded.select(
        f"{uid}_l",
        f"{uid}_r",
        "bar_sort_order",
        "e.comparison",
        "e.gamma_value",
        "e.log2_bayes_factor",
    )


def match_weight_breakdown_sql(
    settings: Settings, vectors_rel: str, uid: str = "unique_id"
) -> str:
    """ANSI mirror of :func:`match_weight_breakdown` (DuckDB oracle):
    UNION ALL of one SELECT per bar, same literals and CASE structure
    as bayes_factor_sql."""
    parts = [
        f"SELECT {uid}_l, {uid}_r, 0 AS bar_sort_order, "
        f"'prior' AS comparison, -1 AS gamma_value, "
        f"CAST({float(settings.prior_match_weight)!r} AS DOUBLE)"
        f" AS log2_bayes_factor FROM {vectors_rel}"
    ]
    for i, comp in enumerate(settings.comparisons):
        parts.append(
            f"SELECT {uid}_l, {uid}_r, {i + 1} AS bar_sort_order, "
            f"'{comp.output_column_name}' AS comparison, "
            f"CAST({comp.gamma_column} AS INT) AS gamma_value, "
            f"({bayes_factor_sql(comp)}) AS log2_bayes_factor "
            f"FROM {vectors_rel}"
        )
    return " UNION ALL ".join(parts)


def bayes_factor_sql(comp: Comparison) -> str:
    """ANSI CASE mapping gamma→log2-BF literal (DuckDB oracle).

    Literals are CAST to DOUBLE: DuckDB parses bare decimal literals as
    DECIMAL and would do exact-decimal (not IEEE) arithmetic, diverging
    from Spark's doubles in the last ulps.
    """
    parts = [f"CASE {comp.gamma_column}"]
    parts.append(f"WHEN {NULL_GAMMA} THEN CAST(0.0 AS DOUBLE)")
    for g in range(comp.num_scored_levels):
        parts.append(
            f"WHEN {g} THEN CAST({_log2_bf_literal(comp, g)!r} AS DOUBLE)"
        )
    parts.append("ELSE CAST(0.0 AS DOUBLE) END")
    return " ".join(parts)


def tf_adjustment_sql(comp: Comparison) -> str:
    """ANSI mirror of :func:`tf_adjustment_expr` (DuckDB oracle): the
    same sub-expression structure (greatest of the two tf sides, clamped
    by tf_minimum_u_value, log2 of u/tf times the weight, summed from a
    0.0 base) so the doubles track the Spark side; callers should still
    round derived weight columns (log2 is evaluated by each engine's
    libm)."""
    parts = ["CAST(0.0 AS DOUBLE)"]
    for lv in comp.scored_levels:
        if lv.tf_adjustment_column is None:
            continue
        g = comp.gamma_of(lv)
        tfc = tf_column_name(lv.tf_adjustment_column)
        tf_val = f"greatest({tfc}_l, {tfc}_r)"
        if lv.tf_minimum_u_value > 0:
            tf_val = (
                f"greatest({tf_val}, "
                f"CAST({lv.tf_minimum_u_value!r} AS DOUBLE))"
            )
        adj = (
            f"log2(CAST({lv.u_probability!r} AS DOUBLE) / {tf_val}) * "
            f"CAST({lv.tf_adjustment_weight!r} AS DOUBLE)"
        )
        parts.append(
            f"(CASE WHEN ({comp.gamma_column} = {g}) "
            f"AND {tfc}_l IS NOT NULL AND {tfc}_r IS NOT NULL "
            f"THEN {adj} ELSE CAST(0.0 AS DOUBLE) END)"
        )
    return " + ".join(parts)


def match_weight_sql(settings: Settings) -> str:
    """ANSI expression for match_weight over gamma columns (oracle).
    Comparisons with TF-adjusted levels include the adjustment term,
    mirroring :func:`predict_from_comparison_vectors`."""
    terms = [f"CAST({settings.prior_match_weight!r} AS DOUBLE)"]
    for c in settings.comparisons:
        bf = f"({bayes_factor_sql(c)})"
        if any(lv.tf_adjustment_column for lv in c.scored_levels):
            bf = f"({bf} + ({tf_adjustment_sql(c)}))"
        terms.append(bf)
    return " + ".join(terms)


def keep_top_k_candidates(
    predictions: DataFrame, k: int = 5, uid: str = "unique_id"
) -> DataFrame:
    """Guardrail for skewed records: keep only each left record's k
    best-scoring candidate pairs (deterministic tie-break on the right
    id). Not a reference operator — SURVEY §2.3 lists it as the
    standard cap against hot records exploding downstream stages at
    web scale.

    Plan: one window per ``uid_l`` partition; Spark runs it as a
    partial top-k (rank filter pushed into the sort) — no global sort.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(f"{uid}_l").orderBy(
        F.desc("match_weight"), F.col(f"{uid}_r")
    )
    return predictions.withColumn(
        "candidate_rank", F.row_number().over(w)
    ).filter(F.col("candidate_rank") <= k)
