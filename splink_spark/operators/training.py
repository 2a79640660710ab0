"""O8–O14 — parameter estimation: u-sampling, lambda, m-from-labels, EM.

reference:
  O8  splink/estimate_u.py::estimate_u_values
  O9  splink/expectation_maximisation.py::compute_new_parameters_sql
      (agreement-pattern histogram CTE)
  O10/O11 splink/expectation_maximisation.py::expectation_maximisation,
      compute_proportions_for_new_parameters
  O12 splink/em_training_session.py::EMTrainingSession
  O13 splink/m_training.py::estimate_m_values_from_label_column
  O14 splink/estimate_prob_two_rr_match.py::
      estimate_probability_two_random_records_match

Spark-first design (NOT a port): the expensive part — computing
comparison vectors over pairs — is distributed; the EM loop itself runs
driver-side in numpy over the agreement-pattern histogram
(``groupBy(*gammas).count()``, at most prod(|levels|) ≈ thousands of
rows). The reference re-executes SQL per EM iteration; collecting the
histogram once and iterating in numpy removes every per-iteration
cluster round-trip. One collect per training session, total.

Sampling for u is deterministic (hash-based Bernoulli per side with a
seed), so checkpoint resume and tests are stable — the reference uses
backend random() (SURVEY.md §7.3(e)).
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from splink_spark.model import NULL_GAMMA, BlockingRule, Settings
from splink_spark.operators.blocking import block_using_rules
from splink_spark.operators.tf import tf_column_name
from splink_spark.operators.vectors import compute_comparison_vectors


# ---------------------------------------------------------------------------
# O9 — agreement-pattern histogram
# ---------------------------------------------------------------------------

def gamma_histogram(vectors: DataFrame, settings: Settings) -> DataFrame:
    """GROUP BY gamma_1..gamma_n, COUNT(*) — partial+final hash agg."""
    return vectors.groupBy(*settings.gamma_columns).agg(
        F.count(F.lit(1)).alias("pattern_count")
    )


def collect_histogram(
    vectors: DataFrame, settings: Settings
) -> tuple[np.ndarray, np.ndarray]:
    """Collect the histogram: (patterns[n, C] int array, counts[n])."""
    rows = gamma_histogram(vectors, settings).collect()
    if not rows:
        return np.zeros((0, len(settings.comparisons)), dtype=np.int64), np.zeros(
            0, dtype=np.float64
        )
    patterns = np.array(
        [[r[g] for g in settings.gamma_columns] for r in rows], dtype=np.int64
    )
    counts = np.array([r["pattern_count"] for r in rows], dtype=np.float64)
    return patterns, counts


# ---------------------------------------------------------------------------
# O10/O11 — EM core (pure numpy; unit-testable without Spark)
# ---------------------------------------------------------------------------

@dataclass
class EMResult:
    m: list[np.ndarray]  # per comparison: array[num_levels] of m probs
    u: list[np.ndarray]
    lam: float
    iterations: int
    converged: bool
    history: list[float]  # max param delta per iteration
    # per-iteration parameter snapshots (lam, m, u) — the data behind
    # the reference's parameter-estimate / EM-convergence charts
    # (reference: splink/charts.py::m_u_parameters_chart)
    param_history: list[dict] = field(default_factory=list)
    # comparisons fixed under the training rule (their m/u untouched);
    # the Linker uses this to average ONLY trained comparisons across
    # sessions (reference: splink/em_training_session.py)
    fixed_comparisons: frozenset[int] = frozenset()


def em_fit(
    patterns: np.ndarray,
    counts: np.ndarray,
    num_levels: list[int],
    m_init: list[np.ndarray],
    u_init: list[np.ndarray],
    lam_init: float,
    fixed_u: bool = False,
    fixed_m: bool = False,
    fixed_comparisons: frozenset[int] = frozenset(),
    tol: float = 1e-4,
    max_iterations: int = 25,
) -> EMResult:
    """Expectation–maximisation over the agreement-pattern histogram.

    E-step: P(match|gamma) = lam * prod m / (lam * prod m + (1-lam) * prod u),
    with gamma = -1 (null) contributing factor 1 on both sides.
    M-step: m_{c,k} = sum_g P * cnt * [g_c = k] / sum_g P * cnt * [g_c != -1];
    u analogous with (1 - P); lam = sum P * cnt / sum cnt.

    ``fixed_comparisons`` are excluded from both the product and the
    update (an EM training session fixes comparisons whose columns
    appear in the training blocking rule — their gamma is constant under
    the rule and carries no signal;
    reference: splink/em_training_session.py).
    ``fixed_u`` keeps u at its (random-sampling) estimate and only
    trains m — splink's ``fix_u_probabilities`` option. ``fixed_m`` is
    the mirror ``fix_m_probabilities`` option: m stays at its (label-
    derived) estimate and only u and lambda train.
    """
    C = len(num_levels)
    m = [x.astype(np.float64).copy() for x in m_init]
    u = [x.astype(np.float64).copy() for x in u_init]
    lam = float(lam_init)
    n = patterns.shape[0]
    active = [c for c in range(C) if c not in fixed_comparisons]
    history: list[float] = []
    eps = 1e-30

    if n == 0:
        return EMResult(
            m, u, lam, 0, True, history, [], fixed_comparisons
        )

    def snapshot(it: int) -> dict:
        return {
            "iteration": it,
            "lam": lam,
            "m": [x.tolist() for x in m],
            "u": [x.tolist() for x in u],
        }

    param_history: list[dict] = [snapshot(0)]

    for it in range(max_iterations):
        # E-step (vectorized over patterns)
        log_m = np.zeros(n)
        log_u = np.zeros(n)
        for c in active:
            g = patterns[:, c]
            valid = g != NULL_GAMMA
            log_m[valid] += np.log(np.maximum(m[c][g[valid]], eps))
            log_u[valid] += np.log(np.maximum(u[c][g[valid]], eps))
        a = lam * np.exp(log_m)
        b = (1.0 - lam) * np.exp(log_u)
        p = a / np.maximum(a + b, eps)

        # M-step
        delta = 0.0
        wm = p * counts
        wu = (1.0 - p) * counts
        for c in active:
            g = patterns[:, c]
            valid = g != NULL_GAMMA
            denom_m = wm[valid].sum()
            denom_u = wu[valid].sum()
            if not fixed_m:
                new_m = np.array(
                    [
                        wm[valid & (g == k)].sum() / max(denom_m, eps)
                        for k in range(num_levels[c])
                    ]
                )
                delta = max(delta, float(np.abs(new_m - m[c]).max()))
                m[c] = new_m
            if not fixed_u:
                new_u = np.array(
                    [
                        wu[valid & (g == k)].sum() / max(denom_u, eps)
                        for k in range(num_levels[c])
                    ]
                )
                delta = max(delta, float(np.abs(new_u - u[c]).max()))
                u[c] = new_u
        new_lam = float(wm.sum() / max(counts.sum(), eps))
        delta = max(delta, abs(new_lam - lam))
        lam = new_lam
        history.append(delta)
        param_history.append(snapshot(it + 1))
        if delta < tol:
            return EMResult(
                m, u, lam, it + 1, True, history, param_history,
                fixed_comparisons,
            )
    return EMResult(
        m, u, lam, max_iterations, False, history, param_history,
        fixed_comparisons,
    )


# ---------------------------------------------------------------------------
# O8 — u estimation from random pairs
# ---------------------------------------------------------------------------

def deterministic_sample(
    df: DataFrame, fraction: float, uid: str, seed: int = 42
) -> DataFrame:
    """Hash-based Bernoulli sample: stable across runs and resumes.

    The seed is passed as a second xxhash64 ARGUMENT (never added to the
    id): arithmetic on a string uid would throw under ANSI mode or hash
    NULL silently, keeping all rows and exploding the downstream cross
    join to n² pairs.
    """
    if fraction >= 1.0:
        return df
    buckets = 1_000_000
    keep = int(fraction * buckets)
    return df.filter(
        F.pmod(F.xxhash64(F.col(uid), F.lit(seed)), F.lit(buckets)) < keep
    )


def estimate_u(
    df: DataFrame,
    settings: Settings,
    max_pairs: int = 1_000_000,
    seed: int = 42,
) -> list[np.ndarray]:
    """u_{c,k} = share of level k among random (almost surely non-match)
    pairs. Sample each side so that sampled_n^2 / 2 ~= max_pairs, then
    cross-join with uid ordering.

    reference: splink/estimate_u.py::estimate_u_values (max_pairs default
    1e6).
    """
    n = df.count()
    total_pairs = n * (n - 1) / 2
    if total_pairs <= max_pairs:
        sampled = df
    else:
        target_n = int((2.0 * max_pairs) ** 0.5) + 1
        sampled = deterministic_sample(df, target_n / n, settings.uid, seed)

    uid = settings.uid
    pairs = (
        sampled.alias("l")
        .join(
            sampled.alias("r"),
            F.expr(f"l.{uid} < r.{uid}"),
            "inner",
        )
        .select(
            F.col(f"l.{uid}").alias(f"{uid}_l"),
            F.col(f"r.{uid}").alias(f"{uid}_r"),
            *itertools.chain.from_iterable(
                (
                    F.col(f"l.{c}").alias(f"{c}_l"),
                    F.col(f"r.{c}").alias(f"{c}_r"),
                )
                for c in pair_columns(settings)
            ),
        )
    )
    vectors = compute_comparison_vectors(pairs, settings)
    patterns, counts = collect_histogram(vectors, settings)
    return _level_shares(patterns, counts, settings)


def _level_shares(
    patterns: np.ndarray, counts: np.ndarray, settings: Settings
) -> list[np.ndarray]:
    """Per-comparison share of each scored level among non-null rows —
    the common epilogue of estimate_u / m-from-labels (the reference's
    compute_proportions_for_new_parameters over a one-class histogram)."""
    out: list[np.ndarray] = []
    for ci, comp in enumerate(settings.comparisons):
        K = comp.num_scored_levels
        g = patterns[:, ci]
        valid = g != NULL_GAMMA
        denom = counts[valid].sum()
        if denom == 0:
            out.append(np.full(K, 1.0 / K))
            continue
        out.append(
            np.array(
                [counts[valid & (g == k)].sum() / denom for k in range(K)]
            )
        )
    return out


def pair_columns(
    settings: Settings, tf_columns: Sequence[str] = ()
) -> list[str]:
    """The record columns a pair row carries (as ``<c>_l`` / ``<c>_r``):
    every comparison input column, then the TF lookup column of each of
    ``tf_columns`` — the ones the input frame has joined on."""
    cols: list[str] = []
    for comp in settings.comparisons:
        for c in comp.input_columns:
            if c not in cols:
                cols.append(c)
    for c in tf_columns:
        if tf_column_name(c) not in cols:
            cols.append(tf_column_name(c))
    return cols


# ---------------------------------------------------------------------------
# O14 — lambda from deterministic rules
# ---------------------------------------------------------------------------

def estimate_probability_two_random_records_match(
    df: DataFrame,
    deterministic_rules: list[BlockingRule],
    recall: float,
    uid: str = "unique_id",
) -> float:
    """count(pairs under OR of rules) / recall / total-pair-count.

    reference: splink/estimate_prob_two_rr_match.py.
    """
    if not 0.0 < recall <= 1.0:
        raise ValueError("recall must be in (0, 1]")
    n = df.count()
    total_pairs = n * (n - 1) / 2
    matched = block_using_rules(df, deterministic_rules, uid=uid).count()
    return min(1.0, (matched / recall) / total_pairs)


# ---------------------------------------------------------------------------
# O13 — m from labels
# ---------------------------------------------------------------------------

def estimate_m_from_label_column(
    df: DataFrame, settings: Settings, label_column: str
) -> list[np.ndarray]:
    """Block on label-column equality (ground-truth pairs) and measure
    level shares => direct m estimates.

    reference: splink/m_training.py::estimate_m_values_from_label_column.
    """
    uid = settings.uid
    rule = BlockingRule(rule=f"l.{label_column} = r.{label_column}")
    pairs = block_using_rules(
        df, [rule], uid=uid, retain_columns=pair_columns(settings)
    )
    vectors = compute_comparison_vectors(pairs, settings)
    patterns, counts = collect_histogram(vectors, settings)
    return _level_shares(patterns, counts, settings)


def estimate_m_from_pairwise_labels(
    df: DataFrame, settings: Settings, labels: DataFrame
) -> list[np.ndarray]:
    """Direct m estimates from a labelled *pair* table.

    ``labels`` has columns ``<uid>_l`` / ``<uid>_r`` (plus optionally
    ``clerical_match_score`` in [0, 1]; rows with score < 0.5 are
    dropped, matching the reference's treatment of uncertain labels).
    Each labelled match pair is joined back to the records (two hash
    joins on the uid — Catalyst broadcasts the label side when small),
    its comparison vector computed, and level shares among non-null
    gammas taken as m.

    reference: splink/m_from_labels.py::estimate_m_from_pairwise_labels.
    """
    uid = settings.uid
    if "clerical_match_score" in labels.columns:
        labels = labels.filter(F.col("clerical_match_score") >= 0.5)
    cols = pair_columns(settings)
    left = df.select(
        F.col(uid).alias(f"{uid}_l"),
        *[F.col(c).alias(f"{c}_l") for c in cols],
    )
    right = df.select(
        F.col(uid).alias(f"{uid}_r"),
        *[F.col(c).alias(f"{c}_r") for c in cols],
    )
    pairs = (
        labels.select(f"{uid}_l", f"{uid}_r")
        .join(left, f"{uid}_l")
        .join(right, f"{uid}_r")
    )
    vectors = compute_comparison_vectors(pairs, settings)
    patterns, counts = collect_histogram(vectors, settings)
    return _level_shares(patterns, counts, settings)


# ---------------------------------------------------------------------------
# O12 — EM training session
# ---------------------------------------------------------------------------

def estimate_parameters_using_em(
    df: DataFrame,
    settings: Settings,
    training_rule: BlockingRule,
    fix_u: bool = False,
    fix_m: bool = False,
) -> EMResult:
    """One EM training session under a training blocking rule.

    Comparisons whose input columns are all read by the rule (as
    ``l.<c>`` / ``r.<c>``) are fixed (their gamma is constant under the
    rule). The session prior is adjusted for the blocked subpopulation
    by multiplying prior odds with the fixed comparisons' exact-match
    Bayes factors
    (reference: splink/em_training_session.py::
    _blocking_adjusted_probability_two_random_records_match).
    Trained m/u are written back into ``settings`` in place for the
    non-fixed comparisons.
    """
    uid = settings.uid
    fixed = {
        ci
        for ci, comp in enumerate(settings.comparisons)
        if comp.input_columns
        and set(comp.input_columns) <= training_rule.columns
    }

    # Blocking-adjusted prior: multiply prior odds by the BF of the level
    # the training rule forces for each fixed comparison (its top level).
    lam = settings.probability_two_random_records_match
    odds = lam / (1.0 - lam)
    for ci in fixed:
        comp = settings.comparisons[ci]
        top = comp.scored_levels[0]
        if top.m_probability is not None and top.u_probability is not None:
            odds *= top.bayes_factor()
    lam_adj = odds / (1.0 + odds)

    pairs = block_using_rules(
        df,
        [training_rule],
        uid=uid,
        retain_columns=pair_columns(settings),
    )
    vectors = compute_comparison_vectors(pairs, settings)
    patterns, counts = collect_histogram(vectors, settings)

    num_levels = [c.num_scored_levels for c in settings.comparisons]
    m_init = [_by_gamma(comp, "m") for comp in settings.comparisons]
    u_init = [_by_gamma(comp, "u") for comp in settings.comparisons]
    result = em_fit(
        patterns,
        counts,
        num_levels,
        m_init,
        u_init,
        lam_adj,
        fixed_u=fix_u,
        fixed_m=fix_m,
        fixed_comparisons=frozenset(fixed),
        tol=settings.em_convergence,
        max_iterations=settings.max_iterations,
    )

    # Write trained values back into the model (skip fixed comparisons).
    for ci, comp in enumerate(settings.comparisons):
        if ci in fixed:
            continue
        for lv in comp.scored_levels:
            g = comp.gamma_of(lv)
            if not fix_m:
                lv.m_probability = float(result.m[ci][g])
            if not fix_u:
                lv.u_probability = float(result.u[ci][g])
    return result


def _by_gamma(comp, which: str) -> np.ndarray:
    """Initial m/u per gamma index (0..K-1); defaults where unset.

    Default m: 0.9 on the top level, rest split; default u: uniform.
    """
    K = comp.num_scored_levels
    vals = np.empty(K)
    for lv in comp.scored_levels:
        g = comp.gamma_of(lv)
        p = lv.m_probability if which == "m" else lv.u_probability
        if p is None:
            if which == "m":
                p = 0.9 if g == K - 1 else 0.1 / max(K - 1, 1)
            else:
                p = 1.0 / K
        vals[g] = p
    s = vals.sum()
    return vals / s if s > 0 else np.full(K, 1.0 / K)


def apply_estimates(
    settings: Settings, which: str, values: list[np.ndarray]
) -> None:
    """Write per-comparison ``m`` or ``u`` estimates (indexed by gamma)
    into every scored level of the model."""
    for ci, comp in enumerate(settings.comparisons):
        for lv in comp.scored_levels:
            setattr(
                lv, f"{which}_probability", float(values[ci][comp.gamma_of(lv)])
            )
