"""TF sourcing for incremental / single-pair scoring, EM multi-session
averaging, settings validation, string-uid sampling.

reference behaviors: splink/linker.py::Linker.find_matches_to_new_records
(joins the BASE's cached TF tables to new records),
Linker.compare_two_records (tf from record dicts or base tables),
splink/em_training_session.py (multi-session m/u averaging),
splink/settings_validation/ (pre-execution column checks)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from splink_spark.functions.comparators import (
    else_level,
    exact_match_level,
    null_level,
)
from splink_spark.model import BlockingRule, Comparison, Settings
from splink_spark.operators.training import deterministic_sample
from splink_spark.plans.linker import Linker
from splink_spark.plans.validate import validate_settings_against_schemas


def _tf_settings() -> Settings:
    return Settings(
        probability_two_random_records_match=0.01,
        blocking_rules=[BlockingRule("l.source = r.source")],
        comparisons=[
            Comparison(
                "lang",
                input_columns=["lang"],
                levels=[
                    null_level("lang"),
                    exact_match_level(
                        "lang", m=0.9, u=0.2, tf_adjustment=True
                    ),
                    else_level(m=0.1, u=0.8),
                ],
            )
        ],
    )


def test_new_records_tf_comes_from_base(spark, docs):
    """A new record's tf_<col> must be the BASE table's frequency, not
    its share within the (tiny) new batch."""
    linker = Linker(docs, _tf_settings())
    base_tf = {
        r["lang"]: r["tf_lang"]
        for r in linker.tf_tables()["lang"].collect()
    }
    new = docs.limit(3).withColumn(
        "unique_id", F.col("unique_id") + F.lit(1_000_000)
    )
    matches = linker.find_matches_to_new_records(new).persist()
    assert matches.count() > 0
    for row in matches.select("lang_r", "tf_lang_r").distinct().collect():
        assert row["tf_lang_r"] == pytest.approx(base_tf[row["lang_r"]])
        # a 3-row batch would give tf in {1/3, 2/3, 1}; base tf is not
        assert row["tf_lang_r"] not in (1.0,)


def test_compare_two_records_with_tf_model(spark, docs):
    """compare_two_records resolves tf_* from the base TF tables (or the
    record dict) — a TF-adjusted model must not fail or skip the
    adjustment."""
    linker = Linker(docs, _tf_settings())
    sample = docs.limit(1).collect()[0]
    rec = {"lang": sample["lang"], "source": sample["source"]}
    out = linker.compare_two_records(rec, dict(rec)).collect()
    assert len(out) == 1
    base_tf = {
        r["lang"]: r["tf_lang"]
        for r in linker.tf_tables()["lang"].collect()
    }
    # matching on a COMMON value scores lower than the plain exact level
    # would (tf > u is typical for the modal value) — and, crucially,
    # the tf columns resolved to the base's values
    plain = Settings(
        probability_two_random_records_match=0.01,
        blocking_rules=[BlockingRule("l.source = r.source")],
        comparisons=[
            Comparison(
                "lang",
                input_columns=["lang"],
                levels=[
                    null_level("lang"),
                    exact_match_level("lang", m=0.9, u=0.2),
                    else_level(m=0.1, u=0.8),
                ],
            )
        ],
    )
    out_plain = Linker(docs, plain).compare_two_records(rec, dict(rec)).collect()
    import math

    expected_adj = math.log2(0.2 / base_tf[rec["lang"]])
    assert out[0]["match_weight"] == pytest.approx(
        out_plain[0]["match_weight"] + expected_adj, rel=1e-9
    )
    # explicit tf values in the record dict take precedence
    rec_tf = dict(rec, tf_lang=0.5)
    out_override = linker.compare_two_records(rec_tf, dict(rec_tf)).collect()
    assert out_override[0]["match_weight"] == pytest.approx(
        out_plain[0]["match_weight"] + math.log2(0.2 / 0.5), rel=1e-9
    )


def test_em_multi_session_averaging(spark, docs):
    """Two EM sessions under different training rules: the model ends up
    with the MEAN of the per-session estimates for comparisons trained
    by both."""
    settings = Settings(
        probability_two_random_records_match=0.01,
        blocking_rules=[BlockingRule("l.source = r.source")],
        comparisons=[
            Comparison(
                "lang",
                input_columns=["lang"],
                levels=[
                    null_level("lang"),
                    exact_match_level("lang", m=0.9, u=0.2),
                    else_level(m=0.1, u=0.8),
                ],
            ),
            Comparison(
                "n_chars",
                input_columns=["n_chars"],
                levels=[
                    null_level("n_chars"),
                    exact_match_level("n_chars", m=0.7, u=0.05),
                    else_level(m=0.3, u=0.95),
                ],
            ),
        ],
    )
    linker = Linker(docs, settings)
    r1 = linker.estimate_parameters_using_expectation_maximisation(
        "l.source = r.source"
    )
    # after one session the model holds session-1 values for trained comps
    lv = settings.comparison("lang").scored_levels[0]
    ci = 0
    g = settings.comparison("lang").gamma_of(lv)
    assert lv.m_probability == pytest.approx(float(r1.m[ci][g]))

    r2 = linker.estimate_parameters_using_expectation_maximisation(
        "l.lang = r.lang AND l.source = r.source"
    )
    # lang is fixed under session 2's rule; n_chars trained by both ->
    # model must carry the mean of the two sessions
    nc = settings.comparison("n_chars")
    ci_nc = 1
    lv_nc = nc.scored_levels[0]
    g_nc = nc.gamma_of(lv_nc)
    assert 1 not in r1.fixed_comparisons
    assert 1 not in r2.fixed_comparisons
    expected = float(np.mean([r1.m[ci_nc][g_nc], r2.m[ci_nc][g_nc]]))
    assert lv_nc.m_probability == pytest.approx(expected)
    # lang fixed in session 2 -> still session-1's value
    assert 0 in r2.fixed_comparisons
    assert lv.m_probability == pytest.approx(float(r1.m[0][g]))


def test_deterministic_sample_string_uid(spark):
    """String unique ids must sample correctly (seed as hash argument,
    never arithmetic on the id)."""
    df = spark.range(2000).select(
        F.concat(F.lit("id-"), F.col("id")).alias("uid")
    )
    s = deterministic_sample(df, 0.2, "uid", seed=7)
    n = s.count()
    assert 200 < n < 600  # ~400 expected; NOT 2000 (the all-rows bug)
    assert s.count() == n  # stable


def test_validation_missing_columns(spark, docs):
    bad = Settings(
        blocking_rules=[BlockingRule("l.nope = r.nope")],
        comparisons=[
            Comparison(
                "x",
                input_columns=["missing_col"],
                levels=[
                    null_level("missing_col"),
                    exact_match_level("missing_col", m=0.9, u=0.1),
                    else_level(m=0.1, u=0.9),
                ],
            )
        ],
    )
    with pytest.raises(ValueError) as ei:
        validate_settings_against_schemas(bad, {"docs": docs})
    msg = str(ei.value)
    assert "missing_col" in msg and "nope" in msg

    with pytest.raises(ValueError):
        Linker(docs, bad)

    # rule columns are read in either alias case, with spaces around
    # the dot or backtick-quoted
    for rule, col in [
        ("L.missing = R.missing", "missing"),
        ("l . spaced = r . spaced", "spaced"),
        ("l.`quoted` = r.`quoted`", "quoted"),
    ]:
        upper = Settings(
            blocking_rules=[BlockingRule(rule)],
            comparisons=[
                Comparison(
                    "lang",
                    input_columns=["lang"],
                    levels=[
                        exact_match_level("lang", m=0.9, u=0.1),
                        else_level(m=0.1, u=0.9),
                    ],
                )
            ],
        )
        with pytest.raises(ValueError, match=f"column '{col}' not in"):
            validate_settings_against_schemas(upper, {"docs": docs})


def test_validation_accepts_derived_columns(spark, docs):
    ok = Settings(
        link_type="link_and_dedupe",
        blocking_rules=[
            BlockingRule(
                "l.lang = r.lang AND l.source_dataset <> r.source_dataset"
            )
        ],
        comparisons=[
            Comparison(
                "lang",
                input_columns=["lang"],
                levels=[
                    null_level("lang"),
                    exact_match_level("lang", m=0.9, u=0.1),
                    else_level(m=0.1, u=0.9),
                ],
            )
        ],
    )
    validate_settings_against_schemas(
        ok, {"a": docs, "b": docs}
    )  # no raise

    bad_link_type = Settings(
        link_type="bogus",
        comparisons=ok.comparisons,
    )
    with pytest.raises(ValueError):
        validate_settings_against_schemas(bad_link_type, {"a": docs})


def test_completeness_by_source(spark, docs):
    from pyspark.sql import functions as F

    from splink_spark.operators.profile import completeness_by_source

    a = docs.withColumn("source_dataset", F.lit("a"))
    b = docs.withColumn(
        "text", F.when(F.col("unique_id") % 2 == 0, None).otherwise(F.col("text"))
    ).withColumn("source_dataset", F.lit("b"))
    out = completeness_by_source(
        a.unionByName(b), columns=["text", "lang"]
    ).collect()
    got = {(r["source_dataset"], r["column_name"]): r["completeness"] for r in out}
    assert got[("a", "text")] == 1.0
    assert got[("a", "lang")] == 1.0
    assert 0.4 < got[("b", "text")] < 0.6
