"""O6 — comparison-vector computation (gamma columns).

reference: splink/comparison_vector_values.py::
compute_comparison_vector_values_sql.

Spark-first: one ``select`` projecting the pair table through a
``F.when`` cascade per comparison. All cascades evaluate in a single
whole-stage-codegen'd projection — no shuffle, no Python, unless a level
condition calls a registered pandas-UDF comparator (the Arrow slow path,
used only for comparators Spark lacks natively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from splink_spark.model import Settings


def compute_comparison_vectors(pairs: DataFrame, settings: Settings) -> DataFrame:
    """Append ``gamma_<name>`` int columns to the pair table. All
    existing columns are kept; Catalyst prunes the unused ones from the
    physical plan.
    """
    from pyspark.sql import functions as F

    out = pairs
    # shared derived columns FIRST, each its own projection step so the
    # optimizer cannot inline a non-cheap expression into multiple
    # consumers (CollapseProject duplicates only cheap aliases) — the
    # expensive sub-expression (e.g. one array_intersect) is computed
    # exactly once per pair however many levels test it
    for name, expr in settings.derived_pair_expressions.items():
        out = out.withColumn(name, F.expr(expr))
    for comp in settings.comparisons:
        out = out.withColumn(comp.gamma_column, comp.gamma_expr())
    drop = [n for n in settings.derived_pair_expressions if n.startswith("__")]
    if drop:
        out = out.drop(*drop)
    return out


def comparison_viewer_data(
    vectors: DataFrame, settings: Settings, uid: str = "unique_id"
) -> DataFrame:
    """Comparison-viewer DATA: one row per distinct gamma pattern with
    its pair count and two example pairs (lexicographic min and max by
    (uid_l, uid_r)).

    reference: splink/comparison_vector_distribution.py::
    comparison_vector_distribution_sql (+ the example rows the
    splink_comparison_viewer dashboard shows per pattern).

    Scale note: an obvious one-shot ``min(struct(l, r))`` aggregate
    CANNOT hash-aggregate — struct aggregation buffers are not
    UnsafeRow-mutable, so Catalyst silently falls back to SortAggregate,
    which sorts every pair row by gamma pattern map-side (verified by
    tests/test_plans.py). A row_number window is worse still (one
    reducer sorts the hot all-else pattern). Instead the lexicographic
    min/max pair is decomposed into primitive-only aggregates that DO
    hash:

      1. hash-agg by (pattern, l): count, min(r), max(r)
      2. hash-agg by pattern: pattern_count, min(l), max(l)
      3. broadcast the tiny per-pattern table back onto (1) and pick
         min(r) at l = min(l) / max(r) at l = max(l) with one more
         hash-agg.

    min(struct(l,r)) == (min l, min r among rows with that l), so the
    result is identical and deterministic; the plan is three
    partial+final hash aggregations and one broadcast join, never a
    full sort of the pair table.
    """
    from pyspark.sql import functions as F

    gammas = settings.gamma_columns
    l, r = f"{uid}_l", f"{uid}_r"
    per_l = vectors.groupBy(*gammas, l).agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(r).alias("__rmin"),
        F.max(r).alias("__rmax"),
    )
    per_pattern = per_l.groupBy(*gammas).agg(
        F.sum("__c").alias("pattern_count"),
        F.min(l).alias("example_l_1"),
        F.max(l).alias("example_l_2"),
    )
    joined = per_l.join(F.broadcast(per_pattern), on=list(gammas), how="inner")
    return (
        joined.filter(
            F.col(l).eqNullSafe(F.col("example_l_1"))
            | F.col(l).eqNullSafe(F.col("example_l_2"))
        )
        .groupBy(*gammas, "pattern_count", "example_l_1", "example_l_2")
        .agg(
            F.min(
                F.when(
                    F.col(l).eqNullSafe(F.col("example_l_1")),
                    F.col("__rmin"),
                )
            ).alias("example_r_1"),
            F.max(
                F.when(
                    F.col(l).eqNullSafe(F.col("example_l_2")),
                    F.col("__rmax"),
                )
            ).alias("example_r_2"),
        )
        .select(
            *gammas,
            "pattern_count",
            "example_l_1",
            "example_r_1",
            "example_l_2",
            "example_r_2",
        )
    )


def derived_pair_sql_projection(settings: Settings) -> list[str]:
    """ANSI SQL fragments for the shared derived pair columns —
    project these in a subquery/CTE *before* the gamma projection so
    ``comparison_vector_sql_projection`` fragments can reference them
    (mirrors the two-step Spark projection above)."""
    return [
        f"{expr} AS {name}"
        for name, expr in settings.derived_pair_expressions.items()
    ]


def comparison_vector_sql_projection(
    settings: Settings, derived_projected: bool = False
) -> list[str]:
    """ANSI SQL projection fragments (for the DuckDB oracle):
    one ``CASE ... END AS gamma_<name>`` per comparison.

    Settings with ``derived_pair_expressions`` produce gammas that
    reference columns which do not exist on the raw pair table; the
    caller must project ``derived_pair_sql_projection`` in an enclosing
    subquery first and pass ``derived_projected=True``, otherwise this
    raises instead of silently emitting SQL that is no longer
    equivalent to the Spark path."""
    if settings.derived_pair_expressions and not derived_projected:
        raise ValueError(
            "settings declare derived_pair_expressions "
            f"{sorted(settings.derived_pair_expressions)}; project "
            "derived_pair_sql_projection(settings) in a subquery first "
            "and call with derived_projected=True"
        )
    return [
        f"{comp.gamma_sql()} AS {comp.gamma_column}"
        for comp in settings.comparisons
    ]
