"""Pre-execution settings validation.

reference: splink/settings_validation/ (column lookups, blocking-rule
and comparison validation before any SQL executes).

The reference validates the settings tree against the input schema
BEFORE launching work, so a typo'd column name fails in milliseconds
with a named error instead of a mid-job AnalysisException after the
first shuffle. Same contract here: :func:`validate_settings_against_schemas`
runs at Linker construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from splink_spark.model import Settings

VALID_LINK_TYPES = ("dedupe_only", "link_only", "link_and_dedupe")


def validate_settings_against_schemas(
    settings: Settings, inputs: dict[str, DataFrame]
) -> None:
    """Raise ValueError naming every missing column / bad option before
    any job runs.

    Derived columns (the uid, source_dataset, and tf_* join-backs) are
    excluded from the check — they exist by construction after O1–O3.
    """
    if settings.link_type not in VALID_LINK_TYPES:
        raise ValueError(
            f"link_type {settings.link_type!r} is not one of "
            f"{VALID_LINK_TYPES}"
        )
    if settings.link_type != "dedupe_only" and len(inputs) < 2:
        # a single input frame can still carry a source column; only
        # flag when it cannot possibly contain two sources
        only = next(iter(inputs.values()))
        if settings.source_dataset_column_name not in only.columns:
            raise ValueError(
                f"link_type {settings.link_type!r} needs >=2 input frames "
                f"or a {settings.source_dataset_column_name!r} column"
            )

    derived = {settings.uid, settings.source_dataset_column_name}
    problems: list[str] = []
    for name, df in inputs.items():
        cols = set(df.columns)
        for comp in settings.comparisons:
            for c in comp.input_columns:
                if c not in cols:
                    problems.append(
                        f"comparison {comp.output_column_name!r}: input "
                        f"column {c!r} not in input {name!r} "
                        f"(has: {sorted(cols)})"
                    )
            for lv in comp.scored_levels:
                tc = lv.tf_adjustment_column
                if tc is not None and tc not in cols:
                    problems.append(
                        f"comparison {comp.output_column_name!r} level "
                        f"{lv.label!r}: tf_adjustment_column {tc!r} not in "
                        f"input {name!r}"
                    )
        for br in settings.blocking_rules:
            for c in sorted(br.columns - derived):
                if c.startswith("tf_"):
                    continue
                if c not in cols:
                    problems.append(
                        f"blocking rule {br.rule!r}: column {c!r} not in "
                        f"input {name!r}"
                    )
    if problems:
        raise ValueError(
            "settings validation failed:\n  - " + "\n  - ".join(problems)
        )
