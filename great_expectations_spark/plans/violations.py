"""Violation-row extraction as a DataFrame — the 10^12-scale replacement for
COMPLETE-mode driver collects.

The reference materializes full unexpected lists on the driver
(map_metric_provider.py:2384-2506 ``collect()``) — its scale ceiling. Here one
row-level pass evaluates EVERY map expectation's unexpected condition in a
single projection and keeps only violating rows, labeled with the ids of the
expectations they violate; callers write the result to a violations table
(``df.writeTo(...)`` / ``write.parquet``), so no row ever crosses the driver.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.core.config import ExpectationSuite
from great_expectations_spark.operators.conditions import (
    compile_map_condition,
    is_map_expectation,
    row_domain,
)

VIOLATIONS_COL = "_violated_expectations"


def unexpected_conditions(
    suite: ExpectationSuite, label_by: str = "type"
) -> list[tuple[str, Column]]:
    """(label, unexpected-row condition) for each map expectation of the
    suite, in suite order. ``label_by``: "type" → expectation_type, with
    ``#i`` suffixes on repeated types; "id" → deterministic config ids."""
    labeled: list[tuple[str, Column]] = []
    seen: dict[str, int] = {}
    for cfg in suite.expectations:
        t = cfg.expectation_type
        if not is_map_expectation(t):
            continue
        if label_by == "id":
            label = cfg.id
        else:
            n = seen.get(t, 0)
            seen[t] = n + 1
            label = t if n == 0 else f"{t}#{n}"
        mc = compile_map_condition(t, cfg.kwargs)
        labeled.append((label, row_domain(cfg.kwargs) & mc.unexpected))
    return labeled


def violations_df(
    df: DataFrame,
    suite: ExpectationSuite,
    label_by: str = "type",
    columns: Optional[list[str]] = None,
) -> DataFrame:
    """Rows violating ≥1 map expectation, with ``_violated_expectations``
    (array<string>) naming which.

    ``label_by``: as in ``unexpected_conditions``.
    ``columns``: project to these columns (+ label col); default all —
    pass the key columns at scale so the violations table stays narrow.
    One scan, no shuffle, no driver collect; Catalyst prunes unreferenced
    columns and pushes shared sub-conditions into one WholeStageCodegen span.
    """
    labeled = unexpected_conditions(suite, label_by)
    if not labeled:
        empty = df.limit(0)
        return empty.withColumn(VIOLATIONS_COL, F.array().cast("array<string>"))

    tags = F.array(
        *[F.when(cond, F.lit(label)) for label, cond in labeled]
    )
    hit = F.filter(tags, lambda x: x.isNotNull())
    out_cols = [F.col(c) for c in columns] if columns else [F.col(c) for c in df.columns]
    return (
        df.select(*out_cols, hit.alias(VIOLATIONS_COL))
        .filter(F.size(VIOLATIONS_COL) > 0)
    )
