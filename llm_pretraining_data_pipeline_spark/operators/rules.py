"""First-match-wins drop-reason rule cascades.

This single combinator implements the reference's core query semantic
(SURVEY.md §2.3): an ordered list of (reason, predicate) rules where the
first matching rule labels the row and later rules must not overwrite it —
including labels assigned by *earlier stages* (reference sites:
text_clean_and_filter.py:130-140, deep_clean_and_pii.py:395-396,
Tokenisation_JSONL_export.py:141-142).

Spark-first realisation: one chained ``when`` expression. Catalyst folds the
whole cascade into a single projection inside whole-stage codegen — no UDF,
no multiple passes, order-preserving by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DROP_REASON = "drop_reason"

Rule = tuple[str, Column]


def first_match_expr(rules: Sequence[Rule], carry: Column | None = None) -> Column:
    """Build the first-match-wins reason expression.

    ``carry`` is the pre-existing drop_reason column (or None for the first
    cascade); a non-null carried reason always wins, matching the reference's
    "only set when still null" writes.
    """
    expr: Column | None = None
    for reason, cond in rules:
        clause = F.when(cond, F.lit(reason))
        expr = clause if expr is None else expr.when(cond, F.lit(reason))
    if expr is None:
        expr = F.lit(None).cast("string")
    else:
        expr = expr.otherwise(F.lit(None).cast("string"))
    if carry is not None:
        expr = F.coalesce(carry, expr)
    return expr


def rule_column(
    df: DataFrame, rules: Sequence[Rule], column: str = DROP_REASON
) -> dict[str, Column]:
    """``{column: cascade}`` over ``df``, preserving any reason already
    present in ``column`` — a ``withColumns`` entry, so a stage can set its
    reason in the same projection as the columns it adds alongside."""
    carry = F.col(column) if column in df.columns else None
    return {column: first_match_expr(rules, carry=carry)}


def apply_rules(df: DataFrame, rules: Sequence[Rule], column: str = DROP_REASON) -> DataFrame:
    """Apply a cascade, preserving any reason already present in ``column``."""
    return df.withColumns(rule_column(df, rules, column))


def split_kept_dropped(df: DataFrame, column: str = DROP_REASON) -> tuple[DataFrame, DataFrame]:
    """Complementary kept/dropped views (reference: two filters per stage).

    Caller should ``.cache()`` upstream when both sides are consumed.
    """
    return df.filter(F.col(column).isNull()), df.filter(F.col(column).isNotNull())
