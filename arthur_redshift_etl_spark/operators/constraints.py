"""Constraint verification as generated aggregation queries.

Reference parity: ``python/etl/load.py:564-634`` — for each declared
primary_key / natural_key / surrogate_key / unique constraint, find duplicate
key tuples (limit 5 samples).  NULL semantics: ``unique`` ignores rows where
any key part is NULL; key constraints treat NULL keys as violations of the
implied NOT NULL.

Scale notes: the duplicate probe is a partial-aggregated ``groupBy(keys)`` —
map-side combine keeps the shuffle proportional to the number of distinct
keys, and the ``limit(5)`` short-circuits collection.  No full sort, no
``collect`` of the table.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..design import TableDesign
from ..errors import FailedConstraintError

SAMPLE_LIMIT = 5


def duplicate_keys(
    df: DataFrame, columns: Sequence[str], ignore_null_keys: bool = False
) -> DataFrame:
    """Rows per duplicated key tuple: key columns + ``dup_count``."""
    probe = df
    if ignore_null_keys:
        for c in columns:
            probe = probe.filter(F.col(c).isNotNull())
    return (
        probe.groupBy(*[F.col(c) for c in columns])
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def check_constraint(
    df: DataFrame, constraint_type: str, columns: Sequence[str], identifier: str = "?"
) -> None:
    """Raise :class:`FailedConstraintError` if the constraint doesn't hold."""
    ignore_nulls = constraint_type == "unique"
    examples = duplicate_keys(df, columns, ignore_null_keys=ignore_nulls).take(SAMPLE_LIMIT)
    if examples:
        raise FailedConstraintError(
            identifier, constraint_type, columns, [e.asDict() for e in examples]
        )


def check_all_constraints(df: DataFrame, design: TableDesign) -> None:
    for ctype, cols in design.constraint_items():
        check_constraint(df, ctype, cols, identifier=design.name)
