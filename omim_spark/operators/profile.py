"""Single-pass data-quality profiling.

A training-data pipeline gates every ingested table on a profile —
null rates, cardinalities, value ranges — before spending compute on
it.  ``profile`` computes all of that for every requested column in
ONE aggregation over the table: Catalyst plans the multi-distinct
aggregate as a single Expand + two-phase HashAggregate (map-side
partials, one shuffle round), so the cost is one scan regardless of
how many columns are profiled.

Scale notes (100 TB): exact per-column COUNT(DISTINCT) is the only
expensive term — the Expand multiplies rows by the number of distinct
aggregates before the shuffle.  For wide tables at full scale pass
``approx=True`` to swap in HyperLogLog ``approx_count_distinct``
(fixed-size sketches, no Expand blowup); the exact variant remains the
oracle-checkable default.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    """Per-column profile: (column_name, n_rows, n_nulls, n_distinct,
    min_str, max_str), one output row per profiled column.

    min/max are rendered as strings so heterogeneous column types fit
    one tidy result schema (the long format a quality dashboard or a
    drift check consumes).
    """
    cols = list(columns) if columns is not None else list(df.columns)
    if not cols:
        raise ValueError("profile() needs at least one column")
    distinct = (
        F.approx_count_distinct if approx else F.count_distinct
    )

    def per_col(c: str) -> list[Column]:
        return [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]

    wide = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[a for c in cols for a in per_col(c)],
    )
    stack_args = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args})"
            " AS (column_name, __nn, n_distinct, min_str, max_str)"
        ),
        F.col("__n").alias("n_rows"),
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("__nn")).alias("n_nulls"),
        "n_distinct",
        "min_str",
        "max_str",
    )
