"""Skew mitigation for aggregations.

AQE's skew-join handling (enabled in session.py) covers sort-merge
joins at runtime; explicit salting remains necessary when the skew is
in an AGGREGATION key.  The salt is deterministic (hash-derived, not
random — reruns and retries stay reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def two_phase_agg(
    df: DataFrame, key: str, agg_exprs: dict[str, str], n_salts: int = 16
) -> DataFrame:
    """Skew-safe aggregation: partial aggregate on (key, salt), then
    final aggregate on key.  Supports algebraic aggregates
    (sum/count/min/max — the decomposable ones).

    agg_exprs: {output_col: "sum(col)" | "count(*)" | "min(col)" | "max(col)"}

    Hash aggregation already does map-side partial aggs; this pattern
    additionally splits the REDUCE side of a hot key across n_salts
    reducers — the fix when one key holds 10% of 100 TB.
    """
    salted = df.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)).cast(
            "int"
        ),
    )
    partial_aggs, final_aggs = [], []
    for out, expr in agg_exprs.items():
        fn, _, arg = expr.partition("(")
        fn = fn.strip().lower()
        arg = arg.rstrip(")").strip()
        p_col = f"__p_{out}"
        if fn == "count":
            partial_aggs.append(F.count("*" if arg == "*" else arg).alias(p_col))
            final_aggs.append(F.sum(p_col).alias(out))
        elif fn == "sum":
            partial_aggs.append(F.sum(arg).alias(p_col))
            final_aggs.append(F.sum(p_col).alias(out))
        elif fn == "min":
            partial_aggs.append(F.min(arg).alias(p_col))
            final_aggs.append(F.min(p_col).alias(out))
        elif fn == "max":
            partial_aggs.append(F.max(arg).alias(p_col))
            final_aggs.append(F.max(p_col).alias(out))
        else:
            raise ValueError(f"non-decomposable aggregate: {expr}")
    partial = salted.groupBy(key, SALT_COL).agg(*partial_aggs)
    return partial.groupBy(key).agg(*final_aggs)
