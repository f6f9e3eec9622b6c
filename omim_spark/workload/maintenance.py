"""Table-maintenance tier: multi-column clustering (Z-order).

Small-file compaction is exercised in tests/test_partition_pruning.py;
this module puts the OTHER maintenance op a 100 TB table needs on the
driver gate: the interleaved-bits clustering key that
an OPTIMIZE ZORDER rewrite range-partitions by.  The
gate query computes the key with integer-exact min/max bucketing, so
DuckDB reproduces every bit; the locality profile it returns (per
z-cell row count + per-column extents) is exactly the statistic that
predicts file-skipping benefit after a rewrite — each z-cell maps to a
contiguous key range, and narrow per-cell extents on BOTH columns are
what make per-file min/max stats selective.

Scale: one tiny stats agg broadcast onto the scan (no driver collect),
one map stage for buckets + key, one keyed aggregation.  The rewrite
itself (tests/test_clustering.py) adds only the range shuffle it
exists to perform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omim_spark.operators.clustering import interleave_terms

from .registry import events_table, register

_BITS = 4  # 16x16 z-cells -> at most 256 output rows

_Z_TERMS = interleave_terms(["_b_u", "_b_e"], _BITS)

_BUCKET_U = "CAST(((user_id - lo_u) * 16) {div} (hi_u - lo_u + 1) AS INT)"
_BUCKET_E = "CAST(((event_id - lo_e) * 16) {div} (hi_e - lo_e + 1) AS INT)"


@register(
    "q_zorder_locality",
    oracle=f"""
    WITH stats AS (
      SELECT MIN(user_id) AS lo_u, MAX(user_id) AS hi_u,
             MIN(event_id) AS lo_e, MAX(event_id) AS hi_e
      FROM events
    ),
    b AS (
      SELECT {_BUCKET_U.format(div='//')} AS _b_u,
             {_BUCKET_E.format(div='//')} AS _b_e,
             user_id, event_id
      FROM events CROSS JOIN stats
    ),
    z AS (
      SELECT CAST({_Z_TERMS} AS BIGINT) AS zkey, user_id, event_id FROM b
    )
    SELECT zkey, COUNT(*) AS n_rows,
           MIN(user_id) AS u_min, MAX(user_id) AS u_max,
           MIN(event_id) AS e_min, MAX(event_id) AS e_max
    FROM z
    GROUP BY zkey
    ORDER BY zkey
    """,
)
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key locality profile of the events table over
    (user_id, event_id): integer-exact equal-width buckets (16 per
    column), explicit shift/mask interleave — the identical expression
    text DuckDB evaluates — then per-z-cell count and column extents.

    This is the planning half of OPTIMIZE ZORDER: the rewrite
    range-partitions by this key; the extents this query reports per
    cell are the per-file min/max stats a reader would prune with."""
    ev = events_table(spark, sf_dir).select("event_id", "user_id")
    stats = ev.agg(
        F.min("user_id").alias("lo_u"),
        F.max("user_id").alias("hi_u"),
        F.min("event_id").alias("lo_e"),
        F.max("event_id").alias("hi_e"),
    )
    b = ev.crossJoin(F.broadcast(stats)).select(
        F.expr(_BUCKET_U.format(div="DIV")).alias("_b_u"),
        F.expr(_BUCKET_E.format(div="DIV")).alias("_b_e"),
        "user_id",
        "event_id",
    )
    z = b.select(
        F.expr(_Z_TERMS).cast("long").alias("zkey"), "user_id", "event_id"
    )
    return (
        z.groupBy("zkey")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.min("event_id").alias("e_min"),
            F.max("event_id").alias("e_max"),
        )
        .orderBy("zkey")
    )
