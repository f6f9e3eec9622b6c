"""Bucketed-layout helpers: the storage-side answer to the one big
shuffle left in the workload (fact⋈fact on orderkey).

`write_bucketed` persists a table bucketed+sorted by the join key; a
join of two such tables read back with ``spark.table`` plans a
SortMergeJoin with NO Exchange on either side (`exchange_count`,
asserted in tests/test_bucketing.py).  At 100 TB this turns the
recurring orders⋈lineitem shuffle into a metadata decision made once
at write time; AQE handles everything else.

Local note: bucketing requires saveAsTable (a warehouse catalog), so
these helpers manage a named table, not a bare path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
) -> None:
    spark = df.sparkSession
    # Only bare table identifiers: the stale-location cleanup below
    # derives the managed location as <warehouse>/<name> by string
    # concatenation, which is wrong for qualified names (db.tbl lives
    # under <warehouse>/<db>.db/<tbl>) — deleting a guessed path
    # outside Spark's control is how warehouses get corrupted.
    if not table_name.replace("_", "").isalnum():
        raise ValueError(
            f"write_bucketed requires a bare table identifier, got "
            f"{table_name!r} (qualified/special names would make the "
            "stale-location cleanup guess a wrong warehouse path)"
        )
    # A managed table's LOCATION can outlive its catalog entry (each
    # local session starts a fresh metastore over the same warehouse
    # dir); saveAsTable then fails with LOCATION_ALREADY_EXISTS even
    # in overwrite mode.  Drop both the entry and any stale location.
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh.scheme in ("", "file"):
        shutil.rmtree(f"{wh.path}/{table_name.lower()}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the executed plan
    (0 = co-located join)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")
