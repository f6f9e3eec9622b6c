"""Bucketed co-located join: the orders⋈lineitem shuffle disappears
when both sides are bucketed by the join key — the written-once layout
decision that removes the workload's one remaining big exchange at
100 TB."""

import pytest
from pyspark.sql import functions as F

from omim_spark.operators.bucketing import exchange_count, write_bucketed

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # spark.sql.warehouse.dir is static; the session default
    # (./spark-warehouse, gitignored) is fine for the demo tables.
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_bucketed(orders, "orders_b", "o_orderkey", 8)
    write_bucketed(lineitem, "lineitem_b", "l_orderkey", 8)
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


class TestBucketedJoin:
    def test_join_is_shuffle_free(self, spark, bucketed_tables):
        left, right = bucketed_tables
        orders, li = spark.table(left), spark.table(right)
        joined = orders.join(li, orders.o_orderkey == li.l_orderkey)
        n_rows = joined.count()
        assert n_rows == spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
        assert exchange_count(joined) == 0  # co-located: no shuffle

    def test_plain_join_shuffles(self, spark):
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        # Force the comparison against a sort-merge join (broadcast
        # would also avoid the exchange, but not at fact×fact scale).
        joined = orders.hint("merge").join(
            li, orders.o_orderkey == li.l_orderkey
        )
        assert exchange_count(joined) >= 1

    def test_bucketed_agg_avoids_exchange(self, spark, bucketed_tables):
        _, right = bucketed_tables
        agg = (
            spark.table(right)
            .groupBy("l_orderkey")
            .agg(F.count("*").alias("n"))
        )
        assert exchange_count(agg) == 0  # grouping on the bucket key


class TestPartitionPruning:
    """Hive-style partition layout: a filter on the partition column
    must prune directories at planning time (PartitionFilters), so a
    100 TB corpus scan for one source touches one directory."""

    def test_partition_filter_prunes(self, spark, tmp_path):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = str(tmp_path / "docs_by_source")
        docs.write.partitionBy("source").mode("overwrite").parquet(out)

        pruned = spark.read.parquet(out).filter(F.col("source") == "src3")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = pruned._jdf.queryExecution().explainString(mode)
        assert "PartitionFilters" in plan
        # count files actually scanned: one partition dir only
        n_match = pruned.count()
        expected = docs.filter(F.col("source") == "src3").count()
        assert n_match == expected
        import re

        m = re.search(r"partition count: (\d+)", plan)
        # formatted explain reports the pruned partition count when
        # static pruning applied; if present it must be 1
        if m:
            assert int(m.group(1)) == 1
