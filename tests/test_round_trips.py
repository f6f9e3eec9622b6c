"""Driver round-trip budgets.  Building a plan must cost a handful of
py4j calls per emitter, not one per expression node: the emitters,
title transforms, association cascades, reports and the TTL renderer
hand Spark SQL text, so a warm ``build_graph`` stays around a
thousand calls (it was ~35k when every triple template was a tree of
Columns)."""

from __future__ import annotations

from omim_spark import schemas, triples as T
from omim_spark.entries import transform_entries
from omim_spark.io import readers
from omim_spark.io.writers import ttl_lines
from omim_spark.parse import parse_mim_titles
from omim_spark.pipeline import build_graph


def test_entry_classes_plan_costs_a_few_calls(spark, omim_data_dir, py4j_calls):
    entries = transform_entries(
        parse_mim_titles(readers.read_mim_titles(spark, f"{omim_data_dir}/mimTitles.txt"))
    )
    with py4j_calls() as calls:
        T.emit_entry_classes(entries)
    assert calls.n <= 25


def test_argument_emitters_plan_cost_a_few_calls(spark, py4j_calls):
    df = spark.createDataFrame(
        [("1", "RO:0003302", "2", "ev", None)],
        "mim string, pred string, gene string, evidence string, orcid string",
    )
    with py4j_calls() as calls:
        T.emit_exact_match(df, "mim", "concat('NCBIGENE:', gene)")
    assert calls.n <= 10
    with py4j_calls() as calls:
        T.emit_restriction_with_evidence(
            df,
            "pred",
            "concat('OMIM:', gene)",
            "concat('OMIM:', mim)",
            "evidence",
            "orcid",
        )
    assert calls.n <= 10


def test_ttl_lines_plan_costs_a_few_calls(spark, py4j_calls):
    triples = spark.createDataFrame([], schemas.TRIPLES)
    with py4j_calls() as calls:
        ttl_lines(triples)
    assert calls.n <= 10


def test_warm_build_graph_budget(spark, omim_data_dir, py4j_calls):
    build_graph(spark, omim_data_dir, version_date="2026-01-01")  # warm-up
    with py4j_calls() as calls:
        build_graph(spark, omim_data_dir, version_date="2026-01-01")
    assert calls.n <= 1250
