"""Replication-isolation guard for the OMIM pipeline (round 9).

The retired replica ladder of tools/pipeline_scale_probe.py measured
the end-to-end build at 20/200/2,000/20,000 fixture replicas (its
numbers are history in SCALING.md), and the triple count was exactly
linear in R at every point.  That exactness IS a correctness
property — the per-replica MIM remap is injective and nothing in the
build (joins, conflict drops, windows, series groupings) leaks across
replicas; any cross-replica join contamination would bend the line.
Pin it at small R so a regression in parse/associations/triples that
only manifests under multiplicity (e.g. a join key that stops
including the replica-remapped MIM) fails here instead of silently
skewing the benchmarks built on replicated fixtures.
"""

from omim_spark.pipeline import build_graph
from tools.pipeline_scale_probe import synthesize

# 368 since round 11: the unreplaced obsolete (100400) falls through
# per the reference and gains rdfs:label + hasExactSynonym per replica.
PER_REPLICA = 368
FIXED = 10


def _triples_at(spark, tmp_path, replicas: int) -> int:
    d = tmp_path / f"r{replicas}"
    synthesize(d, replicas)
    return build_graph(spark, str(d), version_date="2026-01-01").triples.count()


def test_triple_count_exactly_linear_in_replicas(spark, tmp_path):
    n5 = _triples_at(spark, tmp_path, 5)
    n20 = _triples_at(spark, tmp_path, 20)
    assert n5 == PER_REPLICA * 5 + FIXED
    assert n20 == PER_REPLICA * 20 + FIXED
    # the slope check is the real guard: cross-replica leakage adds
    # super-linear pair terms, dropped rows bend it sub-linear
    assert n20 - n5 == PER_REPLICA * 15

