"""Physical-plan invariants as tests: the scale properties the
workload docstrings claim (pushdown, broadcast, decorrelation,
window-group-limit, take-ordered) must hold in the executed plan —
regressions here mean a 100 TB deployment silently degrades even
though results stay correct."""

import sys

sys.path.insert(0, ".")

from tools.explain_audit import audit  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_plan_invariants(spark):
    failures = audit(spark, SF_DIR)
    assert not failures, "\n".join(failures)


def test_hinted_join_size_walker(spark):
    """Pin tools/plan_sweep's JVM plan traversal: it must see a
    broadcast hint on the hinted side of a join and read that side's
    optimizer-estimated sizeInBytes (the 100x sweep's flag signal).
    Guards the py4j accessor chain (Join.hint / Option / stats)
    against Spark upgrades silently blinding the audit."""
    from pyspark.sql import functions as F

    from tools.plan_sweep import _hinted_join_sizes

    big = spark.range(1000).withColumnRenamed("id", "k")
    dim = spark.range(10).withColumnRenamed("id", "k")
    hinted = big.join(F.broadcast(dim), "k")
    sizes = _hinted_join_sizes(hinted._jdf)
    assert len(sizes) == 1
    side, nbytes = sizes[0]
    assert side == "right"
    # range(10) of one long column: a real (small, known) estimate,
    # not the Long.MaxValue unknown-stats sentinel.
    assert 0 < nbytes < 1 << 20

    unhinted = big.join(dim, "k")
    assert _hinted_join_sizes(unhinted._jdf) == []


def test_plan_sweep_no_flags_on_synthesized_corpus(spark, tmp_path_factory):
    """The 100x broadcast-hazard sweep (tools/plan_sweep.py), runnable
    every round without a pre-built scratch corpus: synthesize a 10x
    replica of sf0.001 (key-strided facts, fresh doc/event ids — the
    same machinery the real 100x probes use, tools/scale_probe.py) and
    re-plan ALL registry queries against it.  Asserts ZERO
    broadcast-hinted sides whose optimizer estimate exceeds the 64 MB
    ceiling and zero build timeouts.  The unknown-stats bucket (inline
    LocalRelation fixtures report Long.MaxValue, not a measurement) is
    pinned to the three known fixture-dim queries so a NEW unknown
    can't hide there."""
    from tools.plan_sweep import sweep
    from tools.scale_probe import synthesize

    d = str(tmp_path_factory.mktemp("plan_sweep_10x"))
    synthesize(spark, d, 10, base="/root/testdata/sf0.001")
    summary = sweep(spark, d, timeout_s=60.0)
    assert summary["n_flagged"] == 0, summary["flagged"]
    assert summary["build_timeouts"] == []
    assert summary["suspect"] == []
    unknown = {u["query"] for u in summary["unknown_stats"]}
    assert unknown <= {
        "q_dedup_incremental",  # exact-hit id list vs a LocalRelation dim
        "q_omim_assoc_decision",  # inline curator-exclusion fixture dims
        "q_equiv_cliques",  # inline clique fixture dim
        # r12: the cap-firing fixture gate — 8 inline docs, broadcast
        # sides bounded by construction like the other fixture dims
        "q_decontaminate_fuzzy_capfire",
        # r13: the hot-shingle capfire sibling — 6 inline docs
        "q_dedup_lsh_capfire",
    }, unknown


def test_spread_without_spark_context(spark, monkeypatch):
    """With no driver-side SparkContext (Spark Connect), spread() sizes
    its repartition from the session's shuffle partitions."""
    import re

    from pyspark.sql import SparkSession

    from omim_spark.workload.registry import table_spread

    def no_context(self):
        raise NotImplementedError("no SparkContext on this session")

    monkeypatch.setattr(SparkSession, "sparkContext", property(no_context))
    df = table_spread(spark, SF_DIR, "orders", "o_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert re.search(rf"hashpartitioning\(o_orderkey#\d+L?, {parts}\)", plan), plan
