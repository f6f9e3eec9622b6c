"""operators/clustering.py: the Morton interleave that the oracle-gated
z-order workload query keys on."""

from __future__ import annotations

from pyspark.sql import functions as F

from omim_spark.operators.clustering import interleave_terms


def _py_morton(vals: list[int], bits: int) -> int:
    out = 0
    k = len(vals)
    for i in range(bits):
        for j, v in enumerate(vals):
            out |= ((v >> i) & 1) << (i * k + j)
    return out


class TestZorderKey:
    def test_interleave_matches_python_reference(self, spark):
        rows = [(a, b) for a in range(8) for b in range(8)]
        df = spark.createDataFrame(rows, ["x", "y"])
        got = {
            (r.x, r.y): r.z
            for r in df.select(
                "x", "y", F.expr(interleave_terms(["x", "y"], 3)).alias("z")
            ).collect()
        }
        for a, b in rows:
            assert got[(a, b)] == _py_morton([a, b], 3), (a, b)
