"""Multi-column clustering (Z-order) key terms as SQL text.

``interleave_terms`` is the Morton interleave that the oracle-gated
``workload/maintenance.q_zorder_locality`` query keys on: an explicit
sum of shift/mask terms (no UDF) that evaluates identically in Spark
SQL and DuckDB, so the key is bit-identical across engines.
"""

from __future__ import annotations


def interleave_terms(bucket_cols: list[str], bits: int) -> str:
    """Morton interleave as an explicit sum of shift/mask terms —
    the same textual expression evaluates in Spark SQL and DuckDB,
    so the key is bit-identical across engines.  bucket_cols[0]
    owns the LOW bit of each group (ties broken by the first
    clustering column)."""
    k = len(bucket_cols)
    terms = []
    for i in range(bits):
        for j, c in enumerate(bucket_cols):
            terms.append(f"(((({c} >> {i}) & 1)) << {i * k + j})")
    return " + ".join(terms)
