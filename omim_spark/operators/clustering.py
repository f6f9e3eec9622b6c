"""Multi-column clustering (Z-order) key terms as SQL text.

``interleave_terms`` is the Morton interleave that the oracle-gated
``workload/maintenance.q_zorder_locality`` query keys on: an explicit
sum of shift/mask terms (no UDF) that evaluates identically in Spark
SQL and DuckDB, so the key is bit-identical across engines.
``minmax_bucket_sql`` is the integer-exact equal-width bucket in
DuckDB SQL; the query inlines its own bucket templates so the two
dialects' DIV spelling stays visible side by side.
"""

from __future__ import annotations


def minmax_bucket_sql(col: str, lo: int, hi: int, bits: int) -> str:
    """Integer-exact equal-width bucket of ``col`` into [0, 2**bits):
    ``((x - lo) * 2**bits) // (hi - lo + 1)`` in ANSI SQL (DuckDB
    ``//`` integer division)."""
    n = 1 << bits
    width = hi - lo + 1
    return f"CAST((({col} - {lo}) * {n}) // {width} AS INT)"


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
