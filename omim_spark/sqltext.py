"""Spark SQL text building blocks.

The build hands Spark SQL-text expressions (``selectExpr``,
``filter``, ``spark.sql``) instead of trees of ``Column`` objects: a
Column costs one driver→JVM round trip per node, a SQL string costs
one per call however large it is.  Constants enter that text only
through :func:`q`.
"""

from __future__ import annotations

import itertools


def q(s: str) -> str:
    """``s`` as a Spark SQL string literal that evaluates back to ``s``.

    The parser unescapes backslashes in string literals, so ``\\`` and
    ``'`` are escaped; ``$`` is written as ``\\u0024`` because the
    parser substitutes ``${…}`` variable references before it lexes
    the text."""
    escaped = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{escaped}'"


_lambda_ids = itertools.count()


def fresh(name: str) -> str:
    """A lambda variable name no other lambda uses, so a lambda nested
    inside another can never shadow a variable its body reads."""
    return f"{name}_{next(_lambda_ids)}"
