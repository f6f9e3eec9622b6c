"""The SQL-literal quoting helper: every constant the build writes
into SQL text goes through ``sqltext.q``, so it must round-trip any
string through Spark's parser (backslash unescaping and ``${…}``
variable substitution included)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from omim_spark.sqltext import q
from omim_spark.titles import _PY_WHITESPACE, _words

_TRICKY = [
    "'", "\\", "\n", "\t", "\r", "\x00", "${env:HOME}", "${spark.app.name}", "$",
    "{", "}", "\\'", "\\u0041", "\\n", "\U0001F600", "\U00020000", '"', "`", "--",
    "/*",
]
_text = st.lists(
    st.one_of(st.sampled_from(_TRICKY), st.text(max_size=4)), max_size=8
).map("".join)


@settings(
    max_examples=8,
    derandomize=True,
    database=None,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(texts=st.lists(_text, min_size=1, max_size=40))
def test_q_round_trips(spark, texts):
    # one Spark job per example: every drawn string is one column
    row = spark.range(1).selectExpr(
        *(f"{q(s)} AS v{i}" for i, s in enumerate(texts))
    ).collect()[0]
    assert list(row) == texts


def test_q_pins_constants_with_quotes_and_backslashes(spark):
    comment = "This term has one or more labels that end with ', INCLUDED'."
    variable = "${env:HOME}"  # the parser would substitute it unquoted
    row = spark.range(1).selectExpr(
        f"{q(comment)} AS comment", f"{q(_PY_WHITESPACE)} AS ws", f"{q(variable)} AS var"
    ).collect()[0]
    assert row.comment == comment
    assert row.ws == _PY_WHITESPACE
    assert row.var == variable
    # … and the whitespace class works as a regex argument: split on
    # every str.isspace() run, drop the empties.
    words = spark.createDataFrame([(" A  b\x1c",)], "t string").selectExpr(
        f"{_words('t')} AS w"
    )
    assert words.collect()[0].w == " A  b\x1c".split()
