"""Parity of the SQL title functions (cleanup_title,
detect_abbreviations, recapitalize_acronyms) with their plain-Python
oracles (the ``*_py`` functions).

Every case is put into ONE DataFrame that is collected once, so the
sweep costs one Spark job however many cases hypothesis draws."""

from __future__ import annotations

import itertools
import string
import sys

import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from omim_spark.titles import (
    ROMAN_WORDS,
    cleanup_title,
    cleanup_title_py,
    detect_abbreviations,
    detect_abbreviations_py,
    recapitalize_acronyms,
    recapitalize_acronyms_py,
)

WHITESPACE = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
REPLACEMENTS = {"dna": "DNA", "2b": "2B", "straße": "Strasse", "and": "AND"}

_WORDS = [
    # roman candidates, converted only from word 2 on
    "II", "IIB", "IVA", "XIA", "C", "MMM", "XCX", "VIV", "IIV", "LC", "XCIXA",
    # dotted acronyms (re.findall keeps the LAST group) and title-cased
    "A.B.", "A.B.C.", "X.1.2.", "St.", "Dr.",
    # plain acronyms, mixed case, stop-words, replacement keys
    "DNA", "dna", "PBS", "Pbs", "pbs", "T2D", "SYNDROME", "Syndrome", "of",
    "AND", "and", "the", "type",
    # non-ASCII case mapping
    "ß", "STRASSE", "straße", "İ", "İSTANBUL", "Σ", "ΑΣ", "ΟΔΟΣ", "ǅ", "ǆ", "Ǆ",
]
_ALPHABET = string.ascii_letters + string.digits + ".,;-()'" + "ßİΣσςǅé"

_word = st.one_of(
    st.sampled_from(_WORDS),
    st.sampled_from(sorted(ROMAN_WORDS)),
    st.text(_ALPHABET, min_size=1, max_size=8),
)
_gap = st.text(st.sampled_from(WHITESPACE), min_size=1, max_size=3)
_edge = st.text(st.sampled_from(WHITESPACE), max_size=2)


@st.composite
def _titles(draw):
    title = draw(_edge)
    for i, word in enumerate(draw(st.lists(_word, max_size=6))):
        title += (draw(_gap) if i else "") + word
    return title + draw(_edge)


_abbrevs = st.one_of(
    st.none(),
    st.just([]),
    st.lists(st.sampled_from(_WORDS + ["PBS", "PBS", "pBS"]), max_size=5),
)


def _draw(strategy, n: int) -> list:
    """``n`` deterministic draws from ``strategy`` (no shrinking: the
    cases are checked together in one Spark job, not one by one)."""
    out: list = []

    @settings(
        max_examples=n,
        derandomize=True,
        database=None,
        phases=[Phase.generate],
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(strategy)
    def collect(case):
        out.append(case)

    collect()
    return out


def _fixed_cases() -> list[tuple[str | None, list[str] | None]]:
    """Cases every run must contain, whatever hypothesis draws."""
    cases = [
        (None, None), (None, ["PBS"]), ("", None), ("", []), ("", ["PBS"]),
        ("".join(WHITESPACE), ["PBS"]), (" \t ", []),
        ("II TYPE II", []), ("X LINKED TYPE XCIXA", None),
        ("St. Louis A.B.C. ENCEPHALITIS", []), ("ABCD SYNDROME TYPE II", []),
        ("prune belly pbs Pbs", ["PBS", "Pbs", "PBS", "pBS"]),
        ("ΟΔΟΣ ß İ ǅ straße", ["ǅ", "ß"]),
        # not whitespace to Python: zero-width space, ESC
        ("A\u200bB \x1bC", []),
    ]
    # every whitespace character, alone and in runs, between two words
    for c in WHITESPACE:
        cases.append((f"A{c}b", []))
        cases.append((f"{c}X{c * 3}IIB{c}", ["X"]))
    return cases


@pytest.fixture(scope="module")
def parity(spark):
    cases = _fixed_cases() + _draw(st.tuples(_titles(), _abbrevs), 400)
    df = spark.createDataFrame(cases, "title string, abbrevs array<string>")
    rows = df.selectExpr(
        "title",
        "abbrevs",
        f"{cleanup_title('title')} AS clean",
        f"{cleanup_title('title', REPLACEMENTS)} AS clean_repl",
        f"{detect_abbreviations('title')} AS detected",
        f"{recapitalize_acronyms('title', 'abbrevs')} AS recap",
    ).collect()
    assert len(rows) == len(cases)
    return rows


def _mismatches(rows, column, oracle):
    return [
        (r.title, r.abbrevs, r[column], oracle(r))
        for r in rows
        if r[column] != oracle(r)
    ]


def test_cleanup_title_matches_py(parity):
    assert not _mismatches(parity, "clean", lambda r: cleanup_title_py(r.title))
    assert not _mismatches(
        parity, "clean_repl", lambda r: cleanup_title_py(r.title, REPLACEMENTS)
    )


def test_detect_abbreviations_matches_py(parity):
    assert not _mismatches(
        parity,
        "detected",
        lambda r: None if r.title is None else detect_abbreviations_py(r.title),
    )


def test_recapitalize_acronyms_matches_py(parity):
    assert not _mismatches(
        parity, "recap", lambda r: recapitalize_acronyms_py(r.title, r.abbrevs)
    )


def test_roman_words_exhaustive(spark):
    """Every tens + ones + letter word (the 2,572 table words and the
    shape-alike words outside it, e.g. XCX = 100) as word 1 and word 3."""
    tens = ["", "X", "XX", "XXX", "XL", "L", "LX", "LXX", "LXXX", "XC"]
    ones = ["", "I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX"]
    words = sorted(
        {t + o + c for t, o, c in itertools.product(tens, ones, string.ascii_uppercase)}
    )
    assert len(ROMAN_WORDS) == 2572 and set(ROMAN_WORDS) < set(words)
    titles = [f"{w} TYPE {w}" for w in words]
    got = (
        spark.createDataFrame([(t,) for t in titles], "title string")
        .selectExpr("title", f"{cleanup_title('title')} AS clean")
        .collect()
    )
    bad = [(r.title, r.clean) for r in got if r.clean != cleanup_title_py(r.title)]
    assert not bad
    assert len(got) == len(titles)


def test_cleanup_title_null_replacement_means_none(spark):
    # A null cap_name (known_capitalizations.tsv row with no value)
    # leaves the word as cleaned, roman conversions included.
    clean = cleanup_title("title", {"2b": None, "dna": "DNA", "xyz": None})
    row = spark.createDataFrame([("DNA TYPE IIB XYZ",)], "title string").selectExpr(
        f"{clean} AS clean"
    ).first()
    assert row.clean == "DNA type 2b xyz"


def test_cleanup_title_writes_each_map_literal_once():
    # The replacements are folded into the roman table, so the ~41 KB
    # roman map literal is not repeated for the replacement lookup.
    roman_key = '"XCIXA":'
    assert cleanup_title("title").count(roman_key) == 1
    assert cleanup_title("title", REPLACEMENTS).count(roman_key) == 1
