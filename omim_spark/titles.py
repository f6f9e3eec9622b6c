"""Title normalization pipeline (SURVEY §2.7 T1-T8).

Reference: omim2obo/parsers/omim_entry_parser.py:163-369 and
omim2obo/utils/romanplus.py.  Every step is a Spark SQL expression
(returned as text, composed by the caller), so no Python runs in the
build; the procedural ones also exist as plain
Python (``*_py``), the readable reference and the test oracle.

Fidelity notes (deliberate, documented deviations from reference
accidents):
- ``detect_abbreviations`` (omim_entry_parser.py:163-190) calls
  ``re.findall`` on a pattern with a capture group, so dotted acronyms
  yield only the last group (e.g. 'B.' from 'A.B.').  We replicate
  that exactly — it feeds the recapitalization matcher.
- ``remove_included_and_formerly_suffixes`` (omim_entry_parser.py:
  316-320) passes ``re.IGNORECASE`` as ``re.sub``'s *count* argument,
  so matching is case-SENSITIVE and capped at 2 replacements.  We keep
  case-sensitive matching (the data is uppercase) but replace all
  occurrences.
- ``recapitalize_acronyms_in_title`` iterates a Python set (order
  nondeterministic); we sort candidates for determinism.
"""

from __future__ import annotations

import itertools
import json
import re
import string

from omim_spark.sqltext import fresh, q

# ---------------------------------------------------------------------------
# Roman numerals (reference omim2obo/utils/romanplus.py:38-83)
# ---------------------------------------------------------------------------

_ROMAN_MAP = (
    ("M", 1000), ("CM", 900), ("D", 500), ("CD", 400),
    ("C", 100), ("XC", 90), ("L", 50), ("XL", 40),
    ("X", 10), ("IX", 9), ("V", 5), ("IV", 4), ("I", 1),
)

# Permissive pattern: a roman numeral plus exactly one trailing
# uppercase letter that may itself be consumed as part of the numeral
# via backtracking (romanplus.py:55-67 — "differs from original
# roman.py": the suffix letter is REQUIRED by the regex, which is what
# lets bare 'III' match with ones='II' + suffix='I').
ROMAN_PATTERN = re.compile(
    r"^M{0,4}(CM|CD|D?C{0,3})(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})[A-Z]$"
)


def to_roman(num: int) -> str:
    if not 0 < num < 5000:
        raise ValueError(f"number {num} out of range (must be 1..4999)")
    out = []
    for numeral, value in _ROMAN_MAP:
        while num >= value:
            out.append(numeral)
            num -= value
    return "".join(out)


def from_roman(s: str) -> int:
    """Greedy numeral scan; trailing non-numeral characters are
    ignored (romanplus.py:69-83 behavior — no tail validation)."""
    result = 0
    index = 0
    for numeral, value in _ROMAN_MAP:
        while s[index : index + len(numeral)] == numeral:
            result += value
            index += len(numeral)
    return result


# ---------------------------------------------------------------------------
# cleanup_title (reference omim_entry_parser.py:194-270)
# ---------------------------------------------------------------------------

_CONJUNCTIONS = ["and", "but", "yet", "for", "nor", "so"]
_LITTLE_PREPS = ["at", "by", "in", "of", "on", "to", "up", "as", "it", "or"]
_ARTICLES = ["a", "an", "the"]
_LOWER_ALWAYS = set(_CONJUNCTIONS + _LITTLE_PREPS + _ARTICLES)


def cleanup_title_py(
    title: str,
    word_replacements: dict[str, str] | None = None,
    case_method: str = "lower",
) -> str:
    """Word-wise: roman→arabic from word 2 on (keeping non-roman
    suffixes, IIIB→3B; only 0<n<100 so 'SYNDROME C' survives), then
    per-word recasing via ``case_method`` ('lower' | 'upper' | 'title'
    | 'capitalize', reference omim_entry_parser.py:194-270's
    ``replacement_case_method``), then forced lowercase for
    conjunctions/prepositions/articles at any position but the first,
    then dictionary replacement.

    Documented deviation: the reference tests the already-recased word
    against its lowercase stop-lists (omim_entry_parser.py:263-264),
    so its conditional-lowercase branch can never fire for any case
    method — dead code contradicting its own comment ("replace
    interior conjunctions ... with lowercase, always").  We implement
    the stated intent (case-insensitive membership).  Identical output
    for the default 'lower', which is the only method any reference
    call site uses (main.py:292, omim_entry_parser.py:90-101,340)."""
    if title is None:
        return None
    word_replacements = word_replacements or {}
    fixed = []
    for i, word in enumerate(title.split(), start=1):
        if i > 1 and ROMAN_PATTERN.match(word):
            num = from_roman(word)
            if 0 < num < 100:
                suffix = word.replace(to_roman(num), "", 1)
                word = f"{num}{suffix}"
        word = getattr(word, case_method)()
        if word.lower() in _LOWER_ALWAYS and i != 1:
            word = word.lower()
        word = word_replacements.get(word, word)
        fixed.append(word)
    return " ".join(fixed)


# ---------------------------------------------------------------------------
# Abbreviation detection / recapitalization
# (reference omim_entry_parser.py:163-190, 273-313)
# ---------------------------------------------------------------------------

_ACRONYM_NO_PERIODS = re.compile(r"[A-Z][A-Z0-9]+")
_ACRONYM_WITH_PERIODS = re.compile(r"[A-Z]\.([A-Z0-9]\.)+")  # findall → group!
_TITLE_CASED_ABBREV = re.compile(r"[A-Z][a-zA-Z]+\.")


def detect_abbreviations_py(
    label: str, capitalization_threshold: float = 0.75
) -> list[str]:
    words = label.split()
    if not words:
        return []
    fully_capitalized = sum(1 for w in words if w.upper() == w)
    is_largely_uppercase = fully_capitalized / len(words) >= capitalization_threshold
    acronyms_without_periods = (
        [] if is_largely_uppercase else _ACRONYM_NO_PERIODS.findall(label)
    )
    title_cased = _TITLE_CASED_ABBREV.findall(label)
    # findall on a grouped pattern returns the group text — reference
    # behavior preserved (see module docstring).
    with_periods = _ACRONYM_WITH_PERIODS.findall(label)
    return with_periods + acronyms_without_periods + title_cased


def recapitalize_acronyms_py(title: str, known_abbrevs: list[str] | None) -> str:
    """Word-wise: a word equal to the lowercase of any known or
    inferred abbreviation is replaced by the abbreviation's canonical
    casing.  Candidates sorted for determinism."""
    if title is None:
        return None
    abbrevs = set(known_abbrevs or []) | set(detect_abbreviations_py(title))
    if not abbrevs:
        return title
    out = []
    for word in title.split():
        for abbrev in sorted(abbrevs):
            if abbrev.lower() == word:
                out.append(abbrev)
                break
        else:
            out.append(word)
    return " ".join(out)


# ---------------------------------------------------------------------------
# SQL forms of the three cores above (parity with the *_py oracles is
# pinned by tests/test_titles_columns.py).  Each function takes SQL
# expressions and returns one; lambda variables come from ``fresh``, so
# a caller may pass an expression over its own lambda variable.
# ---------------------------------------------------------------------------

# str.split() separators: the 29 str.isspace() characters (Java's \s
# misses 20 of them, e.g. \xa0 and \u2003).
_PY_WHITESPACE = (
    r"[\t\n\x0b\x0c\r\x1c-\x1f \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)
# Map lookup scans keys linearly; this shape test skips it for all but
# roman candidates.
_ROMAN_SHAPE = r"^(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})[A-Z]$"

_NO_STRINGS = "CAST(array() AS array<string>)"


def _roman_words() -> dict[str, str]:
    """The roman rule as a finite table: every word ROMAN_PATTERN
    matches with 0 < from_roman < 100 is tens + ones + one letter (an
    M/D/C lead is >= 100), mapped to its lowercased conversion."""
    tens = [""] + [to_roman(10 * k) for k in range(1, 10)]
    ones = [""] + [to_roman(k) for k in range(1, 10)]
    table = {}
    for w in map("".join, itertools.product(tens, ones, string.ascii_uppercase)):
        if ROMAN_PATTERN.match(w) and 0 < (n := from_roman(w)) < 100:
            table[w] = f"{n}{w.replace(to_roman(n), '', 1)}".lower()
    return table


ROMAN_WORDS = _roman_words()


def _map_lit(d: dict[str, str]) -> str:
    """A dict as one map literal: the optimizer folds ``from_json`` of a
    constant string."""
    return f"from_json({q(json.dumps(d))}, 'map<string,string>')"


def _words(col: str) -> str:
    w = fresh("w")
    return f"filter(split({col}, {q(_PY_WHITESPACE)}), {w} -> {w} != '')"


def cleanup_title(col: str, word_replacements: dict[str, str] | None = None) -> str:
    """:func:`cleanup_title_py` with ``case_method='lower'``, under
    which its stop-list step is a no-op and so is left out.  The
    replacements are folded into the roman table, so each map literal
    appears once in the text; a null replacement means none."""
    repl = {k: v for k, v in (word_replacements or {}).items() if v is not None}
    roman = {k: repl.get(v, v) for k, v in ROMAN_WORDS.items()}
    w, i = fresh("w"), fresh("i")
    lookups = [
        f"CASE WHEN {i} > 0 AND {w} RLIKE {q(_ROMAN_SHAPE)}"
        f" THEN try_element_at({_map_lit(roman)}, {w}) END"
    ]
    if repl:
        lookups.append(f"try_element_at({_map_lit(repl)}, lower({w}))")
    word = f"coalesce({', '.join(lookups)}, lower({w}))"
    return f"array_join(transform({_words(col)}, ({w}, {i}) -> {word}), ' ')"


def detect_abbreviations(col: str) -> str:
    """:func:`detect_abbreviations_py` (default threshold).  Group 1 of the dotted pattern
    is what ``re.findall`` returns; no words gives a null share, so no
    bare acronyms (there are none to find anyway)."""
    w = fresh("w")
    share = (
        f"try_divide(size(filter({_words(col)}, {w} -> upper({w}) = {w})),"
        f" size({_words(col)}))"
    )

    def findall(pattern: re.Pattern, group: int) -> str:
        return f"regexp_extract_all({col}, {q(pattern.pattern)}, {group})"

    return (
        f"concat({findall(_ACRONYM_WITH_PERIODS, 1)},"
        f" CASE WHEN {share} < 0.75D THEN {findall(_ACRONYM_NO_PERIODS, 0)}"
        f" ELSE {_NO_STRINGS} END,"
        f" {findall(_TITLE_CASED_ABBREV, 0)})"
    )


def recapitalize_acronyms(col: str, known_abbrevs: str) -> str:
    """:func:`recapitalize_acronyms_py`: a word becomes the smallest
    candidate (code-point order, as ``sorted``) whose lowercase equals
    it; no candidates leaves the title untouched."""
    abbrevs, w, a = fresh("abbrevs"), fresh("w"), fresh("a")
    words = (
        f"transform({_words(col)}, {w} -> coalesce("
        f"array_min(filter({abbrevs}, {a} -> lower({a}) = {w})), {w}))"
    )
    recase = (
        f"CASE WHEN size({abbrevs}) = 0 THEN {col}"
        f" ELSE array_join({words}, ' ') END"
    )
    # The candidates are bound to a lambda variable so they are computed
    # once per title; an outer expression read inside the word lambda
    # would be re-evaluated per word.
    candidates = (
        f"concat(coalesce({known_abbrevs}, {_NO_STRINGS}), {detect_abbreviations(col)})"
    )
    return f"transform(array({candidates}), {abbrevs} -> {recase})[0]"


# ---------------------------------------------------------------------------
# Structural title expressions (SQL — T3/T4/T5)
# ---------------------------------------------------------------------------


def title_symbol_pairs(col: str) -> tuple[str, str]:
    """`T1;S1;S2;;T2;;T3;S3` → (titles array, symbols array)
    (T3 — omim_entry_parser.py:344-369: pairs split on ';;', first
    element of each pair is a title, the rest are symbols)."""
    pairs = f"split({col}, ';;')"
    p, x = fresh("p"), fresh("x")
    titles = f"transform({pairs}, {p} -> trim(element_at(split({p}, ';'), 1)))"
    symbols = (
        f"flatten(transform({pairs}, {p} -> transform("
        f"slice(split({p}, ';'), 2, greatest(size(split({p}, ';')) - 1, 1)),"
        f" {x} -> trim({x}))))"
    )
    return titles, symbols


def partition_former(arr: str) -> tuple[str, str]:
    """Split an array into (current, former) by the ', FORMERLY'
    marker (T4 — omim_entry_parser.py:323-331, case-insensitive)."""
    x = fresh("x")
    has_formerly = f"contains(upper({x}), ', FORMERLY')"
    return (
        f"filter({arr}, {x} -> NOT {has_formerly})",
        f"filter({arr}, {x} -> {has_formerly})",
    )


def strip_suffix_markers(col: str) -> str:
    """Remove ', FORMERLY' / ', INCLUDED' suffixes (T5 —
    omim_entry_parser.py:316-320; case-sensitive, see module
    docstring)."""
    formerly, included = q(r",\s*FORMERLY"), q(r",\s*INCLUDED")
    return f"regexp_replace(regexp_replace({col}, {formerly}, ''), {included}, '')"
