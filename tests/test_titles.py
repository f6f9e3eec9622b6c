"""Unit tests for the title pipeline (T1-T8) — mirrors the reference's
parser tests (SURVEY §5.1) plus the roman/abbreviation edge cases the
golden build depends on."""

import pytest

from omim_spark.titles import (
    ROMAN_PATTERN,
    cleanup_title_py,
    detect_abbreviations_py,
    from_roman,
    recapitalize_acronyms_py,
    to_roman,
)


class TestRoman:
    def test_round_trip(self):
        for n in [1, 4, 9, 14, 40, 49, 99]:
            assert from_roman(to_roman(n)) == n

    def test_pattern_matches_with_suffix(self):
        # The permissive pattern requires a trailing uppercase char that
        # may itself be a numeral (romanplus.py:55-67 semantics).
        assert ROMAN_PATTERN.match("III")
        assert ROMAN_PATTERN.match("IIIB")
        assert ROMAN_PATTERN.match("IVA")
        assert not ROMAN_PATTERN.match("VITAMIN")
        assert not ROMAN_PATTERN.match("iii")

    def test_from_roman_ignores_suffix(self):
        assert from_roman("IIIB") == 3
        assert from_roman("IVA") == 4


class TestCleanupTitle:
    def test_basic_lowercase(self):
        assert cleanup_title_py("PRUNE BELLY SYNDROME") == "prune belly syndrome"

    def test_roman_conversion_not_first_word(self):
        assert cleanup_title_py("MARKER SYNDROME, TYPE III") == "marker syndrome, type 3"
        # first word is never treated as a roman numeral ("X inactivation")
        assert cleanup_title_py("X LINKED THING") == "x linked thing"

    def test_roman_suffix_retained(self):
        assert cleanup_title_py("MULTI DISEASE, TYPE IIB") == "multi disease, type 2b"

    def test_syndrome_c_not_converted(self):
        # 'C' alone is 100 — outside 0<n<100, so retained
        assert cleanup_title_py("SYNDROME C") == "syndrome c"

    def test_word_replacement_after_casing(self):
        out = cleanup_title_py(
            "EAGLE-BARRETT SYNDROME", {"eagle-barrett": "Eagle-Barrett"}
        )
        assert out == "Eagle-Barrett syndrome"

    def test_case_method_title_lowercases_interior_conjunction(self):
        # conjunction at word 3 is forced lowercase; at word 1 it keeps
        # the case method's casing (reference's stated intent — its own
        # branch is dead code, see cleanup_title_py docstring)
        out = cleanup_title_py("EARS AND EYES AND MORE", case_method="title")
        assert out == "Ears and Eyes and More"
        out = cleanup_title_py("AND THEN SYNDROME", case_method="title")
        assert out == "And Then Syndrome"

    def test_case_method_default_identical_to_reference(self):
        # under the default 'lower' the conditional branch is a no-op
        # either way — byte-identical to reference behavior
        assert cleanup_title_py("EARS AND EYES") == "ears and eyes"


class TestAbbreviations:
    def test_detect_skips_acronyms_in_allcaps_label(self):
        # ≥75% fully-capitalized words → can't infer bare acronyms
        assert detect_abbreviations_py("PRUNE BELLY SYNDROME; PBS") == []

    def test_detect_in_mixed_case(self):
        out = detect_abbreviations_py("prune belly syndrome PBS variant x")
        assert "PBS" in out

    def test_recapitalize_known(self):
        out = recapitalize_acronyms_py("prune belly syndrome pbs", ["PBS"])
        assert out == "prune belly syndrome PBS"

    def test_recapitalize_no_abbrevs_identity(self):
        assert recapitalize_acronyms_py("plain title", []) == "plain title"


class TestTitleExpressions:
    @pytest.fixture(autouse=True)
    def _spark(self, spark):
        self.spark = spark

    def test_title_symbol_pairs_and_former(self):
        from omim_spark.titles import partition_former, title_symbol_pairs

        df = self.spark.createDataFrame(
            [("ACS V;; NOACK SYNDROME;; OLD ONE, FORMERLY; ACS5",)], ["alt"]
        )
        titles, symbols = title_symbol_pairs("alt")
        cur, former = partition_former(titles)
        row = df.selectExpr(
            f"{titles} AS t", f"{symbols} AS s", f"{cur} AS c", f"{former} AS f"
        ).collect()[0]
        assert row.t == ["ACS V", "NOACK SYNDROME", "OLD ONE, FORMERLY"]
        assert row.s == ["ACS5"]
        assert row.c == ["ACS V", "NOACK SYNDROME"]
        assert row.f == ["OLD ONE, FORMERLY"]

    def test_strip_suffix_markers(self):
        from omim_spark.titles import strip_suffix_markers

        df = self.spark.createDataFrame(
            [("CRANIOFACIAL DYSPLASIA, INCLUDED",), ("OLD NAME, FORMERLY",)],
            ["t"],
        )
        out = [r.s for r in df.selectExpr(f"{strip_suffix_markers('t')} AS s").collect()]
        assert out == ["CRANIOFACIAL DYSPLASIA", "OLD NAME"]
