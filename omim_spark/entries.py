"""Entry transformation: parsed mimTitles rows → fully normalized
title/symbol columns ready for triple emission (reference
main.py:288-307 orchestrating omim_entry_parser.py:316-385).

Plan shape: three SQL-text projections (split + partition + strip,
then title cleanup + the abbreviation union, then recapitalization),
each one ``selectExpr`` call, so building the frame costs the driver a
few dozen round trips.  A level boundary stops an expression that a
later lambda reads (``all_abbrevs``) from being re-evaluated per
array element.  No Python runs, so at scale this is a single map stage
over the mimTitles scan (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from omim_spark.sqltext import fresh
from omim_spark.titles import (
    cleanup_title,
    partition_former,
    recapitalize_acronyms,
    strip_suffix_markers,
    title_symbol_pairs,
)

# (titles, symbols) array pairs besides the preferred title's
_ARRAY_PAIRS = (
    ("alt_titles", "alt_symbols"),
    ("former_alt_titles", "former_alt_symbols"),
    ("included_titles", "included_symbols"),
    ("former_included_titles", "former_included_symbols"),
)
_KEYS = ("mim_number", "omim_type", "replaced_by")


def _each(arr: str, fn) -> str:
    x = fresh("t")
    return f"transform({arr}, {x} -> {fn(x)})"


def transform_entries(
    mim_titles: DataFrame, known_capitalizations: dict[str, str] | None = None
) -> DataFrame:
    """parse.parse_mim_titles output → per-entry normalized columns:

    mim_number, omim_type, replaced_by, pref_title, pref_symbols,
    alt_titles, alt_symbols, former_alt_titles, former_alt_symbols,
    included_titles, included_symbols, former_included_titles,
    former_included_symbols.
    """
    pref_parts = _each("split(preferred_title, ';')", lambda x: f"trim({x})")
    split = [
        *_KEYS,
        f"element_at({pref_parts}, 1) AS pref_title_raw",
        f"slice({pref_parts}, 2, greatest(size({pref_parts}) - 1, 1)) AS pref_symbols",
    ]
    # Alternative + included blocks share the ';;' pair micro-format.
    for col, prefix in (
        ("alternative_titles", "alt"),
        ("included_titles", "included"),
    ):
        cell = f"coalesce({col}, '')"
        pair_titles, pair_symbols = title_symbol_pairs(cell)

        def nonempty(arr: str) -> str:
            # Empty source → empty arrays (split of '' yields [''])
            return (
                f"CASE WHEN {cell} != '' THEN {arr}"
                " ELSE CAST(array() AS array<string>) END"
            )

        cur_t, for_t = partition_former(nonempty(pair_titles))
        cur_s, for_s = partition_former(nonempty(pair_symbols))
        split += [
            f"{_each(arr, strip_suffix_markers)} AS {name}"
            for arr, name in (
                (cur_t, f"{prefix}_titles_stripped"),
                (cur_s, f"{prefix}_symbols"),
                (for_t, f"former_{prefix}_titles_stripped"),
                (for_s, f"former_{prefix}_symbols"),
            )
        ]

    # cleanup_title over pref + the four title arrays, then recapitalize
    # acronyms using the union of all symbol lists (reference
    # main.py:299-307)
    def cleanup(x: str) -> str:
        return cleanup_title(x, known_capitalizations)

    def recapitalize(x: str) -> str:
        return recapitalize_acronyms(x, "all_abbrevs")

    symbols = ["pref_symbols", *(s for _, s in _ARRAY_PAIRS)]
    cleaned = [
        *_KEYS,
        *symbols,
        f"{cleanup('pref_title_raw')} AS pref_title",
        f"concat({', '.join(symbols)}) AS all_abbrevs",
        *(f"{_each(f'{t}_stripped', cleanup)} AS {t}" for t, _ in _ARRAY_PAIRS),
    ]
    out = [*_KEYS, f"{recapitalize('pref_title')} AS pref_title", "pref_symbols"]
    for titles, symbols_col in _ARRAY_PAIRS:
        out += [f"{_each(titles, recapitalize)} AS {titles}", symbols_col]
    return mim_titles.selectExpr(*split).selectExpr(*cleaned).selectExpr(*out)
