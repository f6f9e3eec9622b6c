"""Entry transformation: parsed mimTitles rows → fully normalized
title/symbol columns ready for triple emission (reference
main.py:288-307 orchestrating omim_entry_parser.py:316-385).

Plan shape: one narrow DataFrame, five array columns, all Column
expressions (no Python), so at scale this is a single map stage over
the mimTitles scan (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def transform_entries(
    mim_titles: DataFrame, known_capitalizations: dict[str, str] | None = None
) -> DataFrame:
    """parse.parse_mim_titles output → per-entry normalized columns:

    mim_number, omim_type, replaced_by, pref_title, pref_symbols,
    alt_titles, alt_symbols, former_alt_titles, former_alt_symbols,
    included_titles, included_symbols, former_included_titles,
    former_included_symbols.
    """
    pref_parts = F.transform(
        F.split(F.col("preferred_title"), ";"), lambda x: F.trim(x)
    )
    df = mim_titles.withColumn(
        "pref_title_raw", F.element_at(pref_parts, 1)
    ).withColumn(
        "pref_symbols",
        F.slice(pref_parts, 2, F.greatest(F.size(pref_parts) - 1, F.lit(1))),
    )

    # Alternative + included blocks share the ';;' pair micro-format.
    for col, prefix in (
        ("alternative_titles", "alt"),
        ("included_titles", "included"),
    ):
        titles, symbols = title_symbol_pairs(F.coalesce(F.col(col), F.lit("")))
        # Empty source → empty arrays (split of '' yields [''])
        nonempty = F.coalesce(F.col(col), F.lit("")) != ""
        titles = F.when(nonempty, titles).otherwise(F.array().cast("array<string>"))
        symbols = F.when(nonempty, symbols).otherwise(
            F.array().cast("array<string>")
        )
        cur_t, for_t = partition_former(titles)
        cur_s, for_s = partition_former(symbols)
        strip = lambda arr: F.transform(arr, strip_suffix_markers)  # noqa: E731
        df = (
            df.withColumn(f"{prefix}_titles_stripped", strip(cur_t))
            .withColumn(f"{prefix}_symbols", strip(cur_s))
            .withColumn(f"former_{prefix}_titles_stripped", strip(for_t))
            .withColumn(f"former_{prefix}_symbols", strip(for_s))
        )

    # cleanup_title over pref + the four title arrays, then recapitalize
    # acronyms using the union of all symbol lists (reference
    # main.py:299-307)
    def cleanup(col):
        return cleanup_title(col, known_capitalizations)

    def recapitalize(col):
        return recapitalize_acronyms(col, F.col("all_abbrevs"))

    df = df.withColumn("pref_title", cleanup(F.col("pref_title_raw"))).withColumn(
        "all_abbrevs", F.concat("pref_symbols", *(s for _, s in _ARRAY_PAIRS))
    )
    out = ["mim_number", "omim_type", "replaced_by"]
    out += [recapitalize(F.col("pref_title")).alias("pref_title"), "pref_symbols"]
    for titles, symbols in _ARRAY_PAIRS:
        df = df.withColumn(titles, F.transform(f"{titles}_stripped", cleanup))
        out += [F.transform(titles, recapitalize).alias(titles), symbols]
    return df.select(*out)
