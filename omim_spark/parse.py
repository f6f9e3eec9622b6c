"""Source-file parsers → typed DataFrames (SURVEY §2.2-§2.4,
reference omim2obo/parsers/omim_txt_parser.py).

Every parser is a pure SQL-expression transform (``selectExpr`` /
``filter`` text) over the comment-filtered scans from
``omim_spark.io.readers`` — the reference's per-line loops and dict
builds become select/filter/groupBy plans that Catalyst can push down
and parallelize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omim_spark.omim_types import (
    GENE_ENTRY_TYPES,
    PHENOTYPE_ENTRY_TYPES,
    omim_type_from_prefix_word,
)
from omim_spark.sqltext import fresh, q

# ---------------------------------------------------------------------------
# T1: MIM id validation/repair (reference omim_txt_parser.py:281-308)
# ---------------------------------------------------------------------------


_SIX_DIGITS = q(r"^\d{6}$")
_BRACED, _BRACED_ID = q(r"^\{\d{6}\}"), q(r"^\{(\d{6})\}")
_COMMA, _COMMA_ID = q(r"^\d{6},"), q(r"^(\d{6}),")


def parse_omim_id(col: str) -> str:
    """SQL expression: validate/repair the MIM id ``col``: 6 digits
    pass through; '{123456}' and '123456,...' forms are repaired;
    anything else → NULL."""
    return (
        f"CASE WHEN {col} RLIKE {_SIX_DIGITS} THEN {col}"
        f" WHEN {col} RLIKE {_BRACED} THEN regexp_extract({col}, {_BRACED_ID}, 1)"
        f" WHEN {col} RLIKE {_COMMA} THEN regexp_extract({col}, {_COMMA_ID}, 1) END"
    )


# ---------------------------------------------------------------------------
# mimTitles (reference omim_txt_parser.py:311-346)
# ---------------------------------------------------------------------------


def parse_mim_titles(raw: DataFrame) -> DataFrame:
    """mimTitles scan → (mim_number, omim_type, preferred_title,
    alternative_titles, included_titles, replaced_by array).

    'Caret' rows with 'MOVED TO …' yield the repaired replacement MIM
    list (the 'AND' token is dropped); other Caret rows (REMOVED FROM
    DATABASE) yield an empty array; non-obsolete rows yield NULL.
    """
    trimmed = raw.selectExpr(*(f"trim(`{c}`) AS `{c}`" for c in raw.columns)).filter(
        "NOT (coalesce(prefix, '') <=> '' AND coalesce(mim_number, '') <=> ''"
        " AND coalesce(preferred_title, '') <=> '') AND mim_number IS NOT NULL"
    )
    t, x = fresh("t"), fresh("x")
    moved = (
        "CASE WHEN prefix = 'Caret' AND startswith(preferred_title, 'MOVED TO ')"
        " THEN filter(transform(split(substring(preferred_title, 10, 10000), ' '),"
        f" {t} -> {parse_omim_id(t)}), {x} -> {x} IS NOT NULL)"
        " WHEN prefix = 'Caret' THEN CAST(array() AS array<string>) END"
    )
    return trimmed.selectExpr(
        "mim_number",
        f"{omim_type_from_prefix_word('prefix')} AS omim_type",
        "preferred_title",
        "alternative_titles",
        "included_titles",
        f"{moved} AS replaced_by",
    )


# ---------------------------------------------------------------------------
# morbidmap (reference omim_txt_parser.py:441-495)
# ---------------------------------------------------------------------------

_P_REGEX = r"(.*)(\d{6})\s*(?:\((\d+)\))?"  # label, mim, key (greedy: last 6-digit run)
_P_REGEX_NO_MIM = r"(.*)\s+\((\d+)\)"  # label, key


def parse_morbid_map(raw: DataFrame) -> DataFrame:
    """morbidmap scan → flat association rows
    (gene_mim, cyto_location, gene_symbols array,
    p_label, p_mim, map_key, row_order).

    The reference aggregates into gene→{...} dicts; the flat relation
    is the Spark-native shape — downstream groupings (by gene for A1,
    by phenotype for A2) are groupBys over this one DataFrame instead
    of two hand-built dict indexes.  ``row_order`` preserves file
    order for first-wins semantics (SURVEY §4.2).
    """

    has_mim = "phenotype RLIKE " + q(r"\d{6}")

    def extract(with_mim: int, without_mim: str) -> str:
        return (
            f"CASE WHEN {has_mim}"
            f" THEN regexp_extract(phenotype, {q(_P_REGEX)}, {with_mim})"
            f" ELSE {without_mim} END"
        )

    def no_mim(group: int) -> str:
        return f"regexp_extract(phenotype, {q(_P_REGEX_NO_MIM)}, {group})"

    return (
        raw.selectExpr("*", "monotonically_increasing_id() AS row_order")
        .filter("mim_number IS NOT NULL AND trim(mim_number) != ''")
        .selectExpr(
            "trim(mim_number) AS gene_mim",
            "trim(cyto_location) AS cyto_location",
            "split(gene_symbols, ', ') AS gene_symbols",
            f"{extract(1, no_mim(1))} AS p_label",
            f"{extract(2, q(''))} AS p_mim",
            f"{extract(3, no_mim(2))} AS map_key",
            "row_order",
        )
    )


def gene_phenotypes(assocs: DataFrame) -> DataFrame:
    """A1: regroup associations by gene with first-wins gene-level
    fields (reference parse_morbid_map builds this dict directly;
    min_by(row_order) reproduces file-order 'first')."""
    return assocs.groupBy("gene_mim").agg(
        F.expr("min_by(cyto_location, row_order) AS cyto_location"),
        F.expr("min_by(gene_symbols, row_order) AS gene_symbols"),
        F.expr(
            "sort_array(collect_list(struct(row_order, p_mim, p_label, map_key)))"
            " AS phenotype_associations"
        ),
    )


def phenotype_genes(assocs: DataFrame) -> DataFrame:
    """A2: inverted grouping phenotype → gene associations
    (reference get_phenotype_genes omim_txt_parser.py:673-688)."""
    return (
        assocs.filter("p_mim != ''")
        .groupBy("p_mim")
        .agg(
            F.expr(
                "sort_array(collect_list("
                "struct(row_order, gene_mim, p_label, map_key))) AS gene_associations"
            )
        )
    )


# ---------------------------------------------------------------------------
# mim2gene + genemap2 reconciliation (reference omim_txt_parser.py:404-438)
# ---------------------------------------------------------------------------


def _in(values: tuple[str, ...]) -> str:
    return ", ".join(map(q, values))


def parse_mim2gene(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """mim2gene scan → (gene_map, pheno_map) of mim → entrez id
    (F3: one scan, two filtered projections)."""
    base = raw.filter("entrez_id IS NOT NULL AND entrez_id != ''")
    gene_map = base.filter(f"entry_type IN ({_in(GENE_ENTRY_TYPES)})").select(
        "mim_number", "entrez_id"
    )
    pheno_map = base.filter(f"entry_type IN ({_in(PHENOTYPE_ENTRY_TYPES)})").select(
        "mim_number", "entrez_id"
    )
    return gene_map, pheno_map


def reconcile_hgnc_symbol_maps(
    mim2gene: DataFrame, genemap2: DataFrame
) -> DataFrame:
    """J3: mim→HGNC-symbol from mim2gene ∪ genemap2; a key mapped to
    two different symbols is DROPPED, not resolved (reference
    omim_txt_parser.py:426-438)."""
    a = mim2gene.filter("hgnc_symbol IS NOT NULL AND hgnc_symbol != ''").selectExpr(
        "mim_number AS mim", "hgnc_symbol AS sym_a"
    )
    b = genemap2.filter(
        "approved_gene_symbol IS NOT NULL AND approved_gene_symbol != ''"
    ).selectExpr("mim_number AS mim", "approved_gene_symbol AS sym_b")
    return (
        a.join(b, "mim", "full_outer")
        .filter("sym_a IS NULL OR sym_b IS NULL OR sym_a = sym_b")
        .selectExpr("mim", "coalesce(sym_a, sym_b) AS hgnc_symbol")
    )


# ---------------------------------------------------------------------------
# phenotypicSeries (reference omim_txt_parser.py:349-364)
# ---------------------------------------------------------------------------


def parse_phenotypic_series(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Ragged file → (series(ps, title), members(ps, member_mim)); the
    'PS' prefix is stripped (stored bare, re-prefixed at emission)."""
    ps = "regexp_replace(trim(ps_id), '^PS', '') AS ps"
    series = raw.filter("col2 IS NOT NULL AND col3 IS NULL").selectExpr(
        ps, "trim(col2) AS title"
    )
    members = raw.filter("col3 IS NOT NULL").selectExpr(ps, "trim(col2) AS member_mim")
    return series, members


# ---------------------------------------------------------------------------
# HGNC id↔symbol with quality gate (reference omim_txt_parser.py:610-655)
# ---------------------------------------------------------------------------


class HgncQualityError(ValueError):
    pass


def hgnc_symbol_id_map(
    hgnc: DataFrame, max_bad_ratio: float = 0.01
) -> DataFrame:
    """symbol → numeric hgnc id ('HGNC:5' → '5'), skipping null rows;
    fails the build if >1% of rows are bad (F10 quality gate — the one
    driver-side action, a 2-number aggregate)."""
    bad = "hgnc_id IS NULL OR symbol IS NULL"
    counts = hgnc.selectExpr(
        "count(*) AS total", f"sum(CAST({bad} AS BIGINT)) AS n_bad"
    ).collect()[0]
    if counts.total and counts.n_bad / counts.total > max_bad_ratio:
        raise HgncQualityError(
            f"{counts.n_bad}/{counts.total} HGNC rows missing id/symbol "
            f"(> {max_bad_ratio:.0%} threshold)"
        )
    return hgnc.filter(f"NOT ({bad})").selectExpr(
        "symbol", "substring_index(hgnc_id, ':', -1) AS hgnc_id"
    )
