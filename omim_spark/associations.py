"""Gene↔disease association derivation (SURVEY §4.2 — the decision
table at reference main.py:417-488, README.md:226-282).

The reference walks a phenotype→assocs dict row by row with mutable
short-circuit state; here the same semantics are one window count +
two broadcast joins + an ordered CASE cascade (SQL text), evaluated
once over the flat association relation:

1. protected (curator) short-circuits everything → bidirectional
   causal emission + HGNC exactMatch;
2. missing p_mim or mapping key '1' → skip;
3. key ≠ '3' or excluded phenotype → non-causal restriction, with the
   key-specific predicate only for single-assoc unexcluded phenotypes,
   else RO:0003302;
4. key '3': skip multi-assoc or non-definitive labels ([{?-prefixed),
   else bidirectional causal;
5. protected rows absent from morbidmap are appended (anti join) with
   default evidence.

Scale: exclusions/protected are curator files (hundreds of rows) →
broadcast; the window count shuffles once on p_mim; no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omim_spark.omim_types import MORBIDMAP_KEY_PREDICATES
from omim_spark.sqltext import q

MAPPING_KEY_MEANINGS = {
    "1": "The disorder is placed on the map based on its association with a gene, "
    "but the underlying defect is not known.",
    "2": "The disorder has been placed on the map by linkage or other statistical "
    "method; no mutation has been found.",
    "3": "The molecular basis for the disorder is known; a mutation has been found "
    "in the gene.",
    "4": "A contiguous gene deletion or duplication syndrome, multiple genes are "
    "deleted or duplicated causing the phenotype.",
}

ACT_PROTECTED = "causal_protected"
ACT_CAUSAL = "causal"
ACT_NONCAUSAL = "noncausal"
ACT_SKIP = "skip"

PROTECTED_EVIDENCE = "Evidence: (3) disease-defining (protected association)"


def _case(col: str, arms: dict, default: str = "NULL") -> str:
    """``CASE col WHEN k THEN v … ELSE default END`` over constant arms
    (string or integer keys, string values)."""
    whens = " ".join(
        f"WHEN {q(k) if isinstance(k, str) else k} THEN {q(v)}" for k, v in arms.items()
    )
    return f"CASE {col} {whens} ELSE {default} END"


def derive_associations(
    assocs: DataFrame,
    exclusions: DataFrame,
    protected: DataFrame,
) -> DataFrame:
    """assocs: parse.parse_morbid_map output.
    exclusions: (p_mim, orcid) curator exclusions (utils.py:70-80).
    protected: (p_mim, gene_mim, hgnc_id, orcid) curator protections.

    Returns one row per decision: p_mim, gene_mim, p_label, map_key,
    n_assocs, action, predicate, evidence, orcid, hgnc_id, row_order.
    """
    excluded = "(x_mim IS NOT NULL)"
    is_protected = "(pp_mim IS NOT NULL)"
    nondefinitive = "p_label RLIKE " + q(r"^[\[{?]")
    label = _case("map_key", MAPPING_KEY_MEANINGS, "''")
    key_pred = _case(
        "map_key", {k: p for k, p in MORBIDMAP_KEY_PREDICATES.items() if p}
    )
    action = f"""CASE WHEN {is_protected} THEN {q(ACT_PROTECTED)}
                      WHEN map_key = '1' THEN {q(ACT_SKIP)}
                      WHEN map_key != '3' OR {excluded} THEN {q(ACT_NONCAUSAL)}
                      WHEN n_assocs > 1 OR {nondefinitive} THEN {q(ACT_SKIP)}
                      ELSE {q(ACT_CAUSAL)} END"""
    predicate = f"""CASE WHEN {is_protected} THEN 'RO:0004013'
                         WHEN map_key = '1' THEN NULL
                         WHEN map_key != '3' OR {excluded} THEN
                           CASE WHEN n_assocs = 1 AND NOT {excluded} THEN {key_pred}
                                ELSE 'RO:0003302' END
                         WHEN n_assocs > 1 OR {nondefinitive} THEN NULL
                         ELSE 'RO:0004013' END"""
    orcid = f"""CASE WHEN {is_protected} THEN prot_orcid
                     WHEN {excluded} AND ({action}) = {q(ACT_NONCAUSAL)} THEN x_orcid
                     ELSE NULL END"""
    linked = assocs.filter("p_mim != ''")
    exclusion = exclusions.selectExpr("p_mim AS x_mim", "orcid AS x_orcid")
    protection = protected.selectExpr(
        "p_mim AS pp_mim",
        "gene_mim AS pp_gene",
        "hgnc_id AS prot_hgnc",
        "orcid AS prot_orcid",
    )
    decided = (
        linked.selectExpr("*", "count(*) OVER (PARTITION BY p_mim) AS n_assocs")
        .join(F.broadcast(exclusion), F.expr("p_mim = x_mim"), "left")
        .join(
            F.broadcast(protection),
            F.expr("p_mim = pp_mim AND gene_mim = pp_gene"),
            "left",
        )
        .selectExpr(
            "p_mim",
            "gene_mim",
            "p_label",
            "map_key",
            "n_assocs",
            f"{action} AS action",
            f"{predicate} AS predicate",
            f"format_string('Evidence: (%s) %s', map_key, {label}) AS evidence",
            f"{orcid} AS orcid",
            "prot_hgnc AS hgnc_id",
            "row_order",
        )
    )
    # J6: protected associations absent from morbidmap (main.py:483-488)
    keys = ["p_mim", "gene_mim"]
    leftover = protected.join(
        linked.select(*keys).distinct(), keys, "left_anti"
    ).selectExpr(
        "p_mim",
        "gene_mim",
        "CAST(NULL AS STRING) AS p_label",
        "'3' AS map_key",
        "CAST(0 AS BIGINT) AS n_assocs",
        f"{q(ACT_PROTECTED)} AS action",
        "'RO:0004013' AS predicate",
        f"{q(PROTECTED_EVIDENCE)} AS evidence",
        "orcid",
        "hgnc_id",
        "CAST(NULL AS BIGINT) AS row_order",
    )
    return decided.unionByName(leftover)


def susceptibility_rows(assocs: DataFrame, omim_to_mondo: DataFrame) -> DataFrame:
    """Susceptibility subset (reference main.py:434-438 + S11 sink):
    '{'-prefixed labels → (mondo_id, omim_curie), one row per SSSOM
    MONDO mapping, distinct + sorted downstream."""
    susc = (
        assocs.filter("p_mim != '' AND startswith(ltrim(p_label), '{')")
        .select("p_mim")
        .distinct()
    )
    return (
        susc.join(omim_to_mondo, F.expr("p_mim = omim_mim"))
        .selectExpr("mondo_id", "concat('OMIM:', p_mim) AS omim_id")
        .distinct()
    )


_CASE_NAMES = {
    1: "D2G: digenic",
    2: "D2G: self-referential",
    3: "D2G: somatic",
    4: "D2G: Phenotype is gene",
    5: "D2G: Phenotype type error",
}


def review_cases(decided: DataFrame, assocs: DataFrame, omim_types: DataFrame) -> DataFrame:
    """Review-case log (reference omim_entry_parser.py:444-487), as a
    derived DataFrame instead of a global accumulator (SURVEY §4.1):
    only rows reaching the causal branch are logged.

    Case 1 digenic / 3 somatic: substring of the label.
    Case 2 self-referential: the phenotype MIM is itself a gene MIM in
      morbidmap with associations lacking a p_mim; numbered
      sequentially in file order (dense_rank over first-occurrence
      order — reproduces the reference's counter deterministically).
    Case 4/5: unexpected phenotype MIM type.
    """
    causal = decided.filter(f"action = {q(ACT_CAUSAL)}")
    info = (
        "format_string('(Phenotype: %s %s), (Map key: %s), (Gene: %s)',"
        " p_mim, p_label, map_key, gene_mim)"
    )

    def case(code: int, rows: DataFrame, value: str) -> DataFrame:
        return rows.selectExpr(f"{code} AS classCode", f"{value} AS value")

    digenic = case(1, causal.filter("contains(lower(p_label), 'digenic')"), info)
    somatic = case(3, causal.filter("contains(lower(p_label), 'somatic')"), info)

    # Self-referential: p_mim appears as gene_mim with empty-p_mim assocs
    self_ref_genes = assocs.filter("p_mim = ''").selectExpr(
        "gene_mim AS sr_gene", "p_label AS sr_label", "map_key AS sr_key"
    )
    sr_numbered = causal.join(self_ref_genes, F.expr("p_mim = sr_gene")).selectExpr(
        "*", "dense_rank() OVER (ORDER BY row_order, p_mim, gene_mim) AS sr_i"
    )
    sr_head = case(2, sr_numbered, f"format_string('%s: %s', sr_i, {info})").distinct()
    sr_detail = case(
        2,
        sr_numbered,
        "format_string('%s: (Phenotype: %s), (Map key: %s), (Gene: %s)',"
        " sr_i, sr_label, sr_key, p_mim)",
    )

    # Unexpected phenotype MIM types
    typed = causal.join(
        F.broadcast(omim_types.selectExpr("mim_number AS t_mim", "omim_type")),
        F.expr("p_mim = t_mim"),
        "left",
    )
    type_err = f"format_string('(Phenotype MIM type %s), %s', omim_type, {info})"
    case4 = case(4, typed.filter("omim_type = 'GENE'"), type_err)
    case5 = case(
        5,
        typed.filter("omim_type IN ('OBSOLETE', 'SUSPECTED', 'HAS_AFFECTED_FEATURE')"),
        type_err,
    )
    all_cases = (
        digenic.unionByName(somatic)
        .unionByName(sr_head)
        .unionByName(sr_detail)
        .unionByName(case4)
        .unionByName(case5)
    )
    return all_cases.selectExpr(
        "classCode", f"{_case('classCode', _CASE_NAMES)} AS classShortName", "value"
    ).orderBy("classCode", "value")
