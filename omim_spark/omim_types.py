"""OMIM entry-type taxonomy (SURVEY §1.5).

The reference drives all conditional triple emission off an enum
derived from each MIM entry's symbolic prefix
(reference: omim2obo/omim_type.py:6-51, data/symbolic_prefixes.tsv;
prefix-word mapping at omim2obo/parsers/omim_txt_parser.py:323-330).
Here the mapping is a literal CASE expression so it stays JVM-side.
"""

from __future__ import annotations

from enum import Enum

from omim_spark.sqltext import q


class OmimType(str, Enum):
    GENE = "GENE"  # '*' / 'Asterisk'
    HAS_AFFECTED_FEATURE = "HAS_AFFECTED_FEATURE"  # '+' / 'Plus' (gene + phenotype)
    PHENOTYPE = "PHENOTYPE"  # '#' / 'Number Sign'
    HERITABLE_PHENOTYPIC_MARKER = "HERITABLE_PHENOTYPIC_MARKER"  # '%' / 'Percent'
    SUSPECTED = "SUSPECTED"  # NULL / ''
    OBSOLETE = "OBSOLETE"  # '^' / 'Caret'


# mimTitles.txt uses prefix words; mim2gene.txt uses entry-type phrases.
PREFIX_WORD_TO_TYPE = {
    "Asterisk": OmimType.GENE.value,
    "Plus": OmimType.HAS_AFFECTED_FEATURE.value,
    "Number Sign": OmimType.PHENOTYPE.value,
    "Percent": OmimType.HERITABLE_PHENOTYPIC_MARKER.value,
    "Caret": OmimType.OBSOLETE.value,
}

PREFIX_CHAR_TO_TYPE = {
    "*": OmimType.GENE.value,
    "+": OmimType.HAS_AFFECTED_FEATURE.value,
    "#": OmimType.PHENOTYPE.value,
    "%": OmimType.HERITABLE_PHENOTYPIC_MARKER.value,
    "^": OmimType.OBSOLETE.value,
}


def omim_type_from_prefix_word(col: str) -> str:
    """SQL expression: prefix word ('Asterisk', ...) in ``col`` →
    OmimType name; empty/null → SUSPECTED."""
    arms = " ".join(
        f"WHEN {q(word)} THEN {q(typ)}" for word, typ in PREFIX_WORD_TO_TYPE.items()
    )
    return f"CASE {col} {arms} ELSE {q(OmimType.SUSPECTED.value)} END"


# mim2gene entry-type phrase → gene/phenotype bucket
# (reference omim_txt_parser.py:262-278,404-424)
GENE_ENTRY_TYPES = ("gene", "gene/phenotype")
PHENOTYPE_ENTRY_TYPES = ("phenotype", "predominantly phenotypes")
MOVED_REMOVED_ENTRY_TYPE = "moved/removed"

# Morbidmap mapping-key → RO predicate CURIE for the gene→disease
# non-causal branch (reference omim_txt_parser.py:47-64).
MORBIDMAP_KEY_PREDICATES = {
    "1": None,  # association with unknown defect
    "2": "RO:0003303",  # causes condition
    "3": "RO:0004013",  # is causal germline mutation in
    "4": "RO:0003304",  # contributes to condition
}

# Bidirectional causal pair (reference main.py:189-199).
PRED_DISEASE_TO_GENE = "RO:0004003"  # has material basis in germline mutation in
PRED_GENE_TO_DISEASE = "RO:0004013"  # is causal germline mutation in
PRED_NONCAUSAL_MULTI = "RO:0003302"  # causes or contributes to condition
