"""Explicit StructTypes for every source (SURVEY §1.3, FIXTURES.md).

The reference infers schemas from comment headers and pandas dtype
guessing, with hand-patched failure modes (floats for MIM numbers,
mixed-dtype warnings — omim_txt_parser.py:379,604-608).  The engine
inverts that: schema is the contract.  MIM numbers stay zero-padded
strings (leading zeros are semantic).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)


def _s(*names: str) -> StructType:
    return StructType([StructField(n, StringType(), True) for n in names])


# OMIM catalog files (tab-delimited, '#' comments; FIXTURES.md §1-§5)
MIM_TITLES = _s(
    "prefix", "mim_number", "preferred_title", "alternative_titles", "included_titles"
)

MORBIDMAP = _s("phenotype", "gene_symbols", "mim_number", "cyto_location")

MIM2GENE = _s(
    "mim_number", "entry_type", "entrez_id", "hgnc_symbol", "ensembl_id"
)

GENEMAP2 = _s(
    "chromosome", "genomic_start", "genomic_end", "cyto_location",
    "computed_cyto_location", "mim_number", "gene_symbols", "gene_name",
    "approved_gene_symbol", "entrez_id", "ensembl_id", "comments",
    "phenotypes", "mouse_gene_symbol",
)

PHENOTYPIC_SERIES = _s("ps_id", "col2", "col3")

# Curator files (FIXTURES.md §8)
PROTECTED_D2G = _s(
    "phenotype_mim", "mondo_id", "mondo_label", "type",
    "gene_mim", "hgnc_id", "orcid", "comment",
)

EXCLUSIONS_D2G = _s(
    "omim_id", "mondo_id", "mondo_label", "orcid", "exclusion_reason_comment"
)

KNOWN_CAPITALIZATIONS = _s("lower_name", "cap_name", "pattern")

# API caches (FIXTURES.md §9)
PUBMED_REFS_CACHE = StructType(
    [
        StructField("mim", StringType(), True),
        StructField("is_phenotype", BooleanType(), True),
        StructField("date_fetched", StringType(), True),
        StructField("pmid_refs", StringType(), True),  # '|'-packed
    ]
)

MAPPINGS_CACHE = StructType(
    [
        StructField("mim", StringType(), True),
        StructField("is_phenotype", BooleanType(), True),
        StructField("date_fetched", StringType(), True),
        StructField("umls_ids", StringType(), True),  # '|'-packed
        StructField("orphanet_ids", StringType(), True),  # '|'-packed
    ]
)

# The engine's graph representation: one row per RDF triple.
# obj_kind: 'uri' | 'bnode' | 'literal'.  Subjects that are bnodes use
# the deterministic md5 ids from triples.py (reference main.py:178-186);
# ``triples.is_bnode`` tests that shape.
TRIPLES = StructType(
    [
        StructField("subject", StringType(), False),
        StructField("predicate", StringType(), False),
        StructField("object", StringType(), False),
        StructField("obj_kind", StringType(), False),
        StructField("datatype", StringType(), True),
    ]
)
