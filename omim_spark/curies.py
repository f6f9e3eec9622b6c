"""CURIE prefix ↔ URI expression helpers (SURVEY §1.4).

The reference binds ~100 RDF namespaces (omim2obo/namespaces.py:1-509);
the engine keeps them as a small literal map.  `curie_to_uri` /
`uri_to_curie` each return ONE SQL expression (a ``CASE`` over the
prefix; nested anchored ``regexp_replace``), never UDFs, so CURIE
rewriting stays inside codegen (the SPARQL queries do the same with
REPLACE(STR(uri), ...), sparql/disease-gene-relationships.sparql:41-45).
"""

from __future__ import annotations

from omim_spark.sqltext import q

# The namespaces actually used by the pipeline's emitters and queries.
NAMESPACES: dict[str, str] = {
    "OMIM": "https://omim.org/entry/",
    "OMIMPS": "https://omim.org/phenotypicSeries/PS",
    "HGNC": "http://identifiers.org/hgnc/",
    "HGNC_symbol": "http://identifiers.org/hgnc.symbol/",
    "NCBIGENE": "http://www.ncbi.nlm.nih.gov/gene/",
    "PMID": "http://www.ncbi.nlm.nih.gov/pubmed/",
    "UMLS": "http://linkedlifedata.com/resource/umls/id/",
    "ORPHANET": "http://www.orpha.net/ORDO/Orphanet_",
    "MONDO": "http://purl.obolibrary.org/obo/MONDO_",
    "RO": "http://purl.obolibrary.org/obo/RO_",
    "SO": "http://purl.obolibrary.org/obo/SO_",
    "IAO": "http://purl.obolibrary.org/obo/IAO_",
    "OMO": "http://purl.obolibrary.org/obo/OMO_",
    "CHR": "http://purl.obolibrary.org/obo/CHR_",
    "biolink": "https://w3id.org/biolink/vocab/",
    "mondo": "http://purl.obolibrary.org/obo/mondo#",
    "oboInOwl": "http://www.geneontology.org/formats/oboInOwl#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "semapv": "https://w3id.org/semapv/vocab/",
    "dc": "http://purl.org/dc/elements/1.1/",
    "orcid": "https://orcid.org/",
}


def curie_to_uri(col: str, extra: dict[str, str] | None = None) -> str:
    """SQL expression: the CURIE column ``col`` (a column name or SQL
    expression) as a URI, by its prefix in the literal namespace map;
    an unknown prefix passes through.  ``extra`` overlays additional
    prefixes (e.g. the obographs export adds NCBITaxon, which the TTL
    sink binds in its header instead)."""
    ns = {**NAMESPACES, **(extra or {})}
    arms = " ".join(
        f"WHEN {q(pfx)} THEN concat({q(uri)}, substring_index({col}, ':', -1))"
        for pfx, uri in ns.items()
    )
    return f"CASE substring_index({col}, ':', 1) {arms} ELSE {col} END"


def uri_to_curie(col: str) -> str:
    """SQL expression: the URI column ``col`` as a CURIE (anchored
    replacements, longest namespace first — mirrors the SPARQL REPLACE
    post-processing)."""
    expr = col
    for pfx, uri in sorted(NAMESPACES.items(), key=lambda kv: -len(kv[1])):
        pattern = "^" + uri.replace(".", r"\.")
        expr = f"regexp_replace({expr}, {q(pattern)}, {q(pfx + ':')})"
    return expr
