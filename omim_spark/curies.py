"""CURIE prefix ↔ URI expression helpers (SURVEY §1.4).

The reference binds ~100 RDF namespaces (omim2obo/namespaces.py:1-509);
the engine keeps them as a small literal map used by Column helpers —
`curie_to_uri` / `uri_to_curie` are `regexp_replace`/`concat`
expressions, never UDFs, so CURIE rewriting stays inside codegen (the
SPARQL queries do the same with REPLACE(STR(uri), ...),
sparql/disease-gene-relationships.sparql:41-45).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def curie_to_uri(col: Column, extra: dict[str, str] | None = None) -> Column:
    """Column of CURIEs → column of URIs via a when-chain over the
    literal namespace map (broadcast-free: pure expression).  ``extra``
    overlays additional prefixes (e.g. the obographs export adds
    NCBITaxon, which the TTL sink binds in its header instead)."""
    ns = {**NAMESPACES, **(extra or {})}
    prefix = F.substring_index(col, ":", 1)
    local = F.substring_index(col, ":", -1)
    expr: Column | None = None
    for pfx, uri in ns.items():
        cond = prefix == pfx
        val = F.concat(F.lit(uri), local)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(col)


def uri_to_curie(col: Column) -> Column:
    """Column of URIs → CURIEs (longest-prefix-first regexp_replace
    chain — mirrors the SPARQL REPLACE post-processing)."""
    expr = col
    for pfx, uri in sorted(NAMESPACES.items(), key=lambda kv: -len(kv[1])):
        expr = F.regexp_replace(expr, "^" + uri.replace(".", r"\."), pfx + ":")
    return expr
