"""Release-artifact converters — the tail of the reference's makefile
chain (makefile:41-58):

- ``omim.sssom.tsv``   (reference: ``sssom parse omim.json -m
  data/metadata.sssom.yml``) — the mapping-set TSV flattening every
  ``skos:exactMatch`` edge of the graph, with the SSSOM ``# ``-prefixed
  YAML metadata header and a curie_map derived from the prefixes the
  mappings actually use.
- ``omim.json``        (reference: ``robot convert -i omim.owl -o
  omim.json``) — an obographs-shaped JSON export of the triples
  DataFrame.  Schema (documented simplification of obographs 1.0):
  ``{"graphs": [{"id", "nodes": [{"id", "lbl"?, "type": "CLASS",
  "meta"?: {"deprecated"?, "synonyms"?: [{"pred", "val"}],
  "xrefs"?: [{"val"}]}}], "edges": [{"sub", "pred", "obj"}]}]}`` where
  ``pred`` is ``is_a`` for direct subClassOf between named classes and
  the expanded property URI for subClassOf-someValuesFrom restrictions
  (exactly obographs' ExistentialRestrictionExpression edge collapse);
  node/edge ids are full URIs (curies.NAMESPACES expansion).  Axiom
  reifications and restriction scaffolding are intentionally collapsed
  into edges, as robot's obographs writer does.

Scale: both artifacts derive from the triples DataFrame with joins on
the subject key only.  Each is written by ``writers._write_ordered``,
the one ordered-file writer: rows render as SQL text on the executors,
each sorts and writes its key range, and the driver byte-copies the
shards after the header.  Output is byte-deterministic: every row
order is total and blank-node ids are already deterministic md5
(triples.py:59-69).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from omim_spark.curies import NAMESPACES
from omim_spark.curies import curie_to_uri as _curie_to_uri_base
from omim_spark.io.writers import _write_ordered, tsv_line
from omim_spark.operators.checkpoint import cut_lineage
from omim_spark.sqltext import q
from omim_spark.triples import is_bnode, restrictions

# The TTL sink binds NCBITaxon in its header rather than NAMESPACES;
# the obographs export needs the expansion inline.
_EXTRA_NS = {"NCBITaxon": "http://purl.obolibrary.org/obo/NCBITaxon_"}


def curie_to_uri(col: str) -> str:
    return _curie_to_uri_base(col, extra=_EXTRA_NS)

# ---------------------------------------------------------------------------
# SSSOM mapping-set TSV
# ---------------------------------------------------------------------------

SSSOM_COLUMNS = [
    "subject_id",
    "subject_label",
    "predicate_id",
    "object_id",
    "mapping_justification",
]

# sssom-py assigns semapv:UnspecifiedMatching to mappings ingested
# from an ontology's own xref/exactMatch assertions — which is what
# the reference's `sssom parse omim.json` produces.  (It must be a
# semapv EntityMatching term or SSSOM validators reject the file.)
SSSOM_JUSTIFICATION = "semapv:UnspecifiedMatching"


def sssom_rows(triples: DataFrame) -> DataFrame:
    """Flatten the graph's ``skos:exactMatch`` edges to SSSOM rows.

    subject_label left-joins the subject's ``rdfs:label`` (min() picks
    deterministically if an entry ever carried two); mappings without
    a label keep an empty string, matching sssom-py's TSV rendering."""
    return triples.sparkSession.sql(
        f"""
        SELECT subject_id,
               coalesce(subject_label, '') AS subject_label,
               'skos:exactMatch' AS predicate_id,
               object_id,
               {q(SSSOM_JUSTIFICATION)} AS mapping_justification
        FROM (SELECT DISTINCT subject AS subject_id, object AS object_id
              FROM {{t}}
              WHERE predicate = 'skos:exactMatch' AND obj_kind = 'uri')
        LEFT JOIN (SELECT subject AS subject_id, min(object) AS subject_label
                   FROM {{t}} WHERE predicate = 'rdfs:label'
                   GROUP BY subject)
          USING (subject_id)
        """,
        t=triples,
    )


def _used_curie_map(rows: DataFrame) -> dict[str, str]:
    """curie_map restricted to prefixes the mapping rows actually use
    (what sssom-py writes) — a bounded distinct over two id columns.
    A prefix with no NAMESPACES expansion raises: the header's
    contract is that every prefix in the file is declared, so an
    unknown prefix must fail the export loudly, not ship an
    unresolvable mapping set.

    ``skos`` and ``semapv`` are added unconditionally: every row uses
    them in predicate_id / mapping_justification, so the map must
    declare them rather than lean on consumers' builtin contexts.
    Documented divergence from the reference curie_map: this pipeline
    emits ``ORPHANET:`` CURIEs (the prefix its triple emitters use)
    where the reference's metadata.sssom.yml declares ``ORPHA`` —
    both expand to the same ORDO namespace."""
    prefixes = {
        r.p
        for r in rows.selectExpr(
            "explode(array(substring_index(subject_id, ':', 1),"
            " substring_index(object_id, ':', 1))) AS p"
        )
        .distinct()
        .collect()
    } | {"skos", "semapv"}
    unknown = sorted(p for p in prefixes if p not in NAMESPACES)
    if unknown:
        raise ValueError(
            f"SSSOM export: mapping rows use prefixes with no declared "
            f"namespace expansion: {unknown} — add them to "
            "curies.NAMESPACES (or fix the emitter)"
        )
    return {p: NAMESPACES[p] for p in sorted(prefixes)}


def _yaml_header(metadata: dict) -> str:
    """Minimal deterministic YAML renderer for the SSSOM header: flat
    string values plus one level of nested mapping (curie_map).  Values
    are emitted as single-line double-quoted scalars — a documented
    simplification of the reference's hand-written metadata.sssom.yml
    (whose one folded multi-line value round-trips to a single line
    anyway)."""
    lines: list[str] = []
    for k, v in metadata.items():
        if isinstance(v, dict):
            lines.append(f"# {k}:")
            for k2, v2 in sorted(v.items()):
                lines.append(f"#   {k2}: {json.dumps(str(v2))}")
        else:
            lines.append(f"# {k}: {json.dumps(str(v))}")
    return "\n".join(lines) + "\n"


# The reference's data/metadata.sssom.yml fields; write_sssom_tsv adds
# a curie_map computed from the data, so the header never lies about
# the prefixes in the file.
SSSOM_METADATA = {
    "mapping_set_id": (
        "http://purl.obolibrary.org/obo/mondo/mondo-ingest/mapping/omim.sssom.tsv"
    ),
    "mapping_set_description": (
        "The file `omim.sssom.tsv` flattens every skos:exactMatch edge "
        "of the OMIM graph build. For data sources, assumptions, and "
        "computations, refer to the repository README."
    ),
    "license": "https://creativecommons.org/licenses/by/4.0/",
    "creator_id": "https://orcid.org/0000-0002-2906-7319",
}


def write_sssom_tsv(triples: DataFrame, path: str) -> None:
    """SSSOM sink: ``# ``-YAML metadata header (:data:`SSSOM_METADATA`
    plus the curie_map), tab-separated columns, rows ordered
    (subject_id, object_id)."""
    # The rows lineage is executed three times (curie_map scan, range
    # sample, ordered write) — checkpoint so the exactMatch filter,
    # label aggregate, and join run once.
    rows = sssom_rows(triples).transform(cut_lineage, eager=False)
    meta = {**SSSOM_METADATA, "curie_map": _used_curie_map(rows)}
    head = _yaml_header(meta) + "\t".join(SSSOM_COLUMNS) + "\n"
    order_by = ["subject_id", "object_id"]
    _write_ordered(path, [(head, rows, order_by, tsv_line(SSSOM_COLUMNS))])


# ---------------------------------------------------------------------------
# Obographs JSON
# ---------------------------------------------------------------------------


def obograph_nodes(triples: DataFrame) -> DataFrame:
    """One row per named owl:Class: (id, json) where json is the
    obographs node object.  Labels/synonyms/deprecation/exactMatch
    aggregate per subject in one grouped pass; ids expand to URIs."""
    # robot's obographs writer emits xref val as the raw CURIE string
    # (node/edge ids stay expanded URIs) — match that, since the
    # reference's `sssom parse -I obographs-json` step consumes this
    # exact checkpoint format.
    uri = curie_to_uri("subject")
    return triples.sparkSession.sql(
        f"""
        WITH classes AS (
          SELECT DISTINCT subject FROM {{t}}
          WHERE predicate = 'rdf:type' AND object = 'owl:Class'
            AND NOT {is_bnode('subject')}
        ),
        props AS (
          SELECT subject,
                 min(CASE WHEN predicate = 'rdfs:label' THEN object END) AS lbl,
                 sort_array(collect_set(
                   CASE WHEN startswith(predicate, 'oboInOwl:has') THEN
                     named_struct('pred', substring_index(predicate, ':', -1),
                                  'val', object)
                   END)) AS synonyms,
                 sort_array(collect_set(
                   CASE WHEN predicate = 'skos:exactMatch' THEN
                     named_struct('val', object)
                   END)) AS xrefs,
                 max(CASE WHEN predicate = 'owl:deprecated' THEN true END)
                   AS deprecated
          FROM {{t}} LEFT SEMI JOIN classes USING (subject)
          WHERE predicate IN ('rdfs:label', 'oboInOwl:hasExactSynonym',
                              'oboInOwl:hasRelatedSynonym', 'owl:deprecated',
                              'skos:exactMatch')
          GROUP BY subject
        )
        SELECT {uri} AS id,
               to_json(named_struct(
                 'id', {uri},
                 'lbl', lbl,
                 'type', 'CLASS',
                 'meta', CASE WHEN deprecated IS NOT NULL
                                   OR size(coalesce(synonyms, array())) > 0
                                   OR size(coalesce(xrefs, array())) > 0
                              THEN named_struct(
                                'deprecated', deprecated,
                                'synonyms',
                                CASE WHEN size(synonyms) > 0 THEN synonyms END,
                                'xrefs', CASE WHEN size(xrefs) > 0 THEN xrefs END)
                         END)) AS json
        FROM classes LEFT JOIN props USING (subject)
        """,
        t=triples,
    )


def obograph_edges(triples: DataFrame) -> DataFrame:
    """One row per edge: (sub, pred, obj, json).

    Direct named-class subClassOf → ``is_a``; subClassOf pointing at a
    restriction bnode collapses to (sub, onProperty URI, someValuesFrom
    URI) — obographs' standard existential-restriction edge."""
    return triples.sparkSession.sql(
        f"""
        SELECT sub, pred, obj,
               to_json(named_struct('sub', sub, 'pred', pred, 'obj', obj)) AS json
        FROM (SELECT {curie_to_uri("subject")} AS sub, 'is_a' AS pred,
                     {curie_to_uri("object")} AS obj
              FROM {{t}}
              WHERE predicate = 'rdfs:subClassOf' AND obj_kind = 'uri'
              UNION
              SELECT {curie_to_uri("cls")}, {curie_to_uri("prop")},
                     {curie_to_uri("filler")}
              FROM {{r}})
        """,
        t=triples,
        r=restrictions(triples),
    )


OBOGRAPH_ID = "https://omim.org/"


def write_obograph_json(triples: DataFrame, path: str) -> None:
    """Write the obographs document to ``path``: nodes ordered by id,
    edges ordered by (sub, pred, obj), each section a comma-separated
    JSON array rendered on the executors (``writers._write_ordered``)
    — byte-deterministic across runs and partitionings, no row through
    the driver."""
    head = '{"graphs":[{"id":%s,"nodes":[' % json.dumps(OBOGRAPH_ID)
    nodes = (head, obograph_nodes(triples), ["id"], "json")
    edges = ('],"edges":[', obograph_edges(triples), ["sub", "pred", "obj"], "json")
    _write_ordered(path, [nodes, edges], sep=",", tail="]}]}")
