"""Triple emission (SURVEY §2.10 G1-G8): the reference's in-memory
rdflib graph (omim2obo/main.py:202-213) becomes ONE triples DataFrame
— (subject, predicate, object, obj_kind, datatype) — built as a
union of SQL-text batches, one per emitter.  SQL text in and out:
every emitter takes its arguments as SQL expressions over its source
(quote a constant with ``sqltext.q``) and splices them into one
``inline(array(named_struct(…), …))`` expression, so building a batch
costs a handful of driver calls however many triple templates it
holds.

Blank nodes are deterministic md5 ids (reference DeterministicBNode,
main.py:178-186): a restriction's id hashes (on|pred|someValuesFrom),
an axiom's id hashes (source|prop|target) — so re-runs and distributed
builds are reproducible and diffable, and identical logical nodes
dedupe instead of multiplying (the reference's random BNode() creates
a fresh node per call; md5 identity is the Spark-native, idempotent
equivalent).

Scale: every emitter is a pure projection (one generator over its
source rows) — no shuffles until the final distinct/sort in the
writer.  At 100 TB of input the triples DF stays partition-parallel
end to end.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from omim_spark.sqltext import fresh, q

URI, BNODE, LIT = "uri", "bnode", "literal"


def _t(s: str, p: str, o: str, kind: str = URI, dt: str | None = None) -> str:
    """One triple as a ``named_struct`` SQL expression.  ``s`` and
    ``o`` are SQL expressions (quote a constant with ``q``); ``p`` is
    a predicate CURIE, always a constant."""
    return (
        f"named_struct('subject', {s}, 'predicate', {q(p)}, "
        f"'object', CAST({o} AS STRING), 'obj_kind', {q(kind)}, "
        f"'datatype', {q(dt) if dt else 'CAST(NULL AS STRING)'})"
    )


def _inline(df: DataFrame, batch: str) -> DataFrame:
    """Explode ``batch``, SQL text for a per-row array of triple
    structs over ``df``'s columns, into triple rows; null elements
    (failed CASE gates) and null-subject or null-object triples are
    dropped."""
    return df.selectExpr(f"inline({batch})").filter(
        "subject IS NOT NULL AND object IS NOT NULL"
    )


def _emit(df: DataFrame, *triples: str) -> DataFrame:
    """One triple row per ``_t`` SQL expression per row of ``df``."""
    return _inline(df, f"array({', '.join(triples)})")


def union_triples(*parts: DataFrame) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), parts)


def bnode_restriction(on: str, pred: str, svf: str) -> str:
    return f"md5(concat_ws('|', 'restriction', {on}, {pred}, {svf}))"


def bnode_axiom(source: str, prop: str, target: str) -> str:
    return f"md5(concat_ws('|', 'axiom', {source}, {prop}, {target}))"


def is_bnode(col: str) -> str:
    """SQL text: whether ``col`` holds a blank-node id, i.e. the
    32-hex-digit md5 shape of ``bnode_restriction``/``bnode_axiom``.
    Spelled without regex braces so it can sit inside a ``spark.sql``
    template."""
    return f"(length({col}) = 32 AND {col} RLIKE '^[0-9a-f]+$')"


# ---------------------------------------------------------------------------
# G1/G2: reified axiom annotations
# ---------------------------------------------------------------------------


def _axiom_triple_cols(
    source: str,
    prop: str,
    target: str,
    target_kind: str,
    anno_pred_vals: list[tuple[str, str, str]],
) -> list[str]:
    """The reification triples of :func:`emit_axiom_annotations`, so
    multi-leg emitters can pack them into ONE array-explode pass over
    their source instead of a union leg per axiom family (optimization
    guide §2.4: the build's dominant stage was re-scanning the
    checkpointed entries table once per leg)."""
    ax = bnode_axiom(source, prop, target)
    return [
        _t(ax, "rdf:type", q("owl:Axiom")),
        _t(ax, "owl:annotatedSource", source),
        _t(ax, "owl:annotatedProperty", prop),
        _t(ax, "owl:annotatedTarget", target, target_kind),
        *[_t(ax, p, v, kind) for p, v, kind in anno_pred_vals],
    ]


def emit_axiom_annotations(
    df: DataFrame,
    source: str,
    prop: str,
    target: str,
    target_kind: str,
    anno_pred_vals: list[tuple[str, str, str]],
) -> DataFrame:
    """OWL reification (reference add_axiom_annotations main.py:120-134):
    bnode Axiom + annotatedSource/Property/Target + annotation pairs.
    ``anno_pred_vals``: (predicate curie, value SQL, value kind)."""
    return _emit(
        df, *_axiom_triple_cols(source, prop, target, target_kind, anno_pred_vals)
    )


# ---------------------------------------------------------------------------
# G3/G4: subClassOf someValuesFrom restrictions (+ evidence axioms)
# ---------------------------------------------------------------------------


def _restriction_cols(pred: str, svf: str, on: str) -> list[str]:
    """The four triples of ``on rdfs:subClassOf [owl:Restriction;
    onProperty pred; someValuesFrom svf]`` (reference
    add_subclassof_restriction main.py:149-156) — the one spelling of
    the shape that :func:`restrictions` decodes."""
    b = bnode_restriction(on, pred, svf)
    return [
        _t(b, "rdf:type", q("owl:Restriction")),
        _t(b, "owl:onProperty", pred),
        _t(b, "owl:someValuesFrom", svf),
        _t(on, "rdfs:subClassOf", b, BNODE),
    ]


def emit_subclassof_restriction(
    df: DataFrame, pred: str, svf: str, on: str
) -> DataFrame:
    """bnode Restriction(onProperty, someValuesFrom) + rdfs:subClassOf."""
    return _emit(df, *_restriction_cols(pred, svf, on))


def restrictions(triples: DataFrame) -> DataFrame:
    """Decode every ``cls rdfs:subClassOf [onProperty prop;
    someValuesFrom filler]`` back to one (cls, prop, filler) row — the
    inverse of :func:`_restriction_cols`, joined on the bnode.  Reads
    only subject/predicate/object, so it also decodes bare 3-column
    graphs; a named-class subClassOf finds no onProperty leg and drops
    out.  Callers filter ``prop``; Catalyst pushes that filter down to
    the onProperty leg."""
    return triples.sparkSession.sql(
        """
        SELECT cls, prop, filler
        FROM (SELECT subject AS cls, object AS bnode FROM {t}
              WHERE predicate = 'rdfs:subClassOf')
        JOIN (SELECT subject AS bnode, object AS prop FROM {t}
              WHERE predicate = 'owl:onProperty') USING (bnode)
        JOIN (SELECT subject AS bnode, object AS filler FROM {t}
              WHERE predicate = 'owl:someValuesFrom') USING (bnode)
        """,
        t=triples,
    )


def _restriction_with_evidence_cols(
    pred: str,
    svf: str,
    on: str,
    evidence: str,
    orcid: str | None = None,
) -> list[str]:
    """The G4 triple batch: the restriction plus its evidence axiom,
    so one ``_emit`` pass scans the source once (guide §2.4).  A null
    ``orcid`` gives a null oboInOwl:source object, which ``_emit``'s
    null filter drops."""
    annos = [
        ("biolink:has_evidence", evidence, LIT),
        ("rdfs:comment", evidence, LIT),
    ]
    if orcid is not None:
        annos.append(("oboInOwl:source", orcid, URI))
    return [
        *_restriction_cols(pred, svf, on),
        *_axiom_triple_cols(
            on,
            q("rdfs:subClassOf"),
            bnode_restriction(on, pred, svf),
            BNODE,
            annos,
        ),
    ]


def emit_restriction_with_evidence(
    df: DataFrame,
    pred: str,
    svf: str,
    on: str,
    evidence: str,
    orcid: str | None = None,
) -> DataFrame:
    """G4 (reference main.py:159-174): restriction + evidence axiom
    (biolink:has_evidence + rdfs:comment, optional oboInOwl:source).
    One projection pass over ``df`` (was: 3 union legs)."""
    return _emit(df, *_restriction_with_evidence_cols(pred, svf, on, evidence, orcid))


# ---------------------------------------------------------------------------
# G5: bidirectional gene↔disease associations
# ---------------------------------------------------------------------------


def emit_gene_disease_associations(df: DataFrame) -> DataFrame:
    """Disease –RO:0004003→ gene and gene –RO:0004013→ disease, each
    with an evidence axiom (reference main.py:189-199).  ``df`` needs
    columns: gene_mim, p_mim, evidence, orcid (nullable).  Both
    directions emit in ONE pass over ``df`` (was: 2×3 union legs)."""
    gene = "concat('OMIM:', gene_mim)"
    dis = "concat('OMIM:', p_mim)"
    return _emit(
        df,
        *_restriction_with_evidence_cols(
            q("RO:0004003"), gene, dis, "evidence", "orcid"
        ),
        *_restriction_with_evidence_cols(
            q("RO:0004013"), dis, gene, "evidence", "orcid"
        ),
    )


# ---------------------------------------------------------------------------
# Ontology header (reference main.py:252-268)
# ---------------------------------------------------------------------------


def ontology_header(spark, version_date: str) -> DataFrame:
    onto = "obo:mondo/omim.owl"
    rows = [
        (onto, "rdf:type", "owl:Ontology", URI, None),
        (onto, "owl:versionIRI", f"obo:mondo/releases/{version_date}/omim.owl", URI, None),
        (onto, "owl:versionInfo", version_date, LIT, None),
        ("oboInOwl:hasSynonymType", "rdf:type", "owl:AnnotationProperty", URI, None),
        ("oboInOwl:source", "rdf:type", "owl:AnnotationProperty", URI, None),
        ("mondo:omim_included", "rdf:type", "owl:AnnotationProperty", URI, None),
        ("OMO:0003000", "rdf:type", "owl:AnnotationProperty", URI, None),
        ("biolink:has_evidence", "rdf:type", "owl:AnnotationProperty", URI, None),
        ("NCBITaxon:9606", "rdf:type", "owl:Class", URI, None),
        ("NCBITaxon:9606", "rdfs:label", "Homo sapiens", LIT, None),
    ]
    from omim_spark.schemas import TRIPLES

    return spark.createDataFrame(rows, TRIPLES)


# ---------------------------------------------------------------------------
# G6: per-entry class emission (reference main.py:270-374)
# ---------------------------------------------------------------------------


def emit_entry_classes(entries: DataFrame) -> DataFrame:
    """Type-conditional per-entry triples.  ``entries`` is the output
    of entries.transform_entries: mim_number, omim_type, replaced_by,
    pref_title, pref_symbols, alt_titles, alt_symbols,
    former_alt_titles, former_alt_symbols, included_titles,
    included_symbols, former_included_titles, former_included_symbols.
    """
    uri = "concat('OMIM:', mim_number)"
    is_obsolete = "(omim_type = 'OBSOLETE')"
    is_gene = "(omim_type IN ('GENE', 'HAS_AFFECTED_FEATURE'))"
    is_pheno = "(omim_type IN ('PHENOTYPE', 'HERITABLE_PHENOTYPIC_MARKER'))"
    n_replaced = "size(coalesce(replaced_by, array()))"
    # Only a REPLACED obsolete entry is fully suppressed — reference
    # main.py:276-287 `continue`s only when omim_replaced is truthy;
    # an unreplaced obsolete ('REMOVED FROM DATABASE') falls through
    # and still gets its label/synonym/included triples (the type-
    # category branches stay silent since OBSOLETE matches none).
    live = f"NOT ({is_obsolete} AND {n_replaced} > 0)"
    has_included = (
        "(size(coalesce(included_titles, array()))"
        " + size(coalesce(included_symbols, array()))) > 0"
    )
    label = (
        f"CASE WHEN {is_gene} AND size(coalesce(pref_symbols, array())) > 0"
        " THEN element_at(pref_symbols, 1) ELSE pref_title END"
    )

    def when(cond: str, triple: str) -> str:
        return f"CASE WHEN {cond} THEN {triple} END"

    # ONE array-explode pass over entries (guide §2.4): the former
    # shape was an 11-leg union (core, consider, 3 plain synonym
    # explodes, 6 synonym+axiom legs), and every leg re-scanned the
    # checkpointed entries table in full — the build's dominant stage.
    # Each row now packs ALL of its triples (conditional core triples,
    # per-array-element synonym batches, their reification axioms)
    # into one array and explodes once.  The emitted multiset is
    # unchanged: CASE gates replace leg filters (null struct elements
    # drop in the null filter), per-element batches replace per-leg
    # explodes.
    core = [
        _t(uri, "rdf:type", q("owl:Class")),
        when(is_obsolete, _t(uri, "owl:deprecated", q("true"), LIT, "xsd:boolean")),
        # IAO:0100001 = 'term replaced by' (single replacement only)
        when(
            f"{is_obsolete} AND {n_replaced} = 1",
            _t(uri, "IAO:0100001", "concat('OMIM:', element_at(replaced_by, 1))"),
        ),
        # Type-conditional categorization (never fires for OBSOLETE
        # since the type tests exclude it; `live` keeps the gate
        # aligned with the reference's control flow)
        when(
            f"{live} AND {is_pheno}", _t(uri, "biolink:category", q("biolink:Disease"))
        ),
        when(f"{live} AND {is_gene}", _t(uri, "rdfs:subClassOf", q("SO:0000704"))),
        when(
            f"{live} AND {is_gene}",
            _t(uri, "mondo:exclusionReason", q("mondo:nonDisease")),
        ),
        when(f"{live} AND {is_gene}", _t(uri, "biolink:category", q("biolink:Gene"))),
        when(
            f"{live} AND omim_type = 'SUSPECTED'",
            _t(uri, "mondo:exclusionReason", q("mondo:excludeTrait")),
        ),
        when(live, _t(uri, "rdfs:label", label, LIT)),
        when(live, _t(uri, "oboInOwl:hasExactSynonym", "pref_title", LIT)),
        when(
            f"{live} AND {has_included}",
            _t(
                uri,
                "rdfs:comment",
                q("This term has one or more labels that end with ', INCLUDED'."),
                LIT,
            ),
        ),
    ]

    # 'consider' list for multi-replacement obsoletes (was its own
    # filtered leg; the CASE gate reproduces the filter row-wise).
    replacement = _t(uri, "oboInOwl:consider", "concat('OMIM:', r)")
    consider = (
        f"CASE WHEN {is_obsolete} AND {n_replaced} > 1 THEN transform("
        f"coalesce(replaced_by, array()), r -> {replacement}) ELSE array() END"
    )

    def live_arr(col: str) -> str:
        # Source array for live rows; suppressed rows emit nothing
        # from it (the old legs filtered them out).
        return f"CASE WHEN {live} THEN coalesce({col}, array()) ELSE array() END"

    def plain_syns(col: str, pred: str) -> str:
        return f"transform({live_arr(col)}, v -> {_t(uri, pred, 'v', LIT)})"

    def syns_with_axiom(col: str, pred: str, annos: list[tuple[str, str, str]]) -> str:
        # Per array element: the synonym triple + its reification
        # axiom batch (what used to be two union legs per column).
        batch = [
            _t(uri, pred, "v", LIT),
            *_axiom_triple_cols(uri, q(pred), "v", LIT, annos),
        ]
        return f"flatten(transform({live_arr(col)}, v -> array({', '.join(batch)})))"

    omo = [("oboInOwl:hasSynonymType", q("OMO:0003000"), URI)]
    dep = [("owl:deprecated", q("true"), LIT)]
    batch = [
        f"array({', '.join(core)})",
        consider,
        plain_syns("alt_titles", "oboInOwl:hasExactSynonym"),
        plain_syns("included_titles", "mondo:omim_included"),
        plain_syns("included_symbols", "mondo:omim_included"),
        syns_with_axiom("pref_symbols", "oboInOwl:hasExactSynonym", omo),
        syns_with_axiom("alt_symbols", "oboInOwl:hasExactSynonym", omo),
        syns_with_axiom("former_alt_titles", "oboInOwl:hasRelatedSynonym", dep),
        syns_with_axiom("former_alt_symbols", "oboInOwl:hasRelatedSynonym", dep + omo),
        syns_with_axiom("former_included_titles", "mondo:omim_included", dep),
        syns_with_axiom("former_included_symbols", "mondo:omim_included", dep),
    ]
    return _inline(entries, f"concat({', '.join(batch)})")


# ---------------------------------------------------------------------------
# G7: cross-references (reference main.py:376-394, 490-509)
# ---------------------------------------------------------------------------


def emit_exact_match(df: DataFrame, mim: str, obj: str) -> DataFrame:
    """``OMIM:<mim> skos:exactMatch <obj>``."""
    return _emit(df, _t(f"concat('OMIM:', {mim})", "skos:exactMatch", obj))


def emit_packed_id_links(
    df: DataFrame, mim_col: str, packed_col: str, pred: str, obj_prefix: str
) -> DataFrame:
    """'|'-packed id cells → one triple per id (T11 unpack —
    reference main.py:500-509); a row without a mim has no subject,
    so the null filter drops its ids."""
    i, sep = fresh("id"), q(r"\|")
    ids = f"filter(split(`{packed_col}`, {sep}), {i} -> {i} != '')"
    link = _t(f"concat('OMIM:', `{mim_col}`)", pred, f"concat({q(obj_prefix)}, {i})")
    return _inline(df, f"transform({ids}, {i} -> {link})")


# ---------------------------------------------------------------------------
# G8: phenotypic series (reference main.py:396-404)
# ---------------------------------------------------------------------------


def emit_phenotypic_series(series: DataFrame, members: DataFrame) -> DataFrame:
    ps_uri = "concat('OMIMPS:', ps)"
    head = _emit(
        series,
        _t(ps_uri, "rdf:type", q("owl:Class")),
        _t(ps_uri, "rdfs:label", "title", LIT),
        _t(ps_uri, "biolink:category", q("biolink:Disease")),
    )
    membership = _emit(
        members, _t("concat('OMIM:', member_mim)", "rdfs:subClassOf", ps_uri)
    )
    return union_triples(head, membership)
