"""Triple emission (SURVEY §2.10 G1-G8): the reference's in-memory
rdflib graph (omim2obo/main.py:202-213) becomes ONE triples DataFrame
— (subject, predicate, object, obj_kind, datatype) — built as a
unionByName of select-projections, one per emitter.

Blank nodes are deterministic md5 ids (reference DeterministicBNode,
main.py:178-186): a restriction's id hashes (on|pred|someValuesFrom),
an axiom's id hashes (source|prop|target) — so re-runs and distributed
builds are reproducible and diffable, and identical logical nodes
dedupe instead of multiplying (the reference's random BNode() creates
a fresh node per call; md5 identity is the Spark-native, idempotent
equivalent).

Scale: every emitter is a pure projection (explode of a literal
struct array) — no shuffles until the final distinct/sort in the
writer.  At 100 TB of input the triples DF stays partition-parallel
end to end.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

URI, BNODE, LIT = "uri", "bnode", "literal"

_FIELDS = ["subject", "predicate", "object", "obj_kind", "datatype"]


def _t(s: Column, p, o, kind: str = URI, dt=None) -> Column:
    """One triple as a struct (for array-explode emission)."""
    p = F.lit(p) if isinstance(p, str) else p
    o = F.lit(o) if isinstance(o, str) else o
    return F.struct(
        s.alias("subject"),
        p.alias("predicate"),
        o.cast("string").alias("object"),
        F.lit(kind).alias("obj_kind"),
        (F.lit(dt) if dt else F.lit(None).cast("string")).alias("datatype"),
    )


def _emit(df: DataFrame, *triples: Column) -> DataFrame:
    """Explode a per-row batch of (possibly conditional) triples;
    null-subject entries (failed WHEN gates) are dropped."""
    return (
        df.select(F.explode(F.array(*triples)).alias("t"))
        .select([F.col(f"t.{f}").alias(f) for f in _FIELDS])
        .filter(F.col("subject").isNotNull() & F.col("object").isNotNull())
    )


def union_triples(*parts: DataFrame) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), parts)


def bnode_restriction(on: Column, pred: Column, svf: Column) -> Column:
    return F.md5(F.concat_ws("|", F.lit("restriction"), on, pred, svf))


def bnode_axiom(source: Column, prop: Column, target: Column) -> Column:
    return F.md5(F.concat_ws("|", F.lit("axiom"), source, prop, target))


# ---------------------------------------------------------------------------
# G1/G2: reified axiom annotations
# ---------------------------------------------------------------------------


def _axiom_triple_cols(
    source: Column,
    prop: Column,
    target: Column,
    target_kind: str,
    anno_pred_vals: list[tuple[str, Column, str]],
) -> list[Column]:
    """The reification triples of :func:`emit_axiom_annotations` as
    struct columns, so multi-leg emitters can pack them into ONE
    array-explode pass over their source instead of a union leg per
    axiom family (optimization guide §2.4: the build's dominant stage
    was re-scanning the checkpointed entries table once per leg)."""
    ax = bnode_axiom(source, prop, target)
    return [
        _t(ax, "rdf:type", "owl:Axiom"),
        _t(ax, "owl:annotatedSource", source),
        _t(ax, "owl:annotatedProperty", prop),
        _t(ax, "owl:annotatedTarget", target, target_kind),
        *[_t(ax, p, v, kind) for p, v, kind in anno_pred_vals],
    ]


def emit_axiom_annotations(
    df: DataFrame,
    source: Column,
    prop: Column,
    target: Column,
    target_kind: str,
    anno_pred_vals: list[tuple[str, Column, str]],
) -> DataFrame:
    """OWL reification (reference add_axiom_annotations main.py:120-134):
    bnode Axiom + annotatedSource/Property/Target + annotation pairs.
    ``anno_pred_vals``: (predicate curie, value column, value kind)."""
    return _emit(
        df, *_axiom_triple_cols(source, prop, target, target_kind, anno_pred_vals)
    )


# ---------------------------------------------------------------------------
# G3/G4: subClassOf someValuesFrom restrictions (+ evidence axioms)
# ---------------------------------------------------------------------------


def _restriction_cols(pred: Column, svf: Column, on: Column) -> list[Column]:
    """The four triples of ``on rdfs:subClassOf [owl:Restriction;
    onProperty pred; someValuesFrom svf]`` (reference
    add_subclassof_restriction main.py:149-156) — the one spelling of
    the shape that :func:`restrictions` decodes."""
    b = bnode_restriction(on, pred, svf)
    return [
        _t(b, "rdf:type", "owl:Restriction"),
        _t(b, "owl:onProperty", pred),
        _t(b, "owl:someValuesFrom", svf),
        _t(on, "rdfs:subClassOf", b, BNODE),
    ]


def emit_subclassof_restriction(
    df: DataFrame, pred: Column, svf: Column, on: Column
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

    def leg(pred: str, s: str, o: str) -> DataFrame:
        return triples.filter(F.col("predicate") == pred).select(
            F.col("subject").alias(s), F.col("object").alias(o)
        )

    return (
        leg("rdfs:subClassOf", "cls", "bnode")
        .join(leg("owl:onProperty", "bnode", "prop"), "bnode")
        .join(leg("owl:someValuesFrom", "bnode", "filler"), "bnode")
        .select("cls", "prop", "filler")
    )


def _restriction_with_evidence_cols(
    pred: Column,
    svf: Column,
    on: Column,
    evidence: Column,
    orcid: Column | None = None,
) -> list[Column]:
    """The G4 triple batch as struct columns: the restriction plus its
    evidence axiom, so one ``_emit`` pass scans the source once (guide
    §2.4).  A null ``orcid`` gives a null oboInOwl:source object,
    which ``_emit``'s null filter drops."""
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
            F.lit("rdfs:subClassOf"),
            bnode_restriction(on, pred, svf),
            BNODE,
            annos,
        ),
    ]


def emit_restriction_with_evidence(
    df: DataFrame,
    pred: Column,
    svf: Column,
    on: Column,
    evidence: Column,
    orcid: Column | None = None,
) -> DataFrame:
    """G4 (reference main.py:159-174): restriction + evidence axiom
    (biolink:has_evidence + rdfs:comment, optional oboInOwl:source).
    One projection pass over ``df`` (was: 3 union legs)."""
    return _emit(
        df, *_restriction_with_evidence_cols(pred, svf, on, evidence, orcid)
    )


# ---------------------------------------------------------------------------
# G5: bidirectional gene↔disease associations
# ---------------------------------------------------------------------------


def emit_gene_disease_associations(df: DataFrame) -> DataFrame:
    """Disease –RO:0004003→ gene and gene –RO:0004013→ disease, each
    with an evidence axiom (reference main.py:189-199).  ``df`` needs
    columns: gene_mim, p_mim, evidence, orcid (nullable).  Both
    directions emit in ONE pass over ``df`` (was: 2×3 union legs)."""
    gene = F.concat(F.lit("OMIM:"), F.col("gene_mim"))
    dis = F.concat(F.lit("OMIM:"), F.col("p_mim"))
    orcid = F.col("orcid")
    return _emit(
        df,
        *_restriction_with_evidence_cols(
            F.lit("RO:0004003"), gene, dis, F.col("evidence"), orcid
        ),
        *_restriction_with_evidence_cols(
            F.lit("RO:0004013"), dis, gene, F.col("evidence"), orcid
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
    uri = F.concat(F.lit("OMIM:"), F.col("mim_number"))
    is_obsolete = F.col("omim_type") == "OBSOLETE"
    is_gene = F.col("omim_type").isin("GENE", "HAS_AFFECTED_FEATURE")
    is_pheno = F.col("omim_type").isin("PHENOTYPE", "HERITABLE_PHENOTYPIC_MARKER")
    n_replaced = F.size(F.coalesce(F.col("replaced_by"), F.array()))
    # Only a REPLACED obsolete entry is fully suppressed — reference
    # main.py:276-287 `continue`s only when omim_replaced is truthy;
    # an unreplaced obsolete ('REMOVED FROM DATABASE') falls through
    # and still gets its label/synonym/included triples (the type-
    # category branches stay silent since OBSOLETE matches none).
    suppressed = is_obsolete & (n_replaced > 0)
    has_included = (
        F.size(F.coalesce(F.col("included_titles"), F.array()))
        + F.size(F.coalesce(F.col("included_symbols"), F.array()))
    ) > 0
    label = F.when(
        is_gene & (F.size(F.coalesce(F.col("pref_symbols"), F.array())) > 0),
        F.element_at(F.col("pref_symbols"), 1),
    ).otherwise(F.col("pref_title"))

    # ONE array-explode pass over entries (guide §2.4): the former
    # shape was an 11-leg union (core, consider, 3 plain synonym
    # explodes, 6 synonym+axiom legs), and every leg re-scanned the
    # checkpointed entries table in full — the build's dominant stage.
    # Each row now packs ALL of its triples (conditional core triples,
    # per-array-element synonym batches, their reification axioms)
    # into one array and explodes once.  The emitted multiset is
    # unchanged: WHEN gates replace leg filters (null struct elements
    # drop in the null filter), per-element batches replace per-leg
    # explodes.
    core = [
        _t(uri, "rdf:type", "owl:Class"),
        F.when(is_obsolete, _t(uri, "owl:deprecated", "true", LIT, "xsd:boolean")),
        # IAO:0100001 = 'term replaced by' (single replacement only)
        F.when(
            is_obsolete & (n_replaced == 1),
            _t(
                uri,
                "IAO:0100001",
                F.concat(F.lit("OMIM:"), F.element_at(F.col("replaced_by"), 1)),
            ),
        ),
        # Type-conditional categorization (never fires for OBSOLETE
        # since the type tests exclude it; ~suppressed keeps the gate
        # aligned with the reference's control flow)
        F.when(
            ~suppressed & is_pheno,
            _t(uri, "biolink:category", "biolink:Disease"),
        ),
        F.when(~suppressed & is_gene, _t(uri, "rdfs:subClassOf", "SO:0000704")),
        F.when(
            ~suppressed & is_gene,
            _t(uri, "mondo:exclusionReason", "mondo:nonDisease"),
        ),
        F.when(~suppressed & is_gene, _t(uri, "biolink:category", "biolink:Gene")),
        F.when(
            ~suppressed & (F.col("omim_type") == "SUSPECTED"),
            _t(uri, "mondo:exclusionReason", "mondo:excludeTrait"),
        ),
        F.when(~suppressed, _t(uri, "rdfs:label", label, LIT)),
        F.when(~suppressed, _t(uri, "oboInOwl:hasExactSynonym", F.col("pref_title"), LIT)),
        F.when(
            ~suppressed & has_included,
            _t(
                uri,
                "rdfs:comment",
                "This term has one or more labels that end with ', INCLUDED'.",
                LIT,
            ),
        ),
    ]

    # 'consider' list for multi-replacement obsoletes (was its own
    # filtered leg; the WHEN gate reproduces the filter row-wise).
    consider = F.when(
        is_obsolete & (n_replaced > 1),
        F.transform(
            F.coalesce(F.col("replaced_by"), F.array()),
            lambda rep: _t(uri, "oboInOwl:consider", F.concat(F.lit("OMIM:"), rep)),
        ),
    ).otherwise(F.array())

    def _live_arr(col: str) -> Column:
        # Source array for non-suppressed rows; suppressed rows emit
        # nothing from it (the old legs filtered on ~suppressed).
        return F.when(
            ~suppressed, F.coalesce(F.col(col), F.array())
        ).otherwise(F.array())

    def _plain_syns(col: str, pred: str) -> Column:
        return F.transform(_live_arr(col), lambda v: _t(uri, pred, v, LIT))

    def _syns_with_axiom(
        col: str, pred: str, annos: list[tuple[str, Column, str]]
    ) -> Column:
        # Per array element: the synonym triple + its reification
        # axiom batch (what used to be two union legs per column).
        return F.flatten(
            F.transform(
                _live_arr(col),
                lambda v: F.array(
                    _t(uri, pred, v, LIT),
                    *_axiom_triple_cols(uri, F.lit(pred), v, LIT, annos),
                ),
            )
        )

    _omo = [("oboInOwl:hasSynonymType", F.lit("OMO:0003000"), URI)]
    _dep = [("owl:deprecated", F.lit("true"), LIT)]
    batch = F.concat(
        F.array(*core),
        consider,
        _plain_syns("alt_titles", "oboInOwl:hasExactSynonym"),
        _plain_syns("included_titles", "mondo:omim_included"),
        _plain_syns("included_symbols", "mondo:omim_included"),
        _syns_with_axiom("pref_symbols", "oboInOwl:hasExactSynonym", _omo),
        _syns_with_axiom("alt_symbols", "oboInOwl:hasExactSynonym", _omo),
        _syns_with_axiom("former_alt_titles", "oboInOwl:hasRelatedSynonym", _dep),
        _syns_with_axiom(
            "former_alt_symbols", "oboInOwl:hasRelatedSynonym", _dep + _omo
        ),
        _syns_with_axiom("former_included_titles", "mondo:omim_included", _dep),
        _syns_with_axiom("former_included_symbols", "mondo:omim_included", _dep),
    )
    return (
        entries.select(F.explode(batch).alias("t"))
        .select([F.col(f"t.{f}").alias(f) for f in _FIELDS])
        .filter(F.col("subject").isNotNull() & F.col("object").isNotNull())
    )


# ---------------------------------------------------------------------------
# G7: cross-references (reference main.py:376-394, 490-509)
# ---------------------------------------------------------------------------


def emit_exact_match(df: DataFrame, mim_col: str, obj: Column) -> DataFrame:
    return _emit(
        df, _t(F.concat(F.lit("OMIM:"), F.col(mim_col)), "skos:exactMatch", obj)
    )


def emit_packed_id_links(
    df: DataFrame, mim_col: str, packed_col: str, pred: str, obj_prefix: str
) -> DataFrame:
    """'|'-packed id cells → one triple per id (T11 unpack —
    reference main.py:500-509)."""
    exploded = df.filter(
        F.col(packed_col).isNotNull() & (F.col(packed_col) != "")
    ).select(
        F.concat(F.lit("OMIM:"), F.col(mim_col)).alias("s"),
        F.explode(F.split(F.col(packed_col), r"\|")).alias("id"),
    ).filter(F.col("id") != "")
    return exploded.select(
        F.col("s").alias("subject"),
        F.lit(pred).alias("predicate"),
        F.concat(F.lit(obj_prefix), F.col("id")).alias("object"),
        F.lit(URI).alias("obj_kind"),
        F.lit(None).cast("string").alias("datatype"),
    )


# ---------------------------------------------------------------------------
# G8: phenotypic series (reference main.py:396-404)
# ---------------------------------------------------------------------------


def emit_phenotypic_series(series: DataFrame, members: DataFrame) -> DataFrame:
    ps_uri = F.concat(F.lit("OMIMPS:"), F.col("ps"))
    head = _emit(
        series,
        _t(ps_uri, "rdf:type", "owl:Class"),
        _t(ps_uri, "rdfs:label", F.col("title"), LIT),
        _t(ps_uri, "biolink:category", "biolink:Disease"),
    )
    membership = _emit(
        members,
        _t(
            F.concat(F.lit("OMIM:"), F.col("member_mim")),
            "rdfs:subClassOf",
            ps_uri,
        ),
    )
    return union_triples(head, membership)
