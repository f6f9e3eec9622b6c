"""End-to-end build pipeline (SURVEY §3.1): source TSVs → triples
DataFrame + report DataFrames — the Spark equivalent of
`python -m omim2obo` (reference omim2obo/main.py:227-528).

Scans → parse projections → broadcast-joined overlays →
window-counted decision table → one union of the triple emitters.
The build's barriers, in order:

- the parse cuts: the parsed titles, entries, morbidmap and mim2gene
  tables are lineage-cut (lazily) so their several consumers do not
  re-read and re-parse the text;
- the entries repartition, which spreads the single-split entries
  table before the entry-classes explode;
- the ``all_triples`` cut: the distinct union, materialized eagerly,
  which every sink reads;
- the reports: self-joins over ``all_triples`` plus the SSSOM
  mappings, planned lazily and run by whoever writes them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omim_spark import associations as assoc_mod
from omim_spark import parse, schemas, triples as T
from omim_spark.entries import transform_entries
from omim_spark.io import readers
from omim_spark.queries import (
    disease_gene_relationships,
    mondo_omim_genes,
    pmid_mentions,
)
from omim_spark.operators.checkpoint import cut_lineage
from omim_spark.session import parallelism
from omim_spark.sqltext import q


@dataclass
class BuildResult:
    triples: DataFrame
    review_cases: DataFrame
    susceptibility: DataFrame
    reports: dict[str, DataFrame] = field(default_factory=dict)


def load_known_capitalizations(spark: SparkSession, path: str) -> dict[str, str]:
    if not os.path.exists(path):
        return {}
    df = readers.read_curator_tsv(spark, path, schemas.KNOWN_CAPITALIZATIONS)
    return {
        r["lower_name"]: r["cap_name"]
        for r in df.collect()
        if r["lower_name"] is not None
    }


def load_omim_to_mondo(spark: SparkSession, path: str) -> DataFrame:
    """S5: SSSOM → (omim_mim, mondo_id), either orientation
    (reference main.py:87-109)."""
    raw = readers.read_sssom(spark, path)
    subj_is_omim = "startswith(subject_id, 'OMIM:')"
    return (
        raw.filter(f"{subj_is_omim} OR startswith(object_id, 'OMIM:')")
        .selectExpr(
            f"CASE WHEN {subj_is_omim} THEN subject_id ELSE object_id END AS omim",
            f"CASE WHEN {subj_is_omim} THEN object_id ELSE subject_id END AS mondo",
        )
        .filter("startswith(mondo, 'MONDO:')")
        .selectExpr("substring_index(omim, ':', -1) AS omim_mim", "mondo AS mondo_id")
        .distinct()
    )


def build_graph(
    spark: SparkSession, data_dir: str, version_date: str = "1970-01-01"
) -> BuildResult:
    """Build the full triples graph + reports from a directory holding
    mimTitles.txt, morbidmap.txt, mim2gene.txt, genemap2.txt,
    phenotypicSeries.txt, hgnc_complete_set.txt,
    mondo_exactmatch_omim.sssom.tsv, protected-disease-gene.tsv,
    exclusions-disease-gene.tsv, known_capitalizations.tsv, and
    optionally pubmed-refs.tsv / mappings.tsv caches.

    ``version_date`` is an explicit parameter — the single permitted
    source of non-input state (SURVEY §7.4 determinism rule; the
    reference stamps datetime.now(), main.py:254-257).
    """
    p = lambda name: os.path.join(data_dir, name)  # noqa: E731

    # --- Parse sources -----------------------------------------------------
    # The parsed bases are materialized ONCE via cut_lineage (r13): a
    # base referenced by several triple-emission legs otherwise re-ran
    # the text scan AND the parse per leg (mimTitles.txt read 17 times,
    # 526 of 614 executor-seconds at 2000 replicas).  They are bounded
    # by the OMIM entry count, so the cut is safe at any SF.  entries
    # has one consumer since r14's emitter fusion, but dropping its cut
    # measured slower (build_graph wall of fresh 200-replica builds on
    # a 4-core host, median of 5: 20.4 s without, 19.0 s with).
    mim_titles = parse.parse_mim_titles(
        readers.read_mim_titles(spark, p("mimTitles.txt"))
    ).transform(cut_lineage, eager=False)
    caps = load_known_capitalizations(spark, p("known_capitalizations.tsv"))
    entries = transform_entries(mim_titles, caps).transform(
        cut_lineage, eager=False
    )

    assocs = parse.parse_morbid_map(
        readers.read_morbidmap(spark, p("morbidmap.txt"))
    ).transform(cut_lineage, eager=False)
    mim2gene_raw = readers.read_mim2gene(spark, p("mim2gene.txt")).transform(
        cut_lineage, eager=False
    )
    gene_map, pheno_map = parse.parse_mim2gene(mim2gene_raw)
    genemap2 = (
        readers.read_genemap2(spark, p("genemap2.txt"))
        if os.path.exists(p("genemap2.txt"))
        else None
    )
    hgnc_symbol_map = (
        parse.reconcile_hgnc_symbol_maps(mim2gene_raw, genemap2)
        if genemap2 is not None
        else mim2gene_raw.filter(
            "hgnc_symbol IS NOT NULL AND hgnc_symbol != ''"
        ).selectExpr("mim_number AS mim", "hgnc_symbol")
    )
    hgnc_ids = parse.hgnc_symbol_id_map(
        readers.read_hgnc(spark, p("hgnc_complete_set.txt"))
    )
    series, members = parse.parse_phenotypic_series(
        readers.read_phenotypic_series(spark, p("phenotypicSeries.txt"))
    )
    omim_to_mondo = load_omim_to_mondo(spark, p("mondo_exactmatch_omim.sssom.tsv"))

    protected = readers.read_curator_tsv(
        spark, p("protected-disease-gene.tsv"), schemas.PROTECTED_D2G
    ).selectExpr(
        "substring_index(phenotype_mim, ':', -1) AS p_mim",
        "substring_index(gene_mim, ':', -1) AS gene_mim",
        "substring_index(hgnc_id, ':', -1) AS hgnc_id",
        "orcid",
        "mondo_id",
    )
    exclusions = readers.read_curator_tsv(
        spark, p("exclusions-disease-gene.tsv"), schemas.EXCLUSIONS_D2G
    ).selectExpr("substring_index(omim_id, ':', -1) AS p_mim", "orcid")

    # --- Decision table ----------------------------------------------------
    decided = assoc_mod.derive_associations(assocs, exclusions, protected)
    decided.cache()  # feeds three triple legs and review_cases

    # --- Triple emission ---------------------------------------------------
    # The entries checkpoint is single-partition (the mimTitles text
    # source reads as one split), so the fused entry-classes explode,
    # the heaviest emission leg, ran as ONE 3.2 s straggler task that
    # set the 4.3 s emission-stage wall (r14 event-log census, 2000
    # replicas).  Repartition AFTER the checkpoint: the exchange moves a
    # few MB of OMIM-bounded rows and the target follows the session's
    # parallelism.  Interleaved full-build A/B (two rounds of 6
    # pairs, warm JVM): min 15.6/16.7 → 13.4/15.1 s.
    parts: list[DataFrame] = [
        T.ontology_header(spark, version_date),
        T.emit_entry_classes(
            entries.repartition(parallelism(spark), "mim_number")
        ),
    ]

    # Gene ids: OMIM gene → NCBIGENE exactMatch; phenotype → RO:0002200
    # has-phenotype restriction (reference main.py:385-394)
    parts.append(
        T.emit_exact_match(gene_map, "mim_number", "concat('NCBIGENE:', entrez_id)")
    )
    parts.append(
        T.emit_subclassof_restriction(
            pheno_map,
            q("RO:0002200"),
            "concat('OMIM:', mim_number)",
            "concat('NCBIGENE:', entrez_id)",
        )
    )
    # HGNC symbol + id matches (main.py:390-394)
    parts.append(
        T.emit_exact_match(
            hgnc_symbol_map, "mim", "concat('HGNC_symbol:', hgnc_symbol)"
        )
    )
    with_ids = hgnc_symbol_map.join(
        F.broadcast(hgnc_ids), F.expr("hgnc_symbol = symbol")
    )
    parts.append(T.emit_exact_match(with_ids, "mim", "concat('HGNC:', hgnc_id)"))

    # Phenotypic series (main.py:396-404)
    parts.append(T.emit_phenotypic_series(series, members))

    # Gene-chromosome restrictions (main.py:407-415): first-wins cyto
    gene_cyto = parse.gene_phenotypes(assocs).filter(
        "cyto_location IS NOT NULL AND cyto_location != ''"
    )
    parts.append(
        T.emit_subclassof_restriction(
            gene_cyto,
            q("RO:0002525"),  # is subsequence of
            "concat('CHR:9606chr', cyto_location)",
            "concat('OMIM:', gene_mim)",
        )
    )

    # Associations
    causal = decided.filter(
        f"action IN ('{assoc_mod.ACT_CAUSAL}', '{assoc_mod.ACT_PROTECTED}')"
    )
    parts.append(T.emit_gene_disease_associations(causal))
    prot_match = decided.filter(
        f"action = '{assoc_mod.ACT_PROTECTED}' AND hgnc_id IS NOT NULL"
    )
    parts.append(
        T.emit_exact_match(prot_match, "gene_mim", "concat('HGNC:', hgnc_id)")
    )
    noncausal = decided.filter(f"action = '{assoc_mod.ACT_NONCAUSAL}'")
    parts.append(
        T.emit_restriction_with_evidence(
            noncausal,
            "predicate",
            "concat('OMIM:', p_mim)",
            "concat('OMIM:', gene_mim)",
            "evidence",
            "orcid",
        )
    )

    # Protected MONDO mappings (main.py:490-497)
    parts.append(
        T.emit_exact_match(
            protected.filter("mondo_id IS NOT NULL"), "p_mim", "mondo_id"
        )
    )

    # PubMed / UMLS / Orphanet links from caches (main.py:500-509)
    pubmed_path, mappings_path = p("pubmed-refs.tsv"), p("mappings.tsv")
    if os.path.exists(pubmed_path):
        pubmed = readers.read_curator_tsv(
            spark, pubmed_path, schemas.PUBMED_REFS_CACHE
        )
        parts.append(
            T.emit_packed_id_links(pubmed, "mim", "pmid_refs", "IAO:0000142", "PMID:")
        )
    if os.path.exists(mappings_path):
        mappings = readers.read_curator_tsv(
            spark, mappings_path, schemas.MAPPINGS_CACHE
        )
        parts.append(
            T.emit_packed_id_links(
                mappings, "mim", "umls_ids", "skos:exactMatch", "UMLS:"
            )
        )
        parts.append(
            T.emit_packed_id_links(
                mappings, "mim", "orphanet_ids", "skos:exactMatch", "ORPHANET:"
            )
        )

    # Materialized once: the TTL, the artifacts and the reports' self-
    # joins all read it, and each would otherwise replan the whole
    # emission union (the reference's serialized omim.ttl plays the
    # same role between make stages).
    all_triples = T.union_triples(*parts).distinct().transform(
        cut_lineage, eager=True
    )

    # The graph-pattern reports read the TTL plus the SSSOM mappings
    # (the reference's `make omim.owl` merge, makefile:61-66).  Its two
    # INSERT rewrites are not applied: every exactMatch here has an
    # OMIM: subject, so the MONDO flip adds nothing, and the HGNC-class
    # triples hgnc_links adds have no label or exactMatch for either
    # report to join them to (pinned by tests/test_pipeline.py::
    # TestQueries::test_rewrites_change_no_report_row).
    graph = T.union_triples(
        all_triples, T.emit_exact_match(omim_to_mondo, "omim_mim", "mondo_id")
    )

    # --- Reports -----------------------------------------------------------
    omim_types = mim_titles.select("mim_number", "omim_type")
    review = assoc_mod.review_cases(decided, assocs, omim_types)
    susceptibility = assoc_mod.susceptibility_rows(assocs, omim_to_mondo)

    return BuildResult(
        triples=all_triples,
        review_cases=review,
        susceptibility=susceptibility,
        reports={
            "disease_gene_relationships": disease_gene_relationships(graph),
            "mondo_omim_genes": mondo_omim_genes(graph),
            "pmid_mentions": pmid_mentions(all_triples),
        },
    )
