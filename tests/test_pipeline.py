"""End-to-end golden build test (SURVEY §5.2): synthetic fixture dir →
triples + reports, including the README.md:202-224 Prune belly golden
(the restriction pair), entry emission per type, the deterministic TTL
writer, and the SPARQL-equivalent queries."""

import json
import os

import pytest
from pyspark.sql import functions as F

from omim_spark.io.writers import write_ttl
from omim_spark.pipeline import build_graph
from omim_spark.queries import (
    add_flipped_mondo_mappings,
    add_hgnc_links,
    disease_gene_relationships,
    mondo_omim_genes,
)


@pytest.fixture(scope="module")
def build(spark, omim_data_dir):
    return build_graph(spark, omim_data_dir, version_date="2026-01-01")


@pytest.fixture(scope="module")
def tset(build):
    return {
        (r.subject, r.predicate, r.object)
        for r in build.triples.collect()
    }


def _restriction_id(tset, on, pred, svf):
    """Find the bnode restriction for (on, pred, svf)."""
    for s, p, o in tset:
        if p == "owl:onProperty" and o == pred:
            if (s, "owl:someValuesFrom", svf) in tset and (
                on,
                "rdfs:subClassOf",
                s,
            ) in tset:
                return s
    return None


class TestPruneBellyGolden:
    """README.md:202-224: morbidmap row 'Prune belly syndrome, 100100
    (3) | CHRM3... | 118494 | 1q43' must yield the bidirectional
    restriction pair."""

    def test_disease_to_gene_restriction(self, tset):
        r = _restriction_id(tset, "OMIM:100100", "RO:0004003", "OMIM:118494")
        assert r is not None
        assert (r, "rdf:type", "owl:Restriction") in tset

    def test_gene_to_disease_restriction(self, tset):
        assert _restriction_id(tset, "OMIM:118494", "RO:0004013", "OMIM:100100")

    def test_evidence_axiom(self, build):
        ev = build.triples.filter(
            (F.col("predicate") == "biolink:has_evidence")
            & F.col("object").startswith("Evidence: (3)")
        )
        assert ev.count() > 0


class TestEntryEmission:
    def test_gene_entry(self, tset):
        assert ("OMIM:118494", "rdfs:subClassOf", "SO:0000704") in tset
        assert ("OMIM:118494", "biolink:category", "biolink:Gene") in tset
        # gene label prefers the first symbol
        assert ("OMIM:118494", "rdfs:label", "CHRM3") in tset

    def test_phenotype_entry(self, tset):
        assert ("OMIM:100100", "biolink:category", "biolink:Disease") in tset
        assert ("OMIM:100100", "rdfs:label", "prune belly syndrome") in tset

    def test_obsolete_entries(self, tset):
        assert ("OMIM:100200", "owl:deprecated", "true") in tset
        assert ("OMIM:100200", "IAO:0100001", "OMIM:100100") in tset
        assert ("OMIM:100300", "oboInOwl:consider", "OMIM:100100") in tset
        assert ("OMIM:100300", "oboInOwl:consider", "OMIM:118494") in tset
        # single-replacement predicate NOT used for multi
        assert ("OMIM:100300", "IAO:0100001", "OMIM:100100") not in tset
        # REPLACED obsoletes are fully suppressed past the replacement
        # triples (reference main.py:287 `continue`)
        assert ("OMIM:100200", "rdfs:label", "moved to 100100") not in tset
        assert not any(s == "OMIM:100300" and p == "rdfs:label" for s, p, _ in tset)

    def test_obsolete_unreplaced_falls_through(self, tset):
        # An obsolete entry with NO replacement ('REMOVED FROM
        # DATABASE') falls through in the reference (main.py:276-287
        # only `continue`s when omim_replaced is truthy) and keeps its
        # label + exact synonym — 'removed from database' is the
        # reference's own cleanup_title output, byte-checked by
        # test_titles_reference_parity.
        assert ("OMIM:100400", "owl:deprecated", "true") in tset
        assert ("OMIM:100400", "rdfs:label", "removed from database") in tset
        assert (
            "OMIM:100400",
            "oboInOwl:hasExactSynonym",
            "removed from database",
        ) in tset
        # ...but never a replacement triple or a category
        assert not any(
            s == "OMIM:100400" and p in ("IAO:0100001", "oboInOwl:consider", "biolink:category")
            for s, p, _ in tset
        )

    def test_suspected_and_marker(self, tset):
        assert ("OMIM:200300", "mondo:exclusionReason", "mondo:excludeTrait") in tset
        assert ("OMIM:200100", "biolink:category", "biolink:Disease") in tset
        # roman numeral conversion in the label
        assert ("OMIM:200100", "rdfs:label", "marker syndrome, type 3") in tset

    def test_known_capitalization_applied(self, tset):
        assert (
            "OMIM:100100",
            "oboInOwl:hasExactSynonym",
            "Eagle-Barrett syndrome",
        ) in tset

    def test_former_title_related_synonym(self, tset):
        assert ("OMIM:300100", "oboInOwl:hasRelatedSynonym", "old name") in tset

    def test_included_annotation(self, tset):
        assert ("OMIM:300100", "mondo:omim_included", "included thing") in tset
        assert (
            "OMIM:300100",
            "rdfs:comment",
            "This term has one or more labels that end with ', INCLUDED'.",
        ) in tset


class TestXrefsAndSeries:
    def test_gene_ncbi_match(self, tset):
        assert ("OMIM:118494", "skos:exactMatch", "NCBIGENE:1131") in tset

    def test_pheno_ncbi_restriction(self, tset):
        # phenotype entries get RO:0002200 has-phenotype restrictions
        assert _restriction_id(tset, "NCBIGENE:1134", "RO:0002200", "OMIM:300100")

    def test_hgnc_matches(self, tset):
        assert ("OMIM:118494", "skos:exactMatch", "HGNC_symbol:CHRM3") in tset
        assert ("OMIM:118494", "skos:exactMatch", "HGNC:1950") in tset
        # conflict-dropped mim has no HGNC match
        assert not any(
            s == "OMIM:666666" and p == "skos:exactMatch" and o.startswith("HGNC")
            for s, p, o in tset
        )

    def test_phenotypic_series(self, tset):
        assert ("OMIMPS:100100", "rdfs:label", "Prune belly series") in tset
        assert ("OMIM:100100", "rdfs:subClassOf", "OMIMPS:100100") in tset

    def test_cyto_location(self, tset):
        assert _restriction_id(tset, "OMIM:118494", "RO:0002525", "CHR:9606chr1q43")

    def test_pubmed_umls_orphanet(self, tset):
        assert ("OMIM:100100", "IAO:0000142", "PMID:111") in tset
        assert ("OMIM:100100", "IAO:0000142", "PMID:222") in tset
        assert ("OMIM:300100", "skos:exactMatch", "UMLS:C1853365") in tset
        assert ("OMIM:100100", "skos:exactMatch", "ORPHANET:2970") in tset

    def test_protected_mondo_and_hgnc(self, tset):
        assert ("OMIM:700100", "skos:exactMatch", "MONDO:0700100") in tset
        assert ("OMIM:118507", "skos:exactMatch", "HGNC:9001") in tset
        # leftover protected association also emitted
        assert _restriction_id(tset, "OMIM:800100", "RO:0004003", "OMIM:118509")


class TestQueries:
    def test_pmid_mentions(self, build):
        rows = {(r.omim_code, r.pmid) for r in build.reports["pmid_mentions"].collect()}
        assert ("100100", "111") in rows

    def test_disease_gene_relationships(self, build):
        rows = build.reports["disease_gene_relationships"].collect()
        d2g = [r for r in rows if r.PredDirection == "Disease2Gene"]
        assert any(
            r.SubId == "OMIM:100100" and r.ObjId == "OMIM:118494" for r in d2g
        )
        g2d = [r for r in rows if r.PredDirection == "Gene2Disease"]
        assert any(r.SubId == "OMIM:118494" for r in g2d)

    def test_mondo_omim_genes(self, build):
        rows = build.reports["mondo_omim_genes"].collect()
        assert any(
            r.mondo_id == "MONDO:0008556"
            and r.hgnc_id == "HGNC:1950"
            and r.omim_gene == "OMIM:118494"
            for r in rows
        )

    def test_rewrites_change_no_report_row(self, spark, omim_data_dir, build):
        # build_graph's reports read the TTL triples plus the SSSOM
        # mappings without the reference's two INSERT rewrites
        # (makefile:61-66).  Pin why that is exact: the MONDO flip finds
        # nothing to flip, and the HGNC links it would add change no row
        # of either graph-pattern report.
        from omim_spark import triples as T
        from omim_spark.pipeline import load_omim_to_mondo

        mappings = load_omim_to_mondo(
            spark, os.path.join(omim_data_dir, "mondo_exactmatch_omim.sssom.tsv")
        )
        graph = T.union_triples(
            build.triples,
            T.emit_exact_match(mappings, "omim_mim", "mondo_id"),
        )
        flipped = add_flipped_mondo_mappings(graph)
        links = add_hgnc_links(graph)
        assert flipped.count() == 0
        assert links.count() > 0  # not vacuous: the hgnc rewrite fires
        rewritten = T.union_triples(graph, flipped, links)
        for name, report in (
            ("disease_gene_relationships", disease_gene_relationships),
            ("mondo_omim_genes", mondo_omim_genes),
        ):
            expected = build.reports[name].collect()
            assert expected
            assert report(rewritten).collect() == expected

    def test_insert_rewrites(self, spark, build):
        # flip: each MONDO –exactMatch→ X edge gains its inverse unless
        # the graph already has it
        edges = spark.createDataFrame(
            [
                ("MONDO:1", "skos:exactMatch", "OMIM:1", "uri", None),
                ("MONDO:2", "skos:exactMatch", "OMIM:2", "uri", None),
                ("OMIM:2", "skos:exactMatch", "MONDO:2", "uri", None),
            ],
            "subject string, predicate string, object string, "
            "obj_kind string, datatype string",
        )
        flipped = {
            (r.subject, r.predicate, r.object)
            for r in add_flipped_mondo_mappings(edges).collect()
        }
        assert flipped == {("OMIM:1", "skos:exactMatch", "MONDO:1")}
        # hgnc links: disease gets a parallel restriction onto HGNC class
        new = add_hgnc_links(build.triples)
        new_set = {(r.subject, r.predicate, r.object) for r in new.collect()}
        assert ("HGNC:1950", "rdf:type", "owl:Class") in new_set


def test_restrictions_decode_what_the_emitters_encode(spark):
    # Every restriction emitter round-trips through T.restrictions to
    # exactly its (cls, prop, filler) inputs: the evidence axioms,
    # whose annotatedTarget is the restriction bnode, add no rows.
    from collections import Counter

    from omim_spark import triples as T

    plain = spark.createDataFrame(
        [("OMIM:1", "RO:0002200", "NCBIGENE:10"), ("OMIM:2", "RO:0002525", "CHR:1")],
        "on string, pred string, svf string",
    )
    evid = spark.createDataFrame(
        [
            ("OMIM:3", "RO:0003302", "OMIM:30", "ev3", None),
            ("OMIM:4", "RO:0003303", "OMIM:40", "ev4", "orcid:0000-0001"),
        ],
        "on string, pred string, svf string, evidence string, orcid string",
    )
    assoc = spark.createDataFrame(
        [("50", "60", "ev5", None), ("51", "61", "ev6", "orcid:0000-0002")],
        "gene_mim string, p_mim string, evidence string, orcid string",
    )
    emitted = T.union_triples(
        T.emit_subclassof_restriction(plain, "pred", "svf", "on"),
        T.emit_restriction_with_evidence(
            evid, "pred", "svf", "on", "evidence", "orcid"
        ),
        T.emit_gene_disease_associations(assoc),
    )
    # Only subject/predicate/object: the decoder must not need obj_kind.
    decoded = T.restrictions(emitted.select("subject", "predicate", "object"))
    assert Counter(tuple(r) for r in decoded.collect()) == Counter(
        [
            ("OMIM:1", "RO:0002200", "NCBIGENE:10"),
            ("OMIM:2", "RO:0002525", "CHR:1"),
            ("OMIM:3", "RO:0003302", "OMIM:30"),
            ("OMIM:4", "RO:0003303", "OMIM:40"),
            ("OMIM:60", "RO:0004003", "OMIM:50"),
            ("OMIM:50", "RO:0004013", "OMIM:60"),
            ("OMIM:61", "RO:0004003", "OMIM:51"),
            ("OMIM:51", "RO:0004013", "OMIM:61"),
        ]
    )
    # The optional orcid lands once per non-null input axiom only.
    sources = emitted.filter(F.col("predicate") == "oboInOwl:source")
    assert sorted(r.object for r in sources.collect()) == [
        "orcid:0000-0001",
        "orcid:0000-0002",
        "orcid:0000-0002",
    ]


class TestDeterministicTtl:
    def test_byte_identical_across_builds(
        self, spark, omim_data_dir, build, tmp_path
    ):
        again = build_graph(spark, omim_data_dir, version_date="2026-01-01")
        p1, p2 = tmp_path / "a.ttl", tmp_path / "b.ttl"
        write_ttl(build.triples, str(p1))
        write_ttl(again.triples, str(p2))
        c1, c2 = p1.read_text(), p2.read_text()
        assert c1 == c2
        assert c1.startswith("@prefix")
        assert "OMIM:100100" in c1

    def test_sharded_writer_byte_identical(self, build, tmp_path, monkeypatch):
        # One range is a single global sort: the reference every wider
        # range split must reproduce byte for byte, for each rendering.
        # The few-row input leaves most of 16 ranges empty, which pins
        # the JSON array's commas across empty shards.
        import omim_spark.io.writers as W
        from omim_spark.io.artifacts import write_obograph_json

        cols = build.triples.columns
        few = build.triples.where(
            F.col("subject").isin("OMIM:100100", "OMIM:118494")
        )
        writers = {
            "ttl": write_ttl,
            "tsv": lambda df, path: W.write_tsv(df, path, order_by=cols),
            "json": write_obograph_json,
        }
        for source, triples in (("all", build.triples), ("few", few)):
            for kind, write in writers.items():
                outs = {}
                for ranges in (1, 4, 16):
                    monkeypatch.setattr(W, "parallelism", lambda spark: ranges)
                    out = tmp_path / f"{source}{ranges}.{kind}"
                    write(triples, str(out))
                    outs[ranges] = out.read_bytes()
                    assert not (tmp_path / f"{out.name}.shards").exists()
                assert outs[4] == outs[1], (source, kind)
                assert outs[16] == outs[1], (source, kind)
        doc = json.loads((tmp_path / "few16.json").read_text())["graphs"][0]
        assert 0 < len(doc["nodes"]) < 16
        assert 0 < len(doc["edges"]) < 16

    def test_empty_triples_write_header_only(self, build, tmp_path):
        from omim_spark.io.artifacts import OBOGRAPH_ID, write_obograph_json
        from omim_spark.io.writers import _ttl_header, write_tsv

        empty = build.triples.where(F.lit(False))
        out = tmp_path / "empty.ttl"
        write_ttl(empty, str(out))
        assert out.read_text() == _ttl_header()
        assert not (tmp_path / "empty.ttl.shards").exists()

        out = tmp_path / "empty.tsv"
        sub = ["ID", "A rdfs:label", "", "", ""]
        write_tsv(empty, str(out), order_by=["subject"], subheader=sub)
        header = ["\t".join(empty.columns), "\t".join(sub), ""]
        assert out.read_text().split("\n") == header

        out = tmp_path / "empty.json"
        write_obograph_json(empty, str(out))
        doc = {"graphs": [{"id": OBOGRAPH_ID, "nodes": [], "edges": []}]}
        assert out.read_text() == json.dumps(doc, separators=(",", ":"))

    def test_build_triples_are_a_set(self, build):
        # write_ttl renders every row it is given, so a duplicate
        # triple would be a duplicate TTL statement: the graph must
        # leave build_graph already deduplicated.
        assert build.triples.count() == build.triples.distinct().count()


def test_build_without_spark_context(spark, omim_data_dir, tset, monkeypatch):
    """A session with no driver-side SparkContext (Spark Connect) must
    build the same graph: partition counts fall back to session conf."""
    from pyspark.sql import SparkSession

    def no_context(self):
        raise NotImplementedError("no SparkContext on this session")

    monkeypatch.setattr(SparkSession, "sparkContext", property(no_context))
    r = build_graph(spark, omim_data_dir, version_date="2026-01-01")
    assert {(t.subject, t.predicate, t.object) for t in r.triples.collect()} == tset


@pytest.mark.parametrize(
    "packed_col, pred, prefix",
    [("pmid_refs", "IAO:0000142", "PMID:"), ("umls_ids", "skos:exactMatch", "UMLS:")],
)
def test_packed_id_links_drop_rows_without_mim(spark, tmp_path, packed_col, pred, prefix):
    # A cache row with a null mim has no subject: its ids must be
    # dropped like every other emitter's null-subject triples, not
    # written as a subject-less `pred obj .` TTL statement.
    from omim_spark import triples as T

    cache = spark.createDataFrame(
        [("100100", "1||2"), (None, "3")], f"mim string, {packed_col} string"
    )
    links = T.emit_packed_id_links(cache, "mim", packed_col, pred, prefix)
    assert sorted((r.subject, r.object) for r in links.collect()) == [
        ("OMIM:100100", f"{prefix}1"),
        ("OMIM:100100", f"{prefix}2"),
    ]
    out = tmp_path / "links.ttl"
    write_ttl(links, str(out))
    body = out.read_text().split("\n\n", 1)[1]
    assert all(line.startswith("OMIM:") for line in body.splitlines())
