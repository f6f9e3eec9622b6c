"""API entry JSON path tests (S7 — mirrors the reference's
tests/omim2obo/parsers/test_omim_entry_parser.py fixture strategy:
one JSON entry per prefix type, with field-level assertions)."""

import json

import pytest

from omim_spark import api_entries
from omim_spark.io.readers import read_entry_json
from omim_spark.operators import skew

ENTRIES = {
    "omim": {
        "version": "1.0",
        "entryList": [
            {
                "entry": {
                    "prefix": "+",
                    "mimNumber": 104250,
                    "titles": {
                        "preferredTitle": "ALPHA-2C-ADRENERGIC RECEPTOR; ADRA2C",
                        "alternativeTitles": "ALPHA-2-ADRENERGIC RECEPTOR, RENAL TYPE",
                        "includedTitles": "HEART FAILURE MODIFIER, INCLUDED",
                    },
                    "geneMapExists": True,
                    "geneMap": {
                        "cytoLocation": "4p16.3",
                        "comments": "intronless",
                        "phenotypeMapList": [
                            {"phenotypeMap": {"phenotypicSeriesNumber": "PS104250"}}
                        ],
                    },
                    "referenceList": [
                        {"reference": {"pubmedID": 2823383}},
                        {"reference": {"pubmedID": 8396931}},
                        {"reference": {"title": "no pmid here"}},
                    ],
                    "externalLinks": {
                        "geneIDs": "152, 153",
                        "umlsIDs": "C1412261",
                        "orphanetDiseases": "634475;;31692;;Mosaic thing;;;637;;183;;Full thing",
                    },
                }
            },
            {
                "entry": {
                    "prefix": "#",
                    "mimNumber": 104500,
                    "titles": {"preferredTitle": "AMELOGENESIS IMPERFECTA, TYPE IB; AI1B"},
                    "phenotypeMapList": [
                        {"phenotypeMap": {"phenotypicSeriesNumber": "PS104500,PS104501"}}
                    ],
                }
            },
            {
                "entry": {
                    "prefix": None,
                    "mimNumber": 100070,
                    "titles": {"preferredTitle": "AORTIC ANEURYSM, FAMILIAL ABDOMINAL"},
                }
            },
        ],
    }
}


@pytest.fixture(scope="module")
def entries(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("api_json")
    (d / "entries.json").write_text(json.dumps(ENTRIES))
    return read_entry_json(spark, str(d / "entries.json"))


class TestEntryCore:
    def test_core_fields(self, entries):
        rows = {r.mim_number: r for r in api_entries.entry_core(entries).collect()}
        assert set(rows) == {"104250", "104500", "100070"}
        gene = rows["104250"]
        assert gene.omim_type == "HAS_AFFECTED_FEATURE"
        assert gene.abbrev == "ADRA2C"
        assert gene.cyto_location == "4p16.3"
        pheno = rows["104500"]
        assert pheno.omim_type == "PHENOTYPE"
        # cleanup_title applied to the pre-';' part, roman converted
        assert pheno.label == "amelogenesis imperfecta, type 1b"
        assert rows["100070"].omim_type == "SUSPECTED"
        assert rows["100070"].abbrev is None

    def test_pubmed_refs(self, entries):
        refs = sorted(
            (r.mim_number, r.pmid)
            for r in api_entries.entry_pubmed_refs(entries).collect()
        )
        assert refs == [("104250", "2823383"), ("104250", "8396931")]

    def test_mapped_ids(self, entries):
        ids = {
            (r.namespace, r.id)
            for r in api_entries.entry_mapped_ids(entries).collect()
        }
        assert ("NCBIGENE", "152") in ids
        assert ("NCBIGENE", "153") in ids
        assert ("UMLS", "C1412261") in ids
        # orphanet triples: first field of each ';;;'-separated item
        assert ("ORPHANET", "634475") in ids
        assert ("ORPHANET", "637") in ids

    def test_phenotypic_series(self, entries):
        ps = {
            (r.mim_number, r.ps_number)
            for r in api_entries.entry_phenotypic_series(entries).collect()
        }
        assert ("104250", "PS104250") in ps  # nested under geneMap
        assert ("104500", "PS104500") in ps
        assert ("104500", "PS104501") in ps  # comma-packed


class TestSkewOperators:
    def test_two_phase_agg_matches_plain(self, spark):
        from pyspark.sql import functions as F

        df = spark.range(0, 5000).select(
            (F.col("id") % 2).alias("k"), F.col("id").alias("v")
        )
        out = skew.two_phase_agg(
            df, "k", {"total": "sum(v)", "n": "count(*)", "mx": "max(v)"}
        )
        got = {r.k: (r.total, r.n, r.mx) for r in out.collect()}
        exp = {
            r.k: (r.total, r.n, r.mx)
            for r in df.groupBy("k")
            .agg(
                F.sum("v").alias("total"),
                F.count("*").alias("n"),
                F.max("v").alias("mx"),
            )
            .collect()
        }
        assert got == exp
