"""Parser tests — the reference's own test cases re-expressed
(tests/omim2obo/parsers/test_omim_txt_parser.py:5-46) plus the J3
conflict-drop and the F10 quality gate."""

import pytest

from omim_spark import parse
from omim_spark.io import readers


def _ids(df, col):
    return sorted(r[col] for r in df.collect())


class TestParseOmimId:
    def test_repair_cases(self, spark):
        df = spark.createDataFrame(
            [("100100",), ("{100200}",), ("100300,",), ("garbage",), ("12345",)],
            ["raw"],
        )
        out = df.selectExpr(f"{parse.parse_omim_id('raw')} AS fixed").collect()
        assert [r.fixed for r in out] == ["100100", "100200", "100300", None, None]


class TestMimTitles:
    def test_parse(self, spark, omim_data_dir):
        raw = readers.read_mim_titles(spark, f"{omim_data_dir}/mimTitles.txt")
        parsed = parse.parse_mim_titles(raw)
        rows = {r.mim_number: r for r in parsed.collect()}
        assert rows["100100"].omim_type == "PHENOTYPE"
        assert rows["118494"].omim_type == "GENE"
        assert rows["200100"].omim_type == "HERITABLE_PHENOTYPIC_MARKER"
        assert rows["200200"].omim_type == "HAS_AFFECTED_FEATURE"
        assert rows["200300"].omim_type == "SUSPECTED"
        # moved-to parsing (reference asserts omim_replaced lists)
        assert rows["100200"].replaced_by == ["100100"]
        assert rows["100300"].replaced_by == ["100100", "118494"]
        assert rows["100400"].replaced_by == []
        assert rows["100100"].replaced_by is None


class TestMorbidMap:
    def test_regex_extraction(self, spark, omim_data_dir):
        raw = readers.read_morbidmap(spark, f"{omim_data_dir}/morbidmap.txt")
        assocs = parse.parse_morbid_map(raw)
        rows = {(r.gene_mim, r.p_mim): r for r in assocs.collect()}
        prune = rows[("118494", "100100")]
        assert prune.map_key == "3"
        assert prune.p_label.startswith("Prune belly syndrome")
        assert prune.gene_symbols == ["CHRM3", "PBS", "EGBRS"]
        assert prune.cyto_location == "1q43"
        # no-MIM fallback pattern
        no_mim = rows[("118505", "")]
        assert no_mim.map_key == "3"
        assert no_mim.p_label == "No mim phenotype"

    def test_phenotype_genes_grouping(self, spark, omim_data_dir):
        raw = readers.read_morbidmap(spark, f"{omim_data_dir}/morbidmap.txt")
        assocs = parse.parse_morbid_map(raw)
        pg = parse.phenotype_genes(assocs)
        by_p = {r.p_mim: r.gene_associations for r in pg.collect()}
        assert len(by_p["300100"]) == 2  # multi-assoc phenotype
        assert len(by_p["100100"]) == 1

    def test_gene_grouping_first_wins(self, spark, omim_data_dir):
        raw = readers.read_morbidmap(spark, f"{omim_data_dir}/morbidmap.txt")
        gp = parse.gene_phenotypes(parse.parse_morbid_map(raw))
        rows = {r.gene_mim: r for r in gp.collect()}
        assert rows["118494"].cyto_location == "1q43"


class TestMim2Gene:
    def test_gene_pheno_split(self, spark, omim_data_dir):
        raw = readers.read_mim2gene(spark, f"{omim_data_dir}/mim2gene.txt")
        gene_map, pheno_map = parse.parse_mim2gene(raw)
        assert _ids(gene_map, "mim_number") == ["118494", "200200", "666666"]
        assert _ids(pheno_map, "mim_number") == ["300100"]

    def test_conflict_drop(self, spark, omim_data_dir):
        m2g = readers.read_mim2gene(spark, f"{omim_data_dir}/mim2gene.txt")
        g2 = readers.read_genemap2(spark, f"{omim_data_dir}/genemap2.txt")
        merged = parse.reconcile_hgnc_symbol_maps(m2g, g2)
        by_mim = {r.mim: r.hgnc_symbol for r in merged.collect()}
        assert "666666" not in by_mim  # CONFLICT vs OTHER → dropped
        assert by_mim["777777"] == "NEWSYM"  # genemap2-only survives
        assert by_mim["118494"] == "CHRM3"  # mim2gene-only survives


class TestPhenotypicSeries:
    def test_ragged_split(self, spark, omim_data_dir):
        raw = readers.read_phenotypic_series(
            spark, f"{omim_data_dir}/phenotypicSeries.txt"
        )
        series, members = parse.parse_phenotypic_series(raw)
        s = {r.ps: r.title for r in series.collect()}
        assert s == {"100100": "Prune belly series", "200000": "Lonely series"}
        m = sorted((r.ps, r.member_mim) for r in members.collect())
        assert m == [("100100", "100100"), ("100100", "300100")]


class TestHgncGate:
    def test_map(self, spark, omim_data_dir):
        hgnc = readers.read_hgnc(spark, f"{omim_data_dir}/hgnc_complete_set.txt")
        ok = parse.hgnc_symbol_id_map(hgnc)
        by_symbol = {r.symbol: r.hgnc_id for r in ok.collect()}
        assert by_symbol["CHRM3"] == "1950"

    def test_gate_fires_above_threshold(self, spark):
        bad = spark.createDataFrame(
            [("HGNC:1", "A"), (None, "B"), ("HGNC:3", None), ("HGNC:4", "D")],
            ["hgnc_id", "symbol"],
        )
        with pytest.raises(parse.HgncQualityError):
            parse.hgnc_symbol_id_map(bad)  # 2/4 bad > 1%
        ok = parse.hgnc_symbol_id_map(bad, max_bad_ratio=0.9)
        assert sorted(r.symbol for r in ok.collect()) == ["A", "D"]
