import os
import sys
import threading
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from omim_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark("omim-spark-tests", master="local[4]", shuffle_partitions=4)


@contextmanager
def _count_py4j_calls():
    """Count the driver→JVM round trips (py4j ``GatewayClient.send_command``
    calls) that the calling thread makes inside the block.  py4j sends
    object releases from its own finalizer thread, whenever the garbage
    collector gets to them, so those are not counted."""
    from py4j.java_gateway import GatewayClient

    counter = SimpleNamespace(n=0)
    send = GatewayClient.send_command
    caller = threading.get_ident()

    def counting(self, *args, **kwargs):
        if threading.get_ident() == caller:
            counter.n += 1
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield counter
    finally:
        GatewayClient.send_command = send


@pytest.fixture
def py4j_calls():
    """``with py4j_calls() as calls: …`` then read ``calls.n``."""
    return _count_py4j_calls


# ---------------------------------------------------------------------------
# Synthetic OMIM fixture files (FIXTURES.md §1-§9)
# ---------------------------------------------------------------------------

MIM_TITLES = """\
# Copyright (c) synthetic fixture
# Prefix\tMIM Number\tPreferred Title; symbol\tAlternative Title(s); symbol(s)\tIncluded Title(s); symbols
Number Sign\t100100\tPRUNE BELLY SYNDROME; PBS\tABDOMINAL MUSCLES, ABSENCE OF;; EAGLE-BARRETT SYNDROME; EGBRS\t
Asterisk\t118494\tCHOLINERGIC RECEPTOR, MUSCARINIC, 3; CHRM3\t\t
Caret\t100200\tMOVED TO 100100\t\t
Caret\t100300\tMOVED TO 100100 AND 118494\t\t
Caret\t100400\tREMOVED FROM DATABASE\t\t
Percent\t200100\tMARKER SYNDROME, TYPE III\t\t
Plus\t200200\tGENE PLUS PHENO; GPP\t\t
\t200300\tSUSPECTED THING\t\t
Number Sign\t300100\tMULTI DISEASE, TYPE IIB; MD2\tOLD NAME, FORMERLY;; SECOND ALT; SA1\tINCLUDED THING, INCLUDED; ITH
Number Sign\t400100\tLINKED PHENOTYPE\t\t
Number Sign\t500100\tUNKNOWN DEFECT THING\t\t
Number Sign\t600100\tEXCLUDED DISEASE\t\t
Number Sign\t700100\tPROTECTED DIGENIC DISEASE\t\t
Number Sign\t800100\tLEFTOVER PROTECTED DISEASE\t\t
Number Sign\t900100\tCAUSAL DIGENIC THING\t\t
Number Sign\t901100\tSOMATIC CAUSAL THING\t\t
Number Sign\t118505\tSELF REF PHENO\t\t
# END OF FILE
"""

MORBIDMAP = """\
# Phenotype\tGene/Locus And Other Related Symbols\tMIM Number\tCyto Location
Prune belly syndrome, 100100 (3)\tCHRM3, PBS, EGBRS\t118494\t1q43
{Susceptibility to something}, 200100 (3)\tGENE2, AB\t118500\t2q11
[Non-disease marker], 300100 (3)\tGENE3\t118501\t3p21
Multi disease, 300100 (3)\tGENE4\t118502\t4q12
Some linkage phenotype, 400100 (2)\tGENE5\t118503\t5p13
Unknown defect, 500100 (1)\tGENE6\t118504\t6q16
No mim phenotype (3)\tGENE7\t118505\t7q17
Excluded disease, 600100 (3)\tGENE8\t118506\t8q18
Protected digenic disease, 700100 (3)\tGENE9\t118507\t9q19
Causal digenic thing, 900100 (3)\tGENE11\t118510\t11q11
Somatic causal thing, 901100 (3)\tGENE12\t118511\t11q12
Self-ref disease, 118505 (3)\tGENE10\t118508\t10q10
Phenotype gene thing, 118494 (3)\tGENE13\t118512\t12q12
"""

MIM2GENE = """\
# MIM Number\tMIM Entry Type\tEntrez Gene ID (NCBI)\tApproved Gene Symbol (HGNC)\tEnsembl Gene ID (Ensembl)
118494\tgene\t1131\tCHRM3\tENSG00000133019
100100\tphenotype\t\t\t
200200\tgene/phenotype\t1133\tGPP\t
300100\tpredominantly phenotypes\t1134\t\t
555555\tmoved/removed\t\t\t
666666\tgene\t1135\tCONFLICT\t
"""

# genemap2: 14 columns; approved symbol is column 9
_G2_PREFIX = "\t" * 5  # chromosome..computed_cyto empty

GENEMAP2 = (
    "# Chromosome\tGenomic Position Start\tGenomic Position End\tCyto Location\t"
    "Computed Cyto Location\tMIM Number\tGene Symbols\tGene Name\t"
    "Approved Gene Symbol\tEntrez Gene ID\tEnsembl Gene ID\tComments\t"
    "Phenotypes\tMouse Gene Symbol/ID\n"
    "chr1\t1\t2\t1q43\t\t666666\tCONF\tconflicting gene\tOTHER\t\t\t\t\t\n"
    "chr2\t1\t2\t2q11\t\t777777\tNEW\tnew gene\tNEWSYM\t\t\t\t\t\n"
)

PHENOTYPIC_SERIES = """\
# Phenotypic Series Number\tPhenotype\tMIM Number
PS100100\tPrune belly series
PS100100\t100100\tPrune belly syndrome
PS100100\t300100\tMulti disease
PS200000\tLonely series
"""

HGNC = """\
hgnc_id\tsymbol\tname
HGNC:1950\tCHRM3\tcholinergic receptor
HGNC:2001\tGPP\tgene plus pheno
HGNC:2002\tNEWSYM\tnew symbol
"""

SSSOM = """\
# curie_map:
#   OMIM: https://omim.org/entry/
subject_id\tsubject_label\tpredicate_id\tobject_id\tobject_label
OMIM:100100\tprune belly\tskos:exactMatch\tMONDO:0008556\tprune belly syndrome
MONDO:0008557\tother mondo\tskos:exactMatch\tOMIM:100100\tprune belly
OMIM:200100\tsusc thing\tskos:exactMatch\tMONDO:0011111\tsusceptibility
"""

PROTECTED = """\
phenotype_mim\tmondo_id\tmondo_label\ttype\tgene_mim\thgnc_id\torcid\tcomment
OMIM:700100\tMONDO:0700100\tprotected disease\tdigenic\tOMIM:118507\tHGNC:9001\thttps://orcid.org/0000-0001-0000-0001\tin morbidmap
OMIM:800100\tMONDO:0800100\tleftover disease\tdigenic\tOMIM:118509\tHGNC:9002\thttps://orcid.org/0000-0001-0000-0002\tnot in morbidmap
"""

EXCLUSIONS = """\
omim_id\tmondo_id\tmondo_label\torcid\texclusion_reason_comment
OMIM:600100\tMONDO:0600100\texcluded disease\thttps://orcid.org/0000-0002-0000-0001\tcurator says no
"""

KNOWN_CAPS = """\
lower_name\tcap_name\tpattern
eagle-barrett\tEagle-Barrett\tn/a
"""

# 100100 cites PMID 111 twice: the one source row that gives the
# emitters a duplicate triple for build_graph's dedup to drop
# (test_pipeline.py::TestDeterministicTtl::test_build_triples_are_a_set).
PUBMED_REFS = """\
mim\tis_phenotype\tdate_fetched\tpmid_refs
100100\tTrue\t2024-01-01\t111|222|111
118494\tFalse\t2024-01-01\t333
200100\tTrue\t2024-01-01\t
"""

MAPPINGS = """\
mim\tis_phenotype\tdate_fetched\tumls_ids\torphanet_ids
100100\tTrue\t2024-01-01\tC0033770\t2970
300100\tTrue\t2024-01-01\tC1853365|C0162871\t
"""

FILES = {
    "mimTitles.txt": MIM_TITLES,
    "morbidmap.txt": MORBIDMAP,
    "mim2gene.txt": MIM2GENE,
    "genemap2.txt": GENEMAP2,
    "phenotypicSeries.txt": PHENOTYPIC_SERIES,
    "hgnc_complete_set.txt": HGNC,
    "mondo_exactmatch_omim.sssom.tsv": SSSOM,
    "protected-disease-gene.tsv": PROTECTED,
    "exclusions-disease-gene.tsv": EXCLUSIONS,
    "known_capitalizations.tsv": KNOWN_CAPS,
    "pubmed-refs.tsv": PUBMED_REFS,
    "mappings.tsv": MAPPINGS,
}


@pytest.fixture(scope="session")
def omim_data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("omim_fixture")
    for name, content in FILES.items():
        (d / name).write_text(content)
    return str(d)
