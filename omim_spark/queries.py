"""SPARQL-equivalent queries over the triples DataFrame (SURVEY §2.3
J9/J10, §3.2/§3.3): the ROBOT/SPARQL post-processing stages of the
reference makefile become Spark SQL-style self-joins — removing the
external Java toolchain and its -Xmx20G single-JVM ceiling
(reference run.sh:38).

Scale: a triples relation self-joins on subject/object; each pattern
leg filters on predicate BEFORE joining (predicate-filtered scans are
the RDF-store equivalent of partition pruning).  The restriction spine
(subClassOf → onProperty / someValuesFrom) is decoded once, by
``triples.restrictions``.  Over the build's ``all_triples`` checkpoint,
which carries no size statistics, every leg is planned as a
sort-merge join; AQE turns the small ones into broadcasts only after
their shuffle stages have run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omim_spark.triples import (
    _emit,
    _t,
    emit_subclassof_restriction,
    restrictions,
    union_triples,
)

D2G_PREDICATES = [
    "RO:0003302",
    "RO:0003303",
    "RO:0003304",
    "RO:0004013",
    "RO:0004003",
]


def _p(triples: DataFrame, pred: str, alias: str) -> DataFrame:
    return (
        triples.filter(F.col("predicate") == pred)
        .select(F.col("subject").alias(f"{alias}_s"), F.col("object").alias(f"{alias}_o"))
        .alias(alias)
    )


def pmid_mentions(triples: DataFrame) -> DataFrame:
    """`make get-pmids` (reference omim_code_pmid_query.py:30-43):
    SELECT ?omim_code ?pmid WHERE { ?omim IAO:0000142 ?pmid } with
    URIs post-processed to bare codes."""
    return (
        triples.filter(F.col("predicate") == "IAO:0000142")
        .select(
            F.substring_index("subject", ":", -1).alias("omim_code"),
            F.substring_index("object", ":", -1).alias("pmid"),
        )
        .orderBy("omim_code", "pmid")
    )


def disease_gene_relationships(triples: DataFrame) -> DataFrame:
    """sparql/disease-gene-relationships.sparql:9-48 as DataFrame
    joins: class ⋈ label ⋈ subClassOf ⋈ restriction(onProperty ∈ 5 RO
    preds, someValuesFrom) ⋈ object class+label; OPTIONAL biolink
    categories → left joins; direction via IF(pred==RO:0004003)."""
    cls = _p(triples, "rdf:type", "cls").filter(F.col("cls_o") == "owl:Class")
    lab = _p(triples, "rdfs:label", "lab")
    rst = restrictions(triples).filter(F.col("prop").isin(D2G_PREDICATES))
    cat = _p(triples, "biolink:category", "cat")
    ocls = cls.select(
        F.col("cls_s").alias("ocls_s"), F.col("cls_o").alias("ocls_o")
    )
    olab = lab.select(F.col("lab_s").alias("olab_s"), F.col("lab_o").alias("olab_o"))
    ocat = cat.select(F.col("cat_s").alias("ocat_s"), F.col("cat_o").alias("ocat_o"))

    joined = (
        rst.join(cls, F.col("cls") == F.col("cls_s"))
        .join(lab, F.col("cls") == F.col("lab_s"))
        .join(ocls, F.col("filler") == F.col("ocls_s"))
        .join(olab, F.col("filler") == F.col("olab_s"))
        .join(cat, F.col("cls") == F.col("cat_s"), "left")
        .join(ocat, F.col("filler") == F.col("ocat_s"), "left")
    )
    strip_biolink = lambda c: F.regexp_replace(c, "^biolink:", "")  # noqa: E731
    return joined.select(
        F.col("cls").alias("SubId"),
        F.col("lab_o").alias("SubLabel"),
        strip_biolink(F.col("cat_o")).alias("SubBiolink"),
        F.col("prop").alias("Pred"),
        F.when(F.col("prop") == "RO:0004003", "Disease2Gene")
        .otherwise("Gene2Disease")
        .alias("PredDirection"),
        F.col("filler").alias("ObjId"),
        F.col("olab_o").alias("ObjLabel"),
        strip_biolink(F.col("ocat_o")).alias("ObjBiolink"),
    ).orderBy("PredDirection", "SubBiolink", "Pred", "SubId", "ObjBiolink", "ObjId")


def mondo_omim_genes(triples: DataFrame) -> DataFrame:
    """sparql/mondo-omim-genes.sparql:12-25: disease exactMatch MONDO,
    disease subClassOf [RO:0004003 someValuesFrom gene], gene
    exactMatch HGNC."""
    cls = _p(triples, "rdf:type", "cls").filter(F.col("cls_o") == "owl:Class")
    match = _p(triples, "skos:exactMatch", "m")
    mondo = match.filter(F.col("m_o").startswith("MONDO:")).select(
        F.col("m_s").alias("dis"), F.col("m_o").alias("mondo_id")
    )
    rst = restrictions(triples).filter(F.col("prop") == "RO:0004003")
    hgnc = match.filter(F.col("m_o").startswith("HGNC:")).select(
        F.col("m_s").alias("gene"), F.col("m_o").alias("hgnc_id")
    )
    return (
        rst.join(cls, F.col("cls") == F.col("cls_s"))
        .join(mondo, F.col("cls") == F.col("dis"))
        .join(hgnc, F.col("filler") == F.col("gene"))
        .select(
            "mondo_id",
            "hgnc_id",
            F.col("cls").alias("omim_disease_xref"),
            F.col("filler").alias("omim_gene"),
        )
        .distinct()
        .orderBy("mondo_id", "hgnc_id", "omim_gene", "omim_disease_xref")
    )


def add_flipped_mondo_mappings(triples: DataFrame) -> DataFrame:
    """sparql/add_flipped_mondo_mappings.ru (J10): for every
    MONDO –exactMatch→ X edge, insert X –exactMatch→ MONDO.  Returns
    the NEW triples (caller unions them in)."""
    flipped = (
        triples.filter(
            (F.col("predicate") == "skos:exactMatch")
            & F.col("subject").startswith("MONDO:")
        )
        .select(
            F.col("object").alias("subject"),
            F.lit("skos:exactMatch").alias("predicate"),
            F.col("subject").alias("object"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("datatype"),
        )
    )
    return flipped.join(
        triples, ["subject", "predicate", "object"], "left_anti"
    ).select("subject", "predicate", "object", "obj_kind", "datatype")


def add_hgnc_links(triples: DataFrame) -> DataFrame:
    """sparql/hgnc_links.ru (J10): for each disease with a RO:0004003
    restriction onto an OMIM gene that exactMatches an HGNC id, insert
    a parallel restriction onto the HGNC class (+ its owl:Class
    typing).  Returns the NEW triples."""
    hgnc = (
        triples.filter(
            (F.col("predicate") == "skos:exactMatch")
            & F.col("object").startswith("HGNC:")
        )
        .select(F.col("subject").alias("gene"), F.col("object").alias("hgnc"))
    )
    base = (
        restrictions(triples)
        .filter(F.col("prop") == "RO:0004003")
        .join(hgnc, F.col("filler") == F.col("gene"))
        .select("cls", "hgnc")
        .distinct()
    )
    typing = _emit(base, _t(F.col("hgnc"), "rdf:type", "owl:Class"))
    restriction = emit_subclassof_restriction(
        base, F.lit("RO:0004003"), F.col("hgnc"), F.col("cls")
    )
    return union_triples(typing, restriction)
