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

from omim_spark.sqltext import q
from omim_spark.triples import _emit, _restriction_cols, _t, restrictions

D2G_PREDICATES = [
    "RO:0003302",
    "RO:0003303",
    "RO:0003304",
    "RO:0004013",
    "RO:0004003",
]


def pmid_mentions(triples: DataFrame) -> DataFrame:
    """`make get-pmids` (reference omim_code_pmid_query.py:30-43):
    SELECT ?omim_code ?pmid WHERE { ?omim IAO:0000142 ?pmid } with
    URIs post-processed to bare codes."""
    return (
        triples.filter("predicate = 'IAO:0000142'")
        .selectExpr(
            "substring_index(subject, ':', -1) AS omim_code",
            "substring_index(object, ':', -1) AS pmid",
        )
        .orderBy("omim_code", "pmid")
    )


def disease_gene_relationships(triples: DataFrame) -> DataFrame:
    """sparql/disease-gene-relationships.sparql:9-48 as joins: class ⋈
    label ⋈ subClassOf ⋈ restriction(onProperty ∈ 5 RO preds,
    someValuesFrom) ⋈ object class+label; OPTIONAL biolink categories
    → left joins; direction via IF(pred==RO:0004003)."""
    preds = ", ".join(map(q, D2G_PREDICATES))
    return triples.sparkSession.sql(
        f"""
        WITH klass AS (SELECT subject AS cls_s, object AS cls_o FROM {{t}}
                       WHERE predicate = 'rdf:type' AND object = 'owl:Class'),
             label AS (SELECT subject AS lab_s, object AS lab_o FROM {{t}}
                       WHERE predicate = 'rdfs:label'),
             category AS (SELECT subject AS cat_s, object AS cat_o FROM {{t}}
                          WHERE predicate = 'biolink:category')
        SELECT cls AS SubId,
               lab.lab_o AS SubLabel,
               regexp_replace(cat.cat_o, '^biolink:', '') AS SubBiolink,
               prop AS Pred,
               CASE WHEN prop = 'RO:0004003' THEN 'Disease2Gene'
                    ELSE 'Gene2Disease' END AS PredDirection,
               filler AS ObjId,
               olab.lab_o AS ObjLabel,
               regexp_replace(ocat.cat_o, '^biolink:', '') AS ObjBiolink
        FROM (SELECT * FROM {{r}} WHERE prop IN ({preds})) rst
        JOIN klass k ON cls = k.cls_s
        JOIN label lab ON cls = lab.lab_s
        JOIN klass ok ON filler = ok.cls_s
        JOIN label olab ON filler = olab.lab_s
        LEFT JOIN category cat ON cls = cat.cat_s
        LEFT JOIN category ocat ON filler = ocat.cat_s
        ORDER BY PredDirection, SubBiolink, Pred, SubId, ObjBiolink, ObjId
        """,
        t=triples,
        r=restrictions(triples),
    )


def mondo_omim_genes(triples: DataFrame) -> DataFrame:
    """sparql/mondo-omim-genes.sparql:12-25: disease exactMatch MONDO,
    disease subClassOf [RO:0004003 someValuesFrom gene], gene
    exactMatch HGNC."""
    return triples.sparkSession.sql(
        """
        WITH exact AS (SELECT subject AS m_s, object AS m_o FROM {t}
                       WHERE predicate = 'skos:exactMatch')
        SELECT DISTINCT mondo.m_o AS mondo_id,
                        hgnc.m_o AS hgnc_id,
                        cls AS omim_disease_xref,
                        filler AS omim_gene
        FROM (SELECT * FROM {r} WHERE prop = 'RO:0004003') rst
        JOIN (SELECT subject AS cls_s FROM {t}
              WHERE predicate = 'rdf:type' AND object = 'owl:Class') klass
          ON cls = klass.cls_s
        JOIN (SELECT * FROM exact WHERE startswith(m_o, 'MONDO:')) mondo
          ON cls = mondo.m_s
        JOIN (SELECT * FROM exact WHERE startswith(m_o, 'HGNC:')) hgnc
          ON filler = hgnc.m_s
        ORDER BY mondo_id, hgnc_id, omim_gene, omim_disease_xref
        """,
        t=triples,
        r=restrictions(triples),
    )


def add_flipped_mondo_mappings(triples: DataFrame) -> DataFrame:
    """sparql/add_flipped_mondo_mappings.ru (J10): for every
    MONDO –exactMatch→ X edge, insert X –exactMatch→ MONDO.  Returns
    the NEW triples (caller unions them in)."""
    return triples.sparkSession.sql(
        """
        SELECT f.subject, f.predicate, f.object,
               'uri' AS obj_kind, CAST(NULL AS STRING) AS datatype
        FROM (SELECT object AS subject, predicate, subject AS object FROM {t}
              WHERE predicate = 'skos:exactMatch'
                AND startswith(subject, 'MONDO:')) f
        LEFT ANTI JOIN {t} g
          ON f.subject = g.subject AND f.predicate = g.predicate
             AND f.object = g.object
        """,
        t=triples,
    )


def add_hgnc_links(triples: DataFrame) -> DataFrame:
    """sparql/hgnc_links.ru (J10): for each disease with a RO:0004003
    restriction onto an OMIM gene that exactMatches an HGNC id, insert
    a parallel restriction onto the HGNC class (+ its owl:Class
    typing).  Returns the NEW triples."""
    base = triples.sparkSession.sql(
        """
        SELECT DISTINCT cls, hgnc
        FROM (SELECT * FROM {r} WHERE prop = 'RO:0004003')
        JOIN (SELECT subject AS gene, object AS hgnc FROM {t}
              WHERE predicate = 'skos:exactMatch'
                AND startswith(object, 'HGNC:'))
          ON filler = gene
        """,
        t=triples,
        r=restrictions(triples),
    )
    return _emit(
        base,
        _t("hgnc", "rdf:type", q("owl:Class")),
        *_restriction_cols(q("RO:0004003"), "hgnc", "cls"),
    )
