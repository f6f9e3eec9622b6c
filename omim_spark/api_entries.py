"""OMIM REST API entry transform (S7/§2.7 JSON path — reference
transform_entry, omim2obo/parsers/omim_entry_parser.py:62-160, and the
nested-field extractors at :386-448).

``read_entry_json`` (io/readers.py) lands the API envelope as one row
per entry with a nested struct; everything here is nested-column
access + explode — the Spark-native form of the reference's dict
walking.  The same title pipeline (titles.py) applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omim_spark.omim_types import PREFIX_CHAR_TO_TYPE
from omim_spark.titles import cleanup_title


def _omim_type_from_char(col):
    expr = None
    for ch, typ in PREFIX_CHAR_TO_TYPE.items():
        cond = col == ch
        expr = F.when(cond, typ) if expr is None else expr.when(cond, typ)
    return expr.otherwise("SUSPECTED")


def entry_core(entries: DataFrame) -> DataFrame:
    """entry struct → flat core columns: mim_number (zero-padded
    string — leading zeros are semantic), omim_type, preferred title
    (raw + cleaned), abbrev (first ';' symbol), cyto location,
    genemap comments."""
    e = F.col("entry")
    pref = e["titles"]["preferredTitle"]
    return entries.select(
        F.lpad(e["mimNumber"].cast("string"), 6, "0").alias("mim_number"),
        _omim_type_from_char(e["prefix"]).alias("omim_type"),
        pref.alias("preferred_title"),
        F.expr(
            cleanup_title("substring_index(entry.titles.preferredTitle, ';', 1)")
        ).alias("label"),
        F.when(
            pref.contains(";"), F.trim(F.substring_index(pref, ";", -1))
        ).alias("abbrev"),
        e["titles"]["alternativeTitles"].alias("alternative_titles"),
        e["titles"]["includedTitles"].alias("included_titles"),
        e["geneMap"]["cytoLocation"].alias("cyto_location"),
        e["geneMap"]["comments"].alias("genemap_comments"),
    )


def entry_pubmed_refs(entries: DataFrame) -> DataFrame:
    """referenceList[].reference.pubmedID → (mim_number, pmid)
    (reference get_pubs :392-398)."""
    e = F.col("entry")
    return (
        entries.select(
            F.lpad(e["mimNumber"].cast("string"), 6, "0").alias("mim_number"),
            F.explode_outer(e["referenceList"]).alias("ref"),
        )
        .select(
            "mim_number",
            F.col("ref")["reference"]["pubmedID"].cast("string").alias("pmid"),
        )
        .filter(F.col("pmid").isNotNull())
    )


def entry_mapped_ids(entries: DataFrame) -> DataFrame:
    """externalLinks → (mim_number, namespace, id): geneIDs/umlsIDs are
    comma-packed; orphanetDiseases is `id;;code;;label` triples joined
    by ';;;' (reference get_mapped_ids :401-410, get_mapped_gene_ids
    :386-389)."""
    e = F.col("entry")
    base = entries.select(
        F.lpad(e["mimNumber"].cast("string"), 6, "0").alias("mim_number"),
        e["externalLinks"]["geneIDs"].alias("gene_ids"),
        e["externalLinks"]["umlsIDs"].alias("umls_ids"),
        e["externalLinks"]["orphanetDiseases"].alias("orphanet"),
    )

    def unpack(col, ns, splitter):
        return (
            base.filter(F.col(col).isNotNull() & (F.col(col) != ""))
            .select(
                "mim_number",
                F.lit(ns).alias("namespace"),
                F.explode(splitter).alias("id"),
            )
            .filter(F.col("id") != "")
        )

    genes = unpack(
        "gene_ids", "NCBIGENE", F.transform(F.split("gene_ids", ","), lambda x: F.trim(x))
    )
    umls = unpack(
        "umls_ids", "UMLS", F.transform(F.split("umls_ids", ","), lambda x: F.trim(x))
    )
    orpha = unpack(
        "orphanet",
        "ORPHANET",
        F.transform(
            F.split("orphanet", ";;;"),
            lambda item: F.trim(F.substring_index(item, ";;", 1)),
        ),
    )
    return genes.unionByName(umls).unionByName(orpha)


def entry_phenotypic_series(entries: DataFrame) -> DataFrame:
    """phenotypeMapList[].phenotypeMap.phenotypicSeriesNumber (also
    nested under geneMap) → distinct (mim_number, ps_number)
    (reference get_phenotypic_series :413-422)."""
    e = F.col("entry")
    top = entries.select(
        F.lpad(e["mimNumber"].cast("string"), 6, "0").alias("mim_number"),
        F.explode_outer(e["phenotypeMapList"]).alias("pm"),
    ).select(
        "mim_number",
        F.col("pm")["phenotypeMap"]["phenotypicSeriesNumber"].alias("ps_packed"),
    )
    nested = entries.select(
        F.lpad(e["mimNumber"].cast("string"), 6, "0").alias("mim_number"),
        F.explode_outer(e["geneMap"]["phenotypeMapList"]).alias("pm"),
    ).select(
        "mim_number",
        F.col("pm")["phenotypeMap"]["phenotypicSeriesNumber"].alias("ps_packed"),
    )
    return (
        top.unionByName(nested)
        .filter(F.col("ps_packed").isNotNull() & (F.col("ps_packed") != ""))
        .select(
            "mim_number", F.explode(F.split("ps_packed", ",")).alias("ps_number")
        )
        .filter(F.col("ps_number") != "")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Gene-association enrichment report (extract_omim_information twin)
# ---------------------------------------------------------------------------


def _schema_path(dtype, *path: str):
    """Walk a (possibly struct/array-nested) DataType down ``path``;
    return the terminal DataType or None if any segment is absent.
    Array segments are transparent (the walk descends into the
    element type), mirroring how ``.get()`` chains tolerate missing
    branches in the reference script."""
    from pyspark.sql.types import ArrayType, StructType

    cur = dtype
    for p in path:
        while isinstance(cur, ArrayType):
            cur = cur.elementType
        if not isinstance(cur, StructType) or p not in cur.fieldNames():
            return None
        cur = cur[p].dataType
    return cur


def entry_gene_association_report(
    evidence: DataFrame, entries: DataFrame
) -> DataFrame:
    """Spark twin of the reference's ad-hoc enrichment utility
    ``omim2obo/utils/omim_entry_gene_association_info/
    extract_omim_information.py:24-125``: join a MONDO evidence table
    (columns mondo_id, mondo_label, xrefs, should_have_gene_annotation)
    against cached API entries and explode each entry's phenotype map
    into one row per (evidence row, extracted OMIM curie, phenotype).

    Semantics mirrored from the script:
    - OMIM/OMIMPS curies regex-extracted from the xref blob
      (``extract_omim_ids``, :20-21); curies whose MIM has no cached
      entry (e.g. OMIMPS ids, which the per-MIM API call errors on)
      keep their evidence row with empty entry fields (:77-84 error
      branch) — as does an entry with no phenotypes (the ``or [{}]``
      explode at :100);
    - textSectionContent is the section titled 'Text' with newlines
      flattened to spaces (:37-43);
    - omimURL is the spreadsheet HYPERLINK formula, empty when the
      phenotype row has no MIM number (:52-56);
    - hgncID from externalLinks.hgnc (:44-47);
    - every absent JSON branch degrades to '' exactly like the
      script's ``.get(..., "")`` chains — enforced at SCHEMA level
      (Spark's inferred schema omits branches the landed cache never
      carried).  One documented divergence remains: the script's bare
      ``entry["prefix"]`` (:34) raises per-ENTRY when the key is
      missing, emptying all of that entry's enrichment fields; the
      landed schema cannot distinguish a missing key from an explicit
      ``"prefix": null`` once ANY entry in the file carries the field
      (both land as NULL), so the all-empty error branch applies when
      the column is absent file-wide, and a row-level NULL takes the
      script's ``prefix=None`` (populated-fields) path.

    Scale: the evidence table is the big side (one row per curated
    mapping); entries is the bounded API cache.  The join key is the
    MIM number and the phenotype explode is map-side — no UDFs, no
    driver loops: the reference's per-row ``requests.get`` + 0.5 s
    sleep becomes one join against the landed cache (io/fetch.py owns
    the paged download protocol)."""
    e = F.col("entry")
    edt = entries.schema["entry"].dataType

    def opt(*path: str):
        if _schema_path(edt, *path) is None:
            return F.lit(None)
        return F.col("entry." + ".".join(path))

    # The script reads ONLY the entry-level phenotypeMapList (:49 —
    # never the geneMap-nested one; entry_phenotypic_series covers
    # that variant for the series transform).  explode_outer on a
    # NULL/absent list keeps the row with empty phenotype fields,
    # matching the ``or [{}]`` at :100.
    if _schema_path(edt, "phenotypeMapList") is not None:
        phenos = opt("phenotypeMapList")
    else:
        phenos = F.lit(None).cast("array<string>")

    if (
        _schema_path(edt, "textSectionList", "textSection", "textSectionTitle")
        is not None
        and _schema_path(
            edt, "textSectionList", "textSection", "textSectionContent"
        )
        is not None
    ):
        text_col = F.trim(
            F.regexp_replace(
                F.filter(
                    opt("textSectionList"),
                    lambda s: s["textSection"]["textSectionTitle"] == "Text",
                )[0]["textSection"]["textSectionContent"],
                "\n",
                " ",
            )
        )
    else:
        text_col = F.lit(None)

    # Error-branch parity (:77-84): the script's bare ``entry["prefix"]``
    # at :34 raises KeyError when the cache never carries the field,
    # which empties EVERY enrichment field for the entry — not just the
    # prefix.  Mirrored at schema level: a wholly absent prefix column
    # blanks text/hgnc/phenotypes too.  (A present-but-null prefix is
    # the script's ``prefix=None`` case — other fields stay populated.)
    if _schema_path(edt, "prefix") is None:
        text_col = F.lit(None)
        hgnc_col = F.lit(None)
        phenos = F.lit(None).cast("array<string>")
    else:
        hgnc_col = opt("externalLinks", "hgnc")

    entry_flat = entries.select(
        e["mimNumber"].cast("string").alias("_mim_number"),
        F.coalesce(opt("prefix"), F.lit("")).alias("omim_prefix"),
        F.coalesce(text_col, F.lit("")).alias("textSectionContent"),
        F.coalesce(hgnc_col, F.lit("")).alias("hgncID"),
        phenos.alias("_phenos"),
    )

    ev = evidence.withColumn(
        "extracted_omim_curie",
        F.explode(
            F.regexp_extract_all("xrefs", F.lit(r"(OMIM(?:PS)?:\d+)"), 1)
        ),
    ).withColumn("_mim", F.substring_index("extracted_omim_curie", ":", -1))

    joined = ev.join(
        entry_flat, ev["_mim"] == entry_flat["_mim_number"], "left"
    ).select(
        "mondo_id",
        "mondo_label",
        "xrefs",
        "should_have_gene_annotation",
        "extracted_omim_curie",
        F.coalesce("omim_prefix", F.lit("")).alias("omim_prefix"),
        F.coalesce("textSectionContent", F.lit("")).alias("textSectionContent"),
        F.coalesce("hgncID", F.lit("")).alias("hgncID"),
        F.explode_outer("_phenos").alias("_pm"),
    )

    # In the error branch (prefix column absent file-wide) _phenos was
    # forced to a typed NULL, so _pm is not a struct — every phenotype
    # field is the branch's empty default.
    pdt = (
        _schema_path(edt, "phenotypeMapList")
        if _schema_path(edt, "prefix") is not None
        else None
    )

    def pm_field(name: str):
        if pdt is None or _schema_path(pdt, "phenotypeMap", name) is None:
            return F.lit(None).cast("string")
        return F.col("_pm")["phenotypeMap"][name].cast("string")

    pheno_mim = pm_field("phenotypeMimNumber")
    return joined.select(
        "mondo_id",
        "mondo_label",
        "xrefs",
        "should_have_gene_annotation",
        "extracted_omim_curie",
        F.coalesce(pm_field("phenotype"), F.lit("")).alias("phenotype"),
        "omim_prefix",
        F.coalesce(pheno_mim, F.lit("")).alias("phenotypeMimNumber"),
        # the script takes geneMimNumber from the phenotypeMap's own
        # mimNumber field (:62), not the outer entry
        F.coalesce(pm_field("mimNumber"), F.lit("")).alias("geneMimNumber"),
        F.when(
            pheno_mim.isNotNull() & (pheno_mim != ""),
            F.concat(
                F.lit('=HYPERLINK("https://omim.org/entry/'),
                pheno_mim,
                F.lit('", "https://omim.org/entry/'),
                pheno_mim,
                F.lit('")'),
            ),
        )
        .otherwise("")
        .alias("omimURL"),
        F.coalesce(pm_field("phenotypeMappingKey"), F.lit("")).alias(
            "phenotypeMappingKey"
        ),
        F.coalesce(pm_field("approvedGeneSymbols"), F.lit("")).alias(
            "approvedGeneSymbols"
        ),
        "hgncID",
        "textSectionContent",
    )
