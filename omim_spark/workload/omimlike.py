"""OMIM-semantics workload: the reference pipeline's core transforms
(entry-type taxonomy, MOVED-TO parsing, title micro-format split,
the association decision table, phenotypic-series regrouping, SSSOM
orientation normalization) run on inline fixtures shared verbatim with
the DuckDB oracle (VALUES clauses), so the *semantics* — not just the
relational plumbing — are under the correctness gate.

The full-size implementations over real OMIM file formats live in
``omim_spark.parse`` / ``omim_spark.associations``; these workload
queries are their distilled, oracle-checkable cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import register

# ---------------------------------------------------------------------------
# Fixture literals (FIXTURES.md §1-§8 shapes)
# ---------------------------------------------------------------------------

MIMTITLES_ROWS = [
    ("Asterisk", "100001", "GENE SYMBOL ONE; G1"),
    ("Plus", "100002", "GENE AND PHENOTYPE TWO; GP2"),
    ("Number Sign", "100003", "PHENOTYPE THREE; P3; P3B"),
    ("Percent", "100004", "HERITABLE MARKER FOUR"),
    ("", "100005", "SUSPECTED ENTRY FIVE"),
    ("Caret", "100006", "MOVED TO 100001"),
    ("Caret", "100007", "MOVED TO 100001 AND 100002"),
    ("Caret", "100008", "REMOVED FROM DATABASE"),
]

# morbidmap-shaped association rows: (p_mim, p_label, map_key, gene_mim)
ASSOC_ROWS = [
    ("100100", "Prune belly syndrome", "3", "118494"),
    ("200100", "{Susceptibility to infection}", "3", "118400"),
    ("200200", "[Non-disease marker]", "3", "118401"),
    ("200300", "?Provisional disease", "3", "118402"),
    ("300100", "Multi-gene disease", "3", "118500"),
    ("300100", "Multi-gene disease", "3", "118501"),
    ("300200", "Linked phenotype", "2", "118502"),
    ("300200", "Contributing phenotype", "4", "118503"),
    ("300300", "Unknown defect thing", "1", "118504"),
    ("", "Orphan label, no MIM", "3", "118505"),
    ("400100", "Excluded disease", "3", "118506"),
    ("500100", "Protected digenic disease", "3", "118507"),
]
EXCLUSION_ROWS = [("400100",)]
PROTECTED_ROWS = [("500100", "118507", "1234"), ("500200", "118508", "5678")]

PHENO_SERIES_ROWS = [
    ("PS100100", "Prune belly series", None),
    ("PS100100", None, "100100"),
    ("PS100100", None, "300100"),
    ("PS200000", "Lonely series", None),
]

SSSOM_ROWS = [
    ("OMIM:100100", "skos:exactMatch", "MONDO:0008556"),
    ("MONDO:0008557", "skos:exactMatch", "OMIM:100100"),
    ("OMIM:200100", "skos:exactMatch", "MONDO:0011111"),
    ("MONDO:0022222", "skos:exactMatch", "MONDO:0033333"),  # no OMIM side → dropped
]


def _values_sql(rows, cols):
    def lit(v):
        if v is None:
            return "NULL"
        return "'" + str(v).replace("'", "''") + "'"

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS t({', '.join(cols)})"


# ---------------------------------------------------------------------------
# Entry-type taxonomy + MOVED TO parsing (§1.5, omim_txt_parser.py:311-346)
# ---------------------------------------------------------------------------


@register(
    "q_omim_entry_types",
    oracle=f"""
    SELECT mim,
           CASE prefix
             WHEN 'Asterisk' THEN 'GENE'
             WHEN 'Plus' THEN 'HAS_AFFECTED_FEATURE'
             WHEN 'Number Sign' THEN 'PHENOTYPE'
             WHEN 'Percent' THEN 'HERITABLE_PHENOTYPIC_MARKER'
             WHEN 'Caret' THEN 'OBSOLETE'
             ELSE 'SUSPECTED' END AS omim_type,
           CASE WHEN prefix = 'Caret' AND STARTS_WITH(preferred, 'MOVED TO ')
                THEN ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(preferred, '\\d{{6}}'), ',')
                ELSE NULL END AS moved_to
    FROM {_values_sql(MIMTITLES_ROWS, ['prefix', 'mim', 'preferred'])}
    ORDER BY mim
    """,
)
def q_omim_entry_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OmimType taxonomy from the symbolic prefix + obsolete
    `MOVED TO` target extraction (reference omim_type.py:6-51,
    omim_txt_parser.py:323-346)."""
    df = spark.createDataFrame(MIMTITLES_ROWS, ["prefix", "mim", "preferred"])
    omim_type = (
        F.when(F.col("prefix") == "Asterisk", "GENE")
        .when(F.col("prefix") == "Plus", "HAS_AFFECTED_FEATURE")
        .when(F.col("prefix") == "Number Sign", "PHENOTYPE")
        .when(F.col("prefix") == "Percent", "HERITABLE_PHENOTYPIC_MARKER")
        .when(F.col("prefix") == "Caret", "OBSOLETE")
        .otherwise("SUSPECTED")
    )
    moved = F.when(
        (F.col("prefix") == "Caret") & F.col("preferred").startswith("MOVED TO "),
        F.array_join(F.expr(r"regexp_extract_all(preferred, '\\d{6}', 0)"), ","),
    )
    return df.select(
        "mim", omim_type.alias("omim_type"), moved.alias("moved_to")
    ).orderBy("mim")


@register(
    "q_omim_title_split",
    oracle=f"""
    SELECT mim,
           TRIM(STRING_SPLIT(preferred, ';')[1]) AS title,
           COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM(STRING_SPLIT(preferred, ';')[2:],
                                          x -> TRIM(x)), '|'), '') AS symbols,
           LEN(STRING_SPLIT(preferred, ';')) - 1 AS n_symbols
    FROM {_values_sql(MIMTITLES_ROWS, ['prefix', 'mim', 'preferred'])}
    ORDER BY mim
    """,
)
def q_omim_title_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferred-title micro-format split: `TITLE; SYM1; SYM2` →
    (title, symbols[]) (T3 — reference omim_entry_parser.py:344-369,
    main.py:291-292)."""
    df = spark.createDataFrame(MIMTITLES_ROWS, ["prefix", "mim", "preferred"])
    parts = F.split("preferred", ";")
    return df.select(
        "mim",
        F.trim(F.element_at(parts, 1)).alias("title"),
        F.array_join(
            F.transform(F.slice(parts, 2, 1000), lambda x: F.trim(x)), "|"
        ).alias("symbols"),
        (F.size(parts) - 1).alias("n_symbols"),
    ).orderBy("mim")


# ---------------------------------------------------------------------------
# Association decision table (main.py:417-488, README.md:226-282)
# ---------------------------------------------------------------------------

_DECISION_ORACLE = f"""
    WITH assoc AS (
      SELECT * FROM {_values_sql(ASSOC_ROWS, ['p_mim', 'p_label', 'map_key', 'gene_mim'])}
    ),
    excl AS (SELECT * FROM {_values_sql(EXCLUSION_ROWS, ['x_mim'])}),
    prot AS (SELECT * FROM {_values_sql(PROTECTED_ROWS, ['pp_mim', 'pgene_mim', 'hgnc_id'])}),
    counted AS (
      SELECT a.*, COUNT(*) OVER (PARTITION BY p_mim) AS n_assocs,
             (x_mim IS NOT NULL) AS excluded,
             (pp_mim IS NOT NULL) AS protected,
             hgnc_id
      FROM assoc a
      LEFT JOIN excl ON a.p_mim = excl.x_mim
      LEFT JOIN prot ON a.p_mim = prot.pp_mim AND a.gene_mim = prot.pgene_mim
    ),
    decided AS (
      SELECT p_mim, gene_mim,
        CASE
          WHEN protected THEN 'causal_protected'
          WHEN p_mim = '' OR map_key = '1' THEN 'skip'
          WHEN map_key <> '3' OR excluded THEN 'noncausal'
          WHEN n_assocs > 1 OR REGEXP_MATCHES(LTRIM(p_label), '^[\\[{{?]') THEN 'skip'
          ELSE 'causal'
        END AS action,
        CASE
          WHEN protected THEN 'RO:0004013'
          WHEN p_mim = '' OR map_key = '1' THEN NULL
          WHEN map_key <> '3' OR excluded THEN
            CASE WHEN n_assocs = 1 AND NOT excluded THEN
              CASE map_key WHEN '2' THEN 'RO:0003303' WHEN '4' THEN 'RO:0003304' END
            ELSE 'RO:0003302' END
          WHEN n_assocs > 1 OR REGEXP_MATCHES(LTRIM(p_label), '^[\\[{{?]') THEN NULL
          ELSE 'RO:0004013'
        END AS predicate,
        PRINTF('Evidence: (%s)', map_key) AS evidence
      FROM counted
    ),
    leftover AS (
      SELECT pp_mim AS p_mim, pgene_mim AS gene_mim,
             'causal_protected' AS action, 'RO:0004013' AS predicate,
             'Evidence: (3) disease-defining (protected association)' AS evidence
      FROM prot
      ANTI JOIN assoc ON pp_mim = assoc.p_mim AND pgene_mim = assoc.gene_mim
    )
    SELECT * FROM decided UNION ALL SELECT * FROM leftover
    ORDER BY p_mim, gene_mim
"""


@register("q_omim_assoc_decision", oracle=_DECISION_ORACLE)
def q_omim_assoc_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's gene↔disease association decision table
    (main.py:429-488): protected short-circuits first, then the
    no-MIM/key-1 skip, then the non-causal branch (single-assoc
    key-predicate vs RO:0003302 for multi/excluded), then the
    causal branch gated on single-assoc + definitive label; leftover
    protected rows are appended via anti join (J6).

    Scale: window count on p_mim replaces the reference's
    regroup-by-phenotype dict; exclusions/protected are broadcast
    dims; the when-cascade preserves the reference's short-circuit
    order exactly."""
    assoc = spark.createDataFrame(
        ASSOC_ROWS, ["p_mim", "p_label", "map_key", "gene_mim"]
    )
    excl = spark.createDataFrame(EXCLUSION_ROWS, ["x_mim"])
    prot = spark.createDataFrame(PROTECTED_ROWS, ["pp_mim", "pgene_mim", "hgnc_id"])
    counted = (
        assoc.join(F.broadcast(excl), assoc.p_mim == excl.x_mim, "left")
        .join(
            F.broadcast(prot),
            (assoc.p_mim == prot.pp_mim) & (assoc.gene_mim == prot.pgene_mim),
            "left",
        )
        .withColumn("n_assocs", F.count("*").over(Window.partitionBy("p_mim")))
        .withColumn("excluded", F.col("x_mim").isNotNull())
        .withColumn("protected", F.col("pp_mim").isNotNull())
    )
    nondefinitive = F.ltrim(F.col("p_label")).rlike(r"^[\[{?]")
    action = (
        F.when(F.col("protected"), "causal_protected")
        .when((F.col("p_mim") == "") | (F.col("map_key") == "1"), "skip")
        .when((F.col("map_key") != "3") | F.col("excluded"), "noncausal")
        .when((F.col("n_assocs") > 1) | nondefinitive, "skip")
        .otherwise("causal")
    )
    key_pred = F.when(F.col("map_key") == "2", "RO:0003303").when(
        F.col("map_key") == "4", "RO:0003304"
    )
    predicate = (
        F.when(F.col("protected"), "RO:0004013")
        .when((F.col("p_mim") == "") | (F.col("map_key") == "1"), F.lit(None))
        .when(
            (F.col("map_key") != "3") | F.col("excluded"),
            F.when(
                (F.col("n_assocs") == 1) & ~F.col("excluded"), key_pred
            ).otherwise("RO:0003302"),
        )
        .when((F.col("n_assocs") > 1) | nondefinitive, F.lit(None))
        .otherwise("RO:0004013")
    )
    decided = counted.select(
        "p_mim",
        "gene_mim",
        action.alias("action"),
        predicate.alias("predicate"),
        F.format_string("Evidence: (%s)", F.col("map_key")).alias("evidence"),
    )
    leftover = (
        prot.join(
            assoc,
            (prot.pp_mim == assoc.p_mim) & (prot.pgene_mim == assoc.gene_mim),
            "left_anti",
        )
        .select(
            F.col("pp_mim").alias("p_mim"),
            F.col("pgene_mim").alias("gene_mim"),
            F.lit("causal_protected").alias("action"),
            F.lit("RO:0004013").alias("predicate"),
            F.lit("Evidence: (3) disease-defining (protected association)").alias(
                "evidence"
            ),
        )
    )
    return decided.unionByName(leftover).orderBy("p_mim", "gene_mim")


@register(
    "q_omim_phenotypic_series",
    oracle=f"""
    WITH raw AS (
      SELECT * FROM {_values_sql(PHENO_SERIES_ROWS, ['ps_id', 'title', 'member_mim'])}
    ),
    series AS (SELECT SUBSTRING(ps_id, 3) AS ps, title FROM raw WHERE title IS NOT NULL),
    members AS (SELECT SUBSTRING(ps_id, 3) AS ps, member_mim FROM raw WHERE member_mim IS NOT NULL)
    SELECT s.ps, s.title,
           COALESCE(STRING_AGG(m.member_mim, ',' ORDER BY m.member_mim), '') AS members,
           COUNT(m.member_mim) AS n_members
    FROM series s LEFT JOIN members m ON s.ps = m.ps
    GROUP BY s.ps, s.title
    ORDER BY s.ps
    """,
)
def q_omim_phenotypic_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ragged phenotypicSeries file → series dim + membership list
    (reference omim_txt_parser.py:349-364: 2-column rows define the
    series, 3-column rows are members; `PS` prefix stripped)."""
    raw = spark.createDataFrame(
        PHENO_SERIES_ROWS, ["ps_id", "title", "member_mim"]
    )
    series = raw.filter(F.col("title").isNotNull()).select(
        F.substring("ps_id", 3, 100).alias("ps"), "title"
    )
    members = raw.filter(F.col("member_mim").isNotNull()).select(
        F.substring("ps_id", 3, 100).alias("ps"), "member_mim"
    )
    return (
        series.join(members, "ps", "left")
        .groupBy("ps", "title")
        .agg(
            F.array_join(F.sort_array(F.collect_list("member_mim")), ",").alias(
                "members"
            ),
            F.count("member_mim").alias("n_members"),
        )
        .orderBy("ps")
    )


@register(
    "q_omim_sssom_normalize",
    oracle=f"""
    WITH raw AS (
      SELECT * FROM {_values_sql(SSSOM_ROWS, ['subject_id', 'predicate_id', 'object_id'])}
    ),
    oriented AS (
      SELECT CASE WHEN STARTS_WITH(subject_id, 'OMIM:') THEN subject_id ELSE object_id END AS omim,
             CASE WHEN STARTS_WITH(subject_id, 'OMIM:') THEN object_id ELSE subject_id END AS mondo
      FROM raw
      WHERE STARTS_WITH(subject_id, 'OMIM:') OR STARTS_WITH(object_id, 'OMIM:')
    )
    SELECT SPLIT_PART(omim, ':', 2) AS omim_mim,
           STRING_AGG(DISTINCT mondo, ',' ORDER BY mondo) AS mondo_ids
    FROM oriented
    WHERE STARTS_WITH(mondo, 'MONDO:')
    GROUP BY SPLIT_PART(omim, ':', 2)
    ORDER BY omim_mim
    """,
)
def q_omim_sssom_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSSOM mapping normalization (S5 — reference main.py:87-109):
    accept either subject/object orientation, keep only OMIM↔MONDO
    pairs, emit OMIM → sorted MONDO set."""
    raw = spark.createDataFrame(
        SSSOM_ROWS, ["subject_id", "predicate_id", "object_id"]
    )
    subj_is_omim = F.col("subject_id").startswith("OMIM:")
    oriented = raw.filter(
        subj_is_omim | F.col("object_id").startswith("OMIM:")
    ).select(
        F.when(subj_is_omim, F.col("subject_id")).otherwise(F.col("object_id")).alias(
            "omim"
        ),
        F.when(subj_is_omim, F.col("object_id")).otherwise(F.col("subject_id")).alias(
            "mondo"
        ),
    )
    return (
        oriented.filter(F.col("mondo").startswith("MONDO:"))
        .groupBy(F.substring_index("omim", ":", -1).alias("omim_mim"))
        .agg(
            F.array_join(F.sort_array(F.collect_set("mondo")), ",").alias("mondo_ids")
        )
        .orderBy("omim_mim")
    )


MALFORMED_ID_ROWS = [
    ("100100",), ("{100200}",), ("100300, found elsewhere",),
    ("garbage",), ("12345",), ("1234567",),
]


@register(
    "q_omim_parse_id",
    oracle=f"""
    SELECT raw,
           CASE
             WHEN REGEXP_MATCHES(raw, '^\\d{{6}}$') THEN raw
             WHEN REGEXP_MATCHES(raw, '^\\{{\\d{{6}}\\}}') THEN REGEXP_EXTRACT(raw, '^\\{{(\\d{{6}})\\}}', 1)
             WHEN REGEXP_MATCHES(raw, '^\\d{{6}},') THEN REGEXP_EXTRACT(raw, '^(\\d{{6}}),', 1)
             ELSE NULL
           END AS fixed
    FROM {_values_sql(MALFORMED_ID_ROWS, ['raw'])}
    ORDER BY raw
    """,
)
def q_omim_parse_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIM id validation/repair (T1 — reference
    omim_txt_parser.py:281-308): 6-digit pass-through, '{123456}' and
    '123456,' repair forms, NULL otherwise."""
    from omim_spark.parse import parse_omim_id

    df = spark.createDataFrame(MALFORMED_ID_ROWS, ["raw"])
    return df.selectExpr("raw", f"{parse_omim_id('raw')} AS fixed").orderBy("raw")


CACHE_ROWS = [
    ("100100", "111|222", "2024-01-01"),
    ("200200", "", "2024-01-01"),
    ("300300", "333", "2024-01-02"),
]
FRESH_ROWS = [
    ("100100", "111|222|444", "2024-02-01"),
    ("400400", "555", "2024-02-01"),
]


@register(
    "q_omim_cache_upsert_unpack",
    oracle=f"""
    WITH cached AS (SELECT * FROM {_values_sql(CACHE_ROWS, ['mim', 'pmid_refs', 'date_fetched'])}),
    fresh AS (SELECT * FROM {_values_sql(FRESH_ROWS, ['mim', 'pmid_refs', 'date_fetched'])}),
    merged AS (
      SELECT * FROM fresh
      UNION ALL
      SELECT * FROM cached ANTI JOIN fresh USING (mim)
    )
    SELECT mim, UNNEST(STRING_SPLIT(pmid_refs, '|')) AS pmid
    FROM merged
    WHERE pmid_refs <> ''
    ORDER BY mim, pmid
    """,
)
def q_omim_cache_upsert_unpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMIM-shaped incremental cache upsert + '|'-unpack (J8 + T11 —
    reference omim_txt_parser.py:516-585, main.py:507-509): fresh rows
    win, survivors keep their packed ids, then explode to links."""
    from omim_spark.cache import unpack_packed_ids, upsert_cache

    cached = spark.createDataFrame(CACHE_ROWS, ["mim", "pmid_refs", "date_fetched"])
    fresh = spark.createDataFrame(FRESH_ROWS, ["mim", "pmid_refs", "date_fetched"])
    merged = upsert_cache(cached, fresh)
    return (
        unpack_packed_ids(merged, "pmid_refs")
        .select("mim", F.col("id").alias("pmid"))
        .orderBy("mim", "pmid")
    )


HGNC_A_ROWS = [("100001", "SYMA"), ("100002", "SYMB"), ("100003", "SYMC")]
HGNC_B_ROWS = [("100002", "SYMB"), ("100003", "OTHER"), ("100004", "SYMD")]


@register(
    "q_omim_hgnc_conflict_drop",
    oracle=f"""
    WITH a AS (SELECT * FROM {_values_sql(HGNC_A_ROWS, ['mim', 'sym'])}),
    b AS (SELECT * FROM {_values_sql(HGNC_B_ROWS, ['mim', 'sym'])})
    SELECT COALESCE(a.mim, b.mim) AS mim,
           COALESCE(a.sym, b.sym) AS hgnc_symbol
    FROM a FULL OUTER JOIN b ON a.mim = b.mim
    WHERE a.sym IS NULL OR b.sym IS NULL OR a.sym = b.sym
    ORDER BY mim
    """,
)
def q_omim_hgnc_conflict_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source HGNC symbol reconciliation, OMIM-shaped (J3 —
    reference omim_txt_parser.py:426-438): agreeing or one-sided keys
    survive, conflicting keys are DROPPED (100003 here)."""
    a = spark.createDataFrame(HGNC_A_ROWS, ["mim_a", "sym_a"])
    b = spark.createDataFrame(HGNC_B_ROWS, ["mim_b", "sym_b"])
    joined = a.join(b, a.mim_a == b.mim_b, "full_outer")
    return (
        joined.filter(
            F.col("sym_a").isNull()
            | F.col("sym_b").isNull()
            | (F.col("sym_a") == F.col("sym_b"))
        )
        .select(
            F.coalesce("mim_a", "mim_b").alias("mim"),
            F.coalesce("sym_a", "sym_b").alias("hgnc_symbol"),
        )
        .orderBy("mim")
    )


BNODE_ROWS = [
    ("100100", "RO:0004003", "118494", "Evidence: (3) molecular basis known"),
    ("200100", "RO:0003302", "118500", "Evidence: (2) linkage"),
]


@register(
    "q_omim_restriction_emission",
    oracle=f"""
    WITH assoc AS (
      SELECT * FROM {_values_sql(BNODE_ROWS, ['p_mim', 'pred', 'gene_mim', 'evidence'])}
    ),
    base AS (
      SELECT 'OMIM:' || p_mim AS on_cls, pred,
             'OMIM:' || gene_mim AS svf, evidence,
             MD5('restriction|OMIM:' || p_mim || '|' || pred || '|OMIM:' || gene_mim) AS b
      FROM assoc
    )
    SELECT subject, predicate, object FROM (
      SELECT b AS subject, 'rdf:type' AS predicate, 'owl:Restriction' AS object FROM base
      UNION ALL
      SELECT b, 'owl:onProperty', pred FROM base
      UNION ALL
      SELECT b, 'owl:someValuesFrom', svf FROM base
      UNION ALL
      SELECT on_cls, 'rdfs:subClassOf', b FROM base
      UNION ALL
      SELECT MD5('axiom|' || on_cls || '|rdfs:subClassOf|' || b), 'biolink:has_evidence', evidence FROM base
    )
    ORDER BY subject, predicate, object
    """,
)
def q_omim_restriction_emission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL restriction + evidence-axiom emission with deterministic md5
    bnodes (G3/G4/T15 — reference main.py:149-174,178-186): the oracle
    recomputes the same bnode ids independently, proving the
    determinism contract the diffable-TTL pipeline rests on."""
    from omim_spark.triples import emit_restriction_with_evidence

    assoc = spark.createDataFrame(BNODE_ROWS, ["p_mim", "pred", "gene_mim", "evidence"])
    triples = emit_restriction_with_evidence(
        assoc,
        "pred",
        "concat('OMIM:', gene_mim)",
        "concat('OMIM:', p_mim)",
        "evidence",
    )
    keep = triples.filter(
        F.col("predicate").isin(
            "rdf:type",
            "owl:onProperty",
            "owl:someValuesFrom",
            "rdfs:subClassOf",
            "biolink:has_evidence",
        )
        & (
            (F.col("predicate") != "rdf:type") | (F.col("object") == "owl:Restriction")
        )
    )
    return keep.select("subject", "predicate", "object").orderBy(
        "subject", "predicate", "object"
    )
