"""Source readers (SURVEY §2.1 S1-S8).

The reference reads OMIM .txt files line-by-line, strips '#' comment
blocks, and treats the last leading comment line as the header
(omim2obo/parsers/omim_txt_parser.py:87-121,200-207).  Here the comment
convention is a scan option and the header comes from the explicit
schema — schema is the contract, the reader never infers.

All readers return plain DataFrames; at scale each maps to a
distributed scan (CSV splits are line-splittable, so a 100 TB text
drop parallelizes by HDFS/S3 block without driver involvement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from omim_spark import schemas


def read_omim_tsv(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Comment-aware tab-delimited scan (S2/S3): '#' lines (header
    block at top, note block at bottom) are dropped by the scan
    itself — the manual predicate the reference applies in every
    parser (omim_txt_parser.py:206,267,332) becomes a pushed option."""
    return (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .csv(path)
    )


def read_mim_titles(spark: SparkSession, path: str) -> DataFrame:
    return read_omim_tsv(spark, path, schemas.MIM_TITLES)


def read_morbidmap(spark: SparkSession, path: str) -> DataFrame:
    return read_omim_tsv(spark, path, schemas.MORBIDMAP)


def read_mim2gene(spark: SparkSession, path: str) -> DataFrame:
    return read_omim_tsv(spark, path, schemas.MIM2GENE)


def read_phenotypic_series(spark: SparkSession, path: str) -> DataFrame:
    """Ragged 2/3-column file (omim_txt_parser.py:349-364): read with
    the widest schema; 2-column rows land with col3 = null."""
    return read_omim_tsv(spark, path, schemas.PHENOTYPIC_SERIES)


def read_genemap2(spark: SparkSession, path: str) -> DataFrame:
    """genemap2.txt ships its header commented out ('# Chromosome ...',
    omim_txt_parser.py:380-389) — irrelevant here because the schema
    is explicit and all '#' lines are comment-skipped."""
    return read_omim_tsv(spark, path, schemas.GENEMAP2)


def read_hgnc(spark: SparkSession, path: str) -> DataFrame:
    """HGNC complete set: ~54 columns, only (hgnc_id, symbol) used —
    read with header and prune immediately so the scan's ReadSchema
    carries two columns (omim_txt_parser.py:610-655)."""
    df = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .csv(path)
    )
    return df.select(
        F.col("hgnc_id").cast("string").alias("hgnc_id"),
        F.col("symbol").cast("string").alias("symbol"),
    )


def read_sssom(spark: SparkSession, path: str) -> DataFrame:
    """SSSOM TSV with a leading '#' metadata block and a real header
    row (main.py:87-109).  The comment option eats the metadata; the
    header row is recognized by the scan."""
    return (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .option("header", "true")
        .csv(path)
    )


def read_curator_tsv(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Curator override tables (protected/exclusions/known-caps) and
    the API-cache TSVs with typed bool/date-ish columns
    (omim_txt_parser.py:510-513): plain TSVs with one header row."""
    return (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .schema(schema)
        .csv(path)
    )


def read_entry_json(spark: SparkSession, path: str) -> DataFrame:
    """OMIM REST API entry JSON (S7 landing zone → scan): envelope
    {"omim": {"entryList": [{"entry": {...}}]}} exploded to one row
    per entry (omim_client.py:75-113; FIXTURES.md §10)."""
    raw = spark.read.option("multiLine", "true").json(path)
    return raw.select(
        F.explode(F.col("omim.entryList")).alias("wrapper")
    ).select(F.col("wrapper.entry").alias("entry"))
