"""Sinks (SURVEY §2.1 S9-S13): deterministic Turtle serializer, ROBOT
two-row-header templates, review TSV.

The Turtle body is rendered by one ``selectExpr`` of two SQL-text
expressions (sort key and line), so planning it costs a handful of
driver calls; constants enter that text through ``sqltext.q``.

Determinism contract (SURVEY §7.4): the reference's outputs are
diffed across weekly releases, so a sink must impose a total order.
Triples sort by (subject kind, subject, predicate, object).  A TSV
sorts by its ``order_by`` columns only, and rows that tie on them come
out in plan-dependent order: the CLI passes the reports one column,
so the report TSVs are not yet totally ordered.  Blank-node ids are
already deterministic md5 (triples.py), so two runs — or two
differently partitioned cluster executions — produce byte-identical
TTL.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from omim_spark.curies import NAMESPACES
from omim_spark.sqltext import q

_XSD = "http://www.w3.org/2001/XMLSchema#"


def _escape_literal(col: str) -> str:
    """Turtle string escaping of ``col``, as SQL text."""
    for raw, escaped in (
        ("\\", "\\\\"),
        ('"', '\\"'),
        ("\n", "\\n"),
        ("\r", "\\r"),
        ("\t", "\\t"),
    ):
        col = f"replace({col}, {q(raw)}, {q(escaped)})"
    return col


def ttl_lines(triples: DataFrame) -> DataFrame:
    """Triples → one formatted DataFrame of (sort_key, line) rows:
    one `s p o .` statement per input row (the prefix header is
    ``_ttl_header``).  Statement-per-line (N-Triples-style body with
    CURIEs) keeps the serializer a pure projection — no driver loops,
    no per-subject state — while remaining valid Turtle.

    Every row is written, duplicates included: the caller passes a set
    (build_graph's triples are ``.distinct()``-ed before their lineage
    cut)."""
    # Subjects that are bnode objects elsewhere are bnode subjects here
    # (restriction/axiom nodes): detect by md5 shape (32 hex chars).
    subj_is_bnode = f"subject RLIKE {q('^[0-9a-f]{32}$')}"
    subj = f"CASE WHEN {subj_is_bnode} THEN concat('_:', subject) ELSE subject END"
    # A literal is quoted and escaped, with ^^datatype when it has one;
    # a bnode is _:id; anything else is a CURIE as-is.
    quote = q('"')
    literal = (
        f"concat({quote}, {_escape_literal('object')}, {quote},"
        " coalesce(concat('^^', datatype), ''))"
    )
    obj = (
        "CASE obj_kind WHEN 'bnode' THEN concat('_:', object)"
        f" WHEN 'literal' THEN {literal} ELSE object END"
    )
    # rdf:type first inside a subject block (Turtle idiom), then
    # alphabetical.
    pred_order = "CASE WHEN predicate = 'rdf:type' THEN '0' ELSE '1' END"
    subj_order = f"CASE WHEN {subj_is_bnode} THEN '1' ELSE '0' END"
    sort_key = (
        f"concat_ws({q(chr(0))}, {subj_order}, subject, {pred_order},"
        " predicate, object)"
    )
    return triples.selectExpr(
        f"{sort_key} AS sort_key",
        f"concat_ws(' ', {subj}, predicate, {obj}, '.') AS line",
    )


def _ttl_header() -> str:
    header = [f"@prefix {p}: <{uri}> ." for p, uri in sorted(NAMESPACES.items())]
    header.append(f"@prefix xsd: <{_XSD}> .")
    header.append("@prefix obo: <http://purl.obolibrary.org/obo/> .")
    header.append(
        "@prefix NCBITaxon: <http://purl.obolibrary.org/obo/NCBITaxon_> ."
    )
    return "\n".join(header) + "\n\n"


# Range partitions of the TTL body, one text shard each.
TTL_SHARDS = 16


def write_ttl(triples: DataFrame, path: str) -> None:
    """Serialize to a single Turtle file.

    The body is range-partitioned on the sort key, every executor sorts
    its own range and writes it as a text shard, and the driver
    concatenates the header and the shards in range order with a bulk
    byte copy.  Ranges are ordered and each is sorted, so the file is
    in total order for any shard count — no single-task global sort,
    no row-at-a-time driver loop."""
    body = (
        ttl_lines(triples)
        .repartitionByRange(TTL_SHARDS, "sort_key")
        .sortWithinPartitions("sort_key", "line")
        .select("line")
    )
    shard_dir = path + ".shards"
    body.write.mode("overwrite").text(shard_dir)
    parts = sorted(
        f
        for f in os.listdir(shard_dir)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    with open(path, "wb") as f:
        f.write(_ttl_header().encode())
        for p in parts:
            with open(os.path.join(shard_dir, p), "rb") as src:
                shutil.copyfileobj(src, f, length=1 << 20)
    shutil.rmtree(shard_dir)


def write_tsv(
    df: DataFrame, path: str, order_by: list[str], subheader: list[str] | None = None
) -> None:
    """Ordered single-file TSV (S10/S11): optional ROBOT directive
    second row (reference main.py:512-519,
    mondo_omim_genes_robot_tsv.py:11-41).  Streams ordered partitions
    through the driver (``toLocalIterator``) instead of collecting —
    bounded driver memory for any input size."""
    cols = df.columns
    with open(path, "w") as f:
        f.write("\t".join(cols) + "\n")
        if subheader is not None:
            f.write("\t".join(subheader) + "\n")
        for r in df.orderBy(*order_by).toLocalIterator():
            f.write(
                "\t".join("" if v is None else str(v) for v in r) + "\n"
            )


def write_csv(df: DataFrame, path: str, order_by: list[str]) -> None:
    """Analysis CSV sink (S13; reference analyses write pandas
    ``to_csv`` outputs, e.g. analyses/equivalency_cliques.py:141-150).
    RFC-4180 quoting for cells containing comma/quote/newline; ordered,
    single file, streamed through the driver in bounded memory."""

    def cell(v) -> str:
        s = "" if v is None else str(v)
        if any(c in s for c in (",", '"', "\n", "\r")):
            s = '"' + s.replace('"', '""') + '"'
        return s

    cols = df.columns
    with open(path, "w") as f:
        f.write(",".join(cell(c) for c in cols) + "\n")
        for r in df.orderBy(*order_by).toLocalIterator():
            f.write(",".join(cell(v) for v in r) + "\n")
