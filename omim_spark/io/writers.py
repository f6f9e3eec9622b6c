"""Sinks (SURVEY §2.1 S9-S13): deterministic Turtle serializer, ROBOT
two-row-header templates, review TSV, analysis CSV.

Every ordered file — these four and the two release artifacts in
``artifacts.py`` — is written by one helper, :func:`_write_ordered`:
the executors render each row as one line of SQL text, sort their own
key range and write it as a text shard, and the driver only
byte-copies the shards in range order after the header.  No row passes
through Python.  Constants enter the SQL text through ``sqltext.q``.

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

import glob
import os
import shutil

from pyspark.sql import DataFrame

from omim_spark.curies import NAMESPACES
from omim_spark.session import parallelism
from omim_spark.sqltext import q
from omim_spark.triples import is_bnode

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
    # (restriction/axiom nodes).
    subj_is_bnode = is_bnode("subject")
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


def _write_ordered(path: str, sections: list, sep: str = "\n", tail: str = "") -> None:
    """Write ``path`` from ``(head, frame, order_by, line)`` sections:
    each ``head`` as-is, then the frame's rows in ``order_by`` order,
    each rendered by the SQL expression ``line``; ``tail`` closes the
    file.

    A frame is range-partitioned on ``order_by`` into
    ``session.parallelism`` ranges, every executor sorts its own range
    and writes it as a text shard, and the driver concatenates the
    shards in range order with a bulk byte copy.  Ranges are ordered
    and each is sorted, so the file is in order for any range count —
    no single-task global sort, no row-at-a-time driver loop.  Cells
    render as Spark ``CAST(… AS STRING)``, which for the string and
    int columns the sinks write gives the bytes Python's ``str`` does.

    A newline ``sep`` ends every row; any other separator (the ``,``
    of a JSON array) goes between rows, so the one after a section's
    last row is dropped.

    The file appears at ``path`` only complete: it is written under a
    temporary name beside ``path`` and renamed.  On any failure the
    temporary file and the shards are deleted and the error re-raised."""
    shard_dir, tmp = path + ".shards", path + ".tmp"
    try:
        with open(tmp, "wb") as f:
            for i, (head, df, order_by, line) in enumerate(sections):
                shards = os.path.join(shard_dir, str(i))
                ranges = df.repartitionByRange(parallelism(df.sparkSession), *order_by)
                rows = ranges.sortWithinPartitions(*order_by).selectExpr(line)
                rows.write.mode("overwrite").text(shards, lineSep=sep)
                f.write(head.encode())
                body = f.tell()
                for p in sorted(glob.glob(os.path.join(shards, "part-*"))):
                    with open(p, "rb") as src:
                        shutil.copyfileobj(src, f, length=1 << 20)
                if sep != "\n" and f.tell() > body:
                    f.seek(-len(sep), os.SEEK_END)
                    f.truncate()
            f.write(tail.encode())
        os.replace(tmp, path)
    finally:
        shutil.rmtree(shard_dir, ignore_errors=True)
        if os.path.exists(tmp):
            os.remove(tmp)


def write_ttl(triples: DataFrame, path: str) -> None:
    """Serialize to a single Turtle file: the prefix header, then one
    statement per triple in sort-key order."""
    body = ttl_lines(triples)
    _write_ordered(path, [(_ttl_header(), body, ["sort_key", "line"], "line")])


def _cells(cols: list[str]) -> list[str]:
    """Each column of ``cols`` as a string cell, null as ``''``."""
    return ["coalesce(CAST(`%s` AS STRING), '')" % c.replace("`", "``") for c in cols]


def tsv_line(cols: list[str]) -> str:
    """A TSV row of ``cols`` as SQL text: the cells joined by tabs."""
    return f"concat_ws({q(chr(9))}, {', '.join(_cells(cols))})"


def write_tsv(
    df: DataFrame, path: str, order_by: list[str], subheader: list[str] | None = None
) -> None:
    """Ordered single-file TSV (S10/S11): optional ROBOT directive
    second row (reference main.py:512-519,
    mondo_omim_genes_robot_tsv.py:11-41)."""
    head_rows = [df.columns] + ([subheader] if subheader is not None else [])
    head = "".join("\t".join(r) + "\n" for r in head_rows)
    _write_ordered(path, [(head, df, order_by, tsv_line(df.columns))])


# RFC-4180: a cell holding a comma, quote or line break is quoted, its
# quotes doubled.
_CSV_SPECIAL = ',"\n\r'


def write_csv(df: DataFrame, path: str, order_by: list[str]) -> None:
    """Analysis CSV sink (S13; reference analyses write pandas
    ``to_csv`` outputs, e.g. analyses/equivalency_cliques.py:141-150):
    ordered, single file, RFC-4180 quoting."""
    header = ",".join(
        '"' + c.replace('"', '""') + '"' if any(s in c for s in _CSV_SPECIAL) else c
        for c in df.columns
    )
    special, dq, dq2 = q(f"[{_CSV_SPECIAL}]"), q('"'), q('""')
    cells = [
        f"CASE WHEN {c} RLIKE {special}"
        f" THEN concat({dq}, replace({c}, {dq}, {dq2}), {dq}) ELSE {c} END"
        for c in _cells(df.columns)
    ]
    _write_ordered(
        path, [(header + "\n", df, order_by, f"concat_ws(',', {', '.join(cells)})")]
    )
