"""Sink tests (S9-S13): streamed single-file writers on multi-partition
inputs — the scale contract is that the driver never materializes the
frame (``toLocalIterator`` walks ordered partitions one at a time)."""

from __future__ import annotations

from pyspark.sql import functions as F

from omim_spark.io.writers import write_csv, write_tsv


def test_write_tsv_multipartition_streams_ordered(spark, tmp_path):
    # 5k rows across 8 partitions, written in key order — the ordered
    # single-file path must agree with a driver-side sort of the same
    # rows regardless of input partitioning.
    df = (
        spark.range(5000)
        .repartition(8)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), (F.col("id") * 7) % 100).alias("v"),
            F.when(F.col("id") % 97 == 0, None)
            .otherwise(F.col("id") % 13)
            .alias("n"),
        )
    )
    assert df.rdd.getNumPartitions() == 8
    out = tmp_path / "big.tsv"
    write_tsv(df, str(out), order_by=["k"])
    lines = out.read_text().splitlines()
    assert lines[0] == "k\tv\tn"
    assert len(lines) == 5001
    expected = sorted(
        (r.k, r.v, r.n) for r in df.collect()
    )
    got = [tuple(line.split("\t")) for line in lines[1:]]
    assert got == [
        (str(k), v, "" if n is None else str(n)) for k, v, n in expected
    ]


def test_write_tsv_subheader_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("OMIM:1", "label b"), ("OMIM:0", "label a")], "id string, lbl string"
    )
    out = tmp_path / "robot.tsv"
    write_tsv(df, str(out), order_by=["id"], subheader=["ID", "A rdfs:label"])
    lines = out.read_text().splitlines()
    assert lines[:2] == ["id\tlbl", "ID\tA rdfs:label"]
    assert lines[2:] == ["OMIM:0\tlabel a", "OMIM:1\tlabel b"]


def test_write_csv_rfc4180_quoting(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, 'say "hi"', "a,b"),
            (2, None, "line1\nline2"),
            (3, "plain", "ok"),
        ],
        "id int, quoted string, tricky string",
    ).repartition(3)
    out = tmp_path / "analysis.csv"
    write_csv(df, str(out), order_by=["id"])
    text = out.read_text()
    assert text.splitlines()[0] == "id,quoted,tricky"
    assert '"say ""hi""","a,b"' in text
    # embedded newline stays inside one quoted cell
    assert '"line1\nline2"' in text
    assert text.splitlines()[-1] == "3,plain,ok"


def test_ttl_lines_render_terms_and_order(spark):
    # Literal escaping, ^^datatype, bnode terms, and concat_ws's null
    # skipping; the sort key puts named subjects before bnodes and
    # rdf:type first within a subject.
    from omim_spark.io.writers import ttl_lines

    bnode = "0123456789abcdef0123456789abcdef"
    df = spark.createDataFrame(
        [
            ("OMIM:1", "rdfs:label", 'a "q" \\ b\nc\rd\te', "literal", None),
            ("OMIM:1", "owl:deprecated", "true", "literal", "xsd:boolean"),
            ("OMIM:1", "rdfs:subClassOf", bnode, "bnode", None),
            (bnode, "owl:onProperty", "RO:1", "uri", None),
            ("OMIM:1", "rdf:type", "owl:Class", "uri", None),
            ("OMIM:2", "rdfs:label", None, "literal", "xsd:string"),
        ],
        "subject string, predicate string, object string, "
        "obj_kind string, datatype string",
    )
    lines = [r.line for r in ttl_lines(df).orderBy("sort_key").collect()]
    assert lines == [
        "OMIM:1 rdf:type owl:Class .",
        'OMIM:1 owl:deprecated "true"^^xsd:boolean .',
        'OMIM:1 rdfs:label "a \\"q\\" \\\\ b\\nc\\rd\\te" .',
        f"OMIM:1 rdfs:subClassOf _:{bnode} .",
        "OMIM:2 rdfs:label .",
        f"_:{bnode} owl:onProperty RO:1 .",
    ]


def test_sinks_agree_on_blank_node_subjects(spark):
    # The TTL body writes a bnode subject as _:id; the obographs export
    # leaves it out of the named classes.  Both must classify a CURIE,
    # an md5-shaped id and a bare word the same way.
    from omim_spark.io.artifacts import obograph_nodes
    from omim_spark.io.writers import ttl_lines

    expected_bnode = {
        "MONDO:0000001": False,
        "0123456789abcdef0123456789abcdef": True,
        "orphan": False,
    }
    for subject, is_bnode in expected_bnode.items():
        df = spark.createDataFrame(
            [(subject, "rdf:type", "owl:Class", "uri", None)],
            "subject string, predicate string, object string, "
            "obj_kind string, datatype string",
        )
        (line,) = [r.line for r in ttl_lines(df).collect()]
        assert line.startswith("_:") == is_bnode, (subject, line)
        assert obograph_nodes(df).count() == (0 if is_bnode else 1), subject
