"""One CLI invocation in a fresh process: session set-up, one cold
``omim_spark.cli.main --use-cache`` build, host probes and, when
traced, the per-layer spans and the standalone layer probes.

Run by ``run.py`` as ``python3 perfbench/worker.py <config.json>``; it
writes its measurements to the config's ``result`` path and judges
nothing itself.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

import catalog
from spans import Tracer, census

CPU_PROBE_ROWS = 50_000_000
SHUFFLE_PROBE_ROWS = 2_000_000

# Two artifacts carry input line order by design, so the seed moves
# them: write_tsv orders mondo_omim_genes.tsv by its first column only,
# and review.tsv numbers the self-referential cases (class 2) in
# morbidmap line order, as the reference's counter does.  Their digest
# is taken over the header plus the sorted rows, without those numbers.
ORDER_FREE = {"mondo_omim_genes.tsv", "review.tsv"}
CASE_NUMBER = re.compile(r"^(2\t[^\t]*\t)\d+: ")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def host_probes(spark) -> dict[str, float]:
    """Fixed jobs whose cost does not depend on the program: a
    single-stage codegen aggregation (core contention, frequency drops)
    and a hash exchange (memory bandwidth, local disk)."""

    def timed(fn) -> float:
        t0 = time.monotonic()
        fn()
        return time.monotonic() - t0

    # the first round also compiles the probe jobs; the second is kept
    for _ in range(2):
        probes = {
            "cpu_probe_s": timed(
                lambda: spark.range(CPU_PROBE_ROWS)
                .selectExpr("sum(id * 3 + 1)")
                .collect()
            ),
            "shuffle_probe_s": timed(
                lambda: spark.range(SHUFFLE_PROBE_ROWS)
                .repartition(16, "id")
                .selectExpr("sum(id * 3 + 1)")
                .collect()
            ),
        }
    return probes


def host_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat: user nice system idle
    iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this invocation's
    session (this driver, its JVM, the JVM's Python workers), including
    the children they have reaped."""
    sid = os.getsid(0)
    ticks = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # after the ")" closing the command name: state, ppid,
                # pgrp, session, ... utime stime cutime cstime at 11:15
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def retained_storage(sc) -> dict[str, float]:
    """RDD blocks still held after the build: lineage-cut checkpoints
    live until the ContextCleaner collects them."""
    infos = list(sc._jsc.sc().getRDDStorageInfo())
    return {
        "retained_mb": sum(i.memSize() + i.diskSize() for i in infos) / 1e6,
        "retained_rdds": len(infos),
    }


def artifact_digest(path: Path) -> str:
    h = hashlib.sha256()
    if path.name in ORDER_FREE:
        head, *rows = path.read_text().splitlines()
        rows = sorted(CASE_NUMBER.sub(r"\1", r) for r in rows)
        h.update("\n".join([head, *rows]).encode())
        return h.hexdigest()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def install_spans(cli, tracer: Tracer, returned: dict) -> None:
    """Replace each layer function the CLI module calls with one that
    runs it inside its span and keeps its return value in ``returned``
    (the rewrite probe reuses build_graph's graph)."""
    spans_of: dict[str, list[tuple[str, tuple]]] = {}
    for span, (attr, files) in catalog.CLI_SPANS.items():
        spans_of.setdefault(attr, []).append((span, files))

    def traced(attr: str, fn, spans: list[tuple[str, tuple]]):
        def call(*args, **kwargs):
            name = spans[0][0]
            if len(spans) > 1:  # writers take (frame, path, ...)
                target = Path(args[1]).name
                name = next(s for s, files in spans if target in files)
            with tracer.span(name):
                returned[attr] = fn(*args, **kwargs)
            return returned[attr]

        return call

    for attr, spans in spans_of.items():
        setattr(cli, attr, traced(attr, getattr(cli, attr), spans))


def run_probes(spark, tracer: Tracer, data_dir: Path, built) -> dict[str, dict]:
    """Each layer's public functions on the build's inputs, ending in a
    noop sink.  Inputs are prepared, and rows counted, outside the span."""
    from pyspark.sql import functions as F

    from omim_spark import parse, schemas, triples as T
    from omim_spark.associations import derive_associations
    from omim_spark.entries import transform_entries
    from omim_spark.io import readers
    from omim_spark.operators.checkpoint import cut_lineage
    from omim_spark.pipeline import load_known_capitalizations, load_omim_to_mondo
    from omim_spark.queries import add_flipped_mondo_mappings, add_hgnc_links

    def p(name: str) -> str:
        return str(data_dir / name)

    def parsed_frames():
        mim2gene = readers.read_mim2gene(spark, p("mim2gene.txt"))
        return [
            parse.parse_mim_titles(readers.read_mim_titles(spark, p("mimTitles.txt"))),
            parse.parse_morbid_map(readers.read_morbidmap(spark, p("morbidmap.txt"))),
            *parse.parse_mim2gene(mim2gene),
            *parse.parse_phenotypic_series(
                readers.read_phenotypic_series(spark, p("phenotypicSeries.txt"))
            ),
            parse.reconcile_hgnc_symbol_maps(
                mim2gene, readers.read_genemap2(spark, p("genemap2.txt"))
            ),
            parse.hgnc_symbol_id_map(
                readers.read_hgnc(spark, p("hgnc_complete_set.txt"))
            ),
        ]

    def mim_titles():
        return cut_lineage(
            parse.parse_mim_titles(readers.read_mim_titles(spark, p("mimTitles.txt"))),
            eager=True,
        )

    caps = load_known_capitalizations(spark, p("known_capitalizations.tsv"))

    def entry_frames():
        return [transform_entries(mim_titles(), caps)]

    def association_frames():
        # the curator-table projections of pipeline.build_graph
        assocs = cut_lineage(
            parse.parse_morbid_map(readers.read_morbidmap(spark, p("morbidmap.txt"))),
            eager=True,
        )
        protected = readers.read_curator_tsv(
            spark, p("protected-disease-gene.tsv"), schemas.PROTECTED_D2G
        ).select(
            F.substring_index("phenotype_mim", ":", -1).alias("p_mim"),
            F.substring_index("gene_mim", ":", -1).alias("gene_mim"),
            F.substring_index("hgnc_id", ":", -1).alias("hgnc_id"),
            F.col("orcid"),
            F.col("mondo_id"),
        )
        exclusions = readers.read_curator_tsv(
            spark, p("exclusions-disease-gene.tsv"), schemas.EXCLUSIONS_D2G
        ).select(F.substring_index("omim_id", ":", -1).alias("p_mim"), F.col("orcid"))
        return [derive_associations(assocs, exclusions, protected)]

    def entry_class_frames():
        # build_graph spreads the entries checkpoint before emission
        entries = cut_lineage(transform_entries(mim_titles(), caps), eager=True)
        parts = spark.sparkContext.defaultParallelism
        return [T.emit_entry_classes(entries.repartition(parts, "mim_number"))]

    def rewrite_frames():
        # build_graph's merged-graph base: the graph plus SSSOM mappings
        sssom = load_omim_to_mondo(spark, p("mondo_exactmatch_omim.sssom.tsv")).select(
            F.concat(F.lit("OMIM:"), F.col("omim_mim")).alias("subject"),
            F.lit("skos:exactMatch").alias("predicate"),
            F.col("mondo_id").alias("object"),
            F.lit("uri").alias("obj_kind"),
            F.lit(None).cast("string").alias("datatype"),
        )
        base = cut_lineage(T.union_triples(built.triples, sssom).distinct(), eager=True)
        return [T.union_triples(add_flipped_mondo_mappings(base), add_hgnc_links(base))]

    make = {
        "parse": parsed_frames,
        "entries": entry_frames,
        "associations": association_frames,
        "triples.entry_classes": entry_class_frames,
        "queries.rewrites": rewrite_frames,
    }
    out: dict[str, dict] = {}
    for name in catalog.PROBES:
        try:
            frames = make[name]()
            with tracer.span(name):
                for df in frames:
                    noop(df)
            out[name] = {"rows_out": sum(df.count() for df in frames)}
        except Exception:  # a failed probe is a failed operation
            out[name] = {"error": traceback.format_exc(limit=3)}
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(config_path: str) -> None:
    cfg = json.loads(Path(config_path).read_text())
    run_dir = Path(cfg["run_dir"])
    data_dir, out_dir = run_dir / "data", run_dir / "out"
    sys.path.insert(0, cfg["root"])

    from omim_spark import cli
    from omim_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
        ),
    }
    if cfg["trace"]:
        (run_dir / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("omim-spark-build", extra_conf=conf)
    spark.range(1).count()
    result: dict = {"setup_s": time.monotonic() - cfg["t_spawn"]}
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    result["host_before"] = host_probes(spark)

    tracer = Tracer(lambda group: sc.setLocalProperty("spark.jobGroup.id", group))
    returned: dict = {}
    if cfg["trace"]:
        install_spans(cli, tracer, returned)
    root_span = tracer.span(catalog.ROOT_SPAN) if cfg["trace"] else nullcontext()
    argv = ["--data-dir", str(data_dir), "--out-dir", str(out_dir), "--use-cache"]
    cpu0, ticks0, t0 = session_cpu_s(), host_ticks(), time.monotonic()
    try:
        with root_span:
            cli.main(argv)
    except Exception:
        result["build_error"] = traceback.format_exc(limit=5)
    result["cold_build_s"] = time.monotonic() - t0
    result["build_cpu_s"] = session_cpu_s() - cpu0
    dt = [b - a for a, b in zip(ticks0, host_ticks())]
    result["host_steal_frac"] = dt[7] / max(1, sum(dt))

    written = {f: out_dir / f for f in catalog.ARTIFACTS if (out_dir / f).exists()}
    result["digests"] = {f: artifact_digest(path) for f, path in written.items()}
    result["out_mb"] = {
        span: sum(written[f].stat().st_size for f in files if f in written) / 1e6
        for span, (_, files) in catalog.CLI_SPANS.items()
        if files
    }
    result["retained"] = retained_storage(sc)
    result["host_after"] = host_probes(spark)

    if cfg["trace"] and "build_graph" in returned:
        result["probes"] = run_probes(spark, tracer, data_dir, returned["build_graph"])
    stop_spark(spark)

    if cfg["trace"]:
        # the log itself, not the checksum files of the local filesystem
        (log,) = (p for p in (run_dir / "eventlog").iterdir() if p.suffix != ".crc")
        with open(log) as f:
            counters = census(f)
        result["spans"] = {
            name: {
                "wall_s": tracer.wall(name),
                "self_s": tracer.self_s(name),
                "children": tracer.children(name),
                **counters.get(name, {}),
            }
            for name in tracer.intervals
        }
    Path(cfg["result"]).write_text(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1])
