"""Workloads and metric names of the benchmark, in one place.

``BENCHMARK.json`` at the repository root lists the same names;
``test_perfbench.py`` checks that the two agree and that the caps hold.
"""

from __future__ import annotations

import re

# Workload name → fixture replicas.  200 replicas are 73,610 triples,
# below the TTL writer's 100k-row switch (driver toLocalIterator path);
# 600 replicas are 220,830 triples, above it (sharded path).
WORKLOADS = {"build_small": 200, "build_large": 600}

END_TO_END = ("cold_build_s", "setup_s")

# The eight files one CLI build writes.
ARTIFACTS = (
    "omim.ttl",
    "omim.json",
    "omim.sssom.tsv",
    "review.tsv",
    "mondo-omim-susceptibility-subset.robot.tsv",
    "disease_gene_relationships.tsv",
    "mondo_omim_genes.tsv",
    "pmid_mentions.tsv",
)

ROOT_SPAN = "cli.main"

# Span around each call the CLI makes → (the name the CLI module calls
# it by, the artifacts it writes).  A function with several spans is
# told apart by the file name of its path argument.
CLI_SPANS = {
    "pipeline.build_graph": ("build_graph", ()),
    "io.writers.write_ttl": ("write_ttl", ("omim.ttl",)),
    "io.artifacts.write_obograph_json": ("write_obograph_json", ("omim.json",)),
    "io.artifacts.write_sssom_tsv": ("write_sssom_tsv", ("omim.sssom.tsv",)),
    "io.writers.write_tsv.review": ("write_tsv", ("review.tsv",)),
    "io.writers.write_tsv.susceptibility": (
        "write_tsv",
        ("mondo-omim-susceptibility-subset.robot.tsv",),
    ),
    "queries.reports": (
        "write_tsv",
        (
            "disease_gene_relationships.tsv",
            "mondo_omim_genes.tsv",
            "pmid_mentions.tsv",
        ),
    ),
}

# Standalone probes: one layer's public functions on the same inputs,
# ending in a noop sink.
PROBES = (
    "parse",
    "entries",
    "associations",
    "triples.entry_classes",
    "queries.rewrites",
)

SPAN_COUNTERS = ("wall_s", "exec_s", "idle_core_frac", "tasks", "shuffle_mb")

# GC time only where it is never 0: the writers and probes at these
# sizes usually finish without a collection.
GC_SPANS = (ROOT_SPAN, "pipeline.build_graph")

HOST = (
    "host.cpu_probe_s",
    "host.shuffle_probe_s",
    "host.steal_frac",
    "operators.checkpoint.retained_mb",
    "operators.checkpoint.retained_rdds",
)

UNITS = {
    "wall_s": "s",
    "exec_s": "s",
    "self_s": "s",
    "gc_s": "s",
    "idle_core_frac": "fraction",
    "tasks": "count",
    "shuffle_mb": "MB",
    "out_mb": "MB",
    "rows_out": "rows",
    "cpu_probe_s": "s",
    "shuffle_probe_s": "s",
    "retained_mb": "MB",
    "retained_rdds": "count",
    "cold_build_s": "s",
    "cpu_s": "s",
    "steal_frac": "fraction",
    "setup_s": "s",
}

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128


def per_layer_names() -> list[str]:
    names = [f"{ROOT_SPAN}.{c}" for c in SPAN_COUNTERS + ("self_s", "cpu_s")]
    for span, (_, files) in CLI_SPANS.items():
        names += [f"{span}.{c}" for c in SPAN_COUNTERS]
        if files:
            names.append(f"{span}.out_mb")
    for probe in PROBES:
        names += [f"{probe}.{c}" for c in SPAN_COUNTERS + ("rows_out",)]
    names += [f"{span}.gc_s" for span in GC_SPANS]
    return names + list(HOST)


def unit(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[-1]]
