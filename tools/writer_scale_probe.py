"""Scale-probe the TTL writer tier ALONE, one decade past the
pipeline probe's ceiling (r9 VERDICT #7).

Why a separate probe exists: the end-to-end pipeline probe
(tools/pipeline_scale_probe.py) cannot go past 20,000 fixture replicas
— its injective per-replica MIM remap saturates the 6-digit MIM
identifier space (~45 distinct tokens × 20,000 replicas = 900,000 =
every assignable MIM).  That ceiling is the DATA MODEL's, not the
engine's: OMIM identifiers are six digits, so no real corpus keyed by
them can exceed ~900k entries, and 20k replicas (7.32M triples) is
already ~32× the real OMIM's ~28k entries.  Widening the ids would
break parse.parse_omim_id's 6-digit validation — i.e. it would no
longer measure the real pipeline.

The component that HAS a next decade is the writer: write_ttl
(io/writers.py) serializes any triples DataFrame, regardless of what
the subjects look like.  This probe synthesizes OMIM-shaped triples
(CURIE subjects over the full MIM keyspace, the real predicate mix,
uri/literal objects incl. md5 bnode lines) at N rows and times
write_ttl end-to-end (range shuffle + per-executor sorted shards +
driver byte concat).

Usage: python tools/writer_scale_probe.py [N1,N2,...]
       (default 7300000,73000000 — the pipeline probe's top step and
        one decade beyond)
"""

from __future__ import annotations

import json
import math
import shutil
import sys
import time
from pathlib import Path

_REPO_ROOT = Path(__file__).resolve().parent.parent
_SCRATCH = _REPO_ROOT / ".scratch" / "writer_probe"


def synth_triples(spark, n: int):
    """OMIM-shaped synthetic triples: unique rows (ttl_lines runs
    distinct()), subjects spanning the whole 6-digit keyspace, a
    realistic uri/literal/bnode mix, object text ~line-sized."""
    from pyspark.sql import functions as F

    base = spark.range(n)
    mim = (F.col("id") % 900_000 + 100_000).cast("string")
    kind4 = (F.col("id") % 4).cast("int")
    pred = F.element_at(
        F.array(
            F.lit("rdfs:label"),
            F.lit("oboInOwl:hasExactSynonym"),
            F.lit("skos:exactMatch"),
            F.lit("rdfs:subClassOf"),
        ),
        kind4 + 1,
    )
    is_lit = kind4 <= 1
    # one bnode-subject line in 8, md5-shaped like real axiom ids
    subj = F.when(
        F.col("id") % 8 == 0, F.md5(F.col("id").cast("string"))
    ).otherwise(F.concat(F.lit("OMIM:"), mim))
    obj = F.when(
        is_lit,
        F.concat(F.lit("synthetic title "), F.md5((F.col("id") + 1).cast("string"))),
    ).otherwise(F.concat(F.lit("MONDO:"), F.lpad((F.col("id") % 9_999_999).cast("string"), 7, "0"), F.lit("_"), F.col("id").cast("string")))
    return base.select(
        subj.alias("subject"),
        pred.alias("predicate"),
        obj.alias("object"),
        F.when(is_lit, "literal").otherwise("uri").alias("obj_kind"),
        F.lit(None).cast("string").alias("datatype"),
    )


def main() -> int:
    root = str(_REPO_ROOT)
    if root not in sys.path:
        sys.path.insert(0, root)
    from omim_spark.io.writers import write_ttl
    from omim_spark.session import get_spark

    schedule = (
        [int(x) for x in sys.argv[1].split(",")]
        if len(sys.argv) > 1
        else [7_300_000, 73_000_000]
    )
    spark = get_spark("omim-writer-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    _SCRATCH.mkdir(parents=True, exist_ok=True)
    # Warmup outside the timed region: one small write compiles the
    # codegen/shuffle paths so the first measured step isn't paying
    # JIT cost the second step doesn't.
    warm = _SCRATCH / "warm.ttl"
    write_ttl(synth_triples(spark, 50_000), str(warm))
    warm.unlink()
    rows = []
    for n in schedule:
        triples = synth_triples(spark, n)
        out = _SCRATCH / f"out_{n}.ttl"
        t0 = time.perf_counter()
        write_ttl(triples, str(out))
        wall = time.perf_counter() - t0
        size = out.stat().st_size
        out.unlink()
        rows.append((n, wall))
        print(
            json.dumps({"rows": n, "write_ttl_s": round(wall, 2), "ttl_bytes": size}),
            flush=True,
        )
    for (n1, t1), (n2, t2) in zip(rows, rows[1:]):
        print(
            json.dumps(
                {
                    "step": f"{n1}->{n2}",
                    "ratio": round(t2 / t1, 2),
                    "exponent": round(math.log(t2 / t1) / math.log(n2 / n1), 2),
                }
            ),
            flush=True,
        )
    shutil.rmtree(_SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
