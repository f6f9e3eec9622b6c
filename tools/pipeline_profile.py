"""Event-log census for the pipeline build tier (guide §1.1/§7.1):
synthesize the N-replica fixture, run one warm + one measured
build_graph→TTL pass with event logging, and attribute executor run
time / shuffle bytes / task counts per stage — the noise-resistant
evidence the r13 verdict asked for (wall clocks on this host cross
hypervisor-stolen windows; executor-seconds barely inflate).

Usage: python tools/pipeline_profile.py [replicas] [label]
Prints the measured build's wall/write seconds, total executor
seconds, and the top stages by executor time.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

EVDIR = "/tmp/spark-events-pipeline"


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    label = sys.argv[2] if len(sys.argv) > 2 else "build"

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from omim_spark.session import get_spark
    from tools.pipeline_scale_probe import run_build, synthesize

    spark = get_spark(
        "omim-pipeline-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    scratch = Path(__file__).resolve().parent.parent / ".scratch" / "pipeline_profile"
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        synthesize(scratch / "data", replicas)
        run_build(spark, str(scratch / "data"), str(scratch / "warm.ttl"))
        spark.sparkContext.setJobDescription(f"{label}#run0")
        t0 = time.perf_counter()
        wall, n, write_s = run_build(
            spark, str(scratch / "data"), str(scratch / "out.ttl")
        )
        spark.sparkContext.setJobDescription(None)
        spark.stop()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    from tools.event_census import stage_census

    stages = stage_census(EVDIR).get(f"{label}#run0", {})
    run_ms = sum(st["run_ms"] for st in stages.values())
    print(
        json.dumps(
            {
                "label": label,
                "replicas": replicas,
                "wall_s": round(wall, 2),
                "write_s": round(write_s, 2),
                "triples": n,
                "exec_s": round(run_ms / 1000, 1),
                "stages": len(stages),
                "tasks": sum(st["tasks"] for st in stages.values()),
                # Sum of per-stage walls vs the build wall: the gap is
                # driver-side time (planning, scheduling, checkpoint
                # barriers) that no stage accounts for (guide §7.3).
                "stage_wall_s": round(
                    sum(st["wall_s"] for st in stages.values()), 1
                ),
            }
        )
    )
    top = sorted(stages.items(), key=lambda kv: kv[1]["run_ms"], reverse=True)
    for sid, st in top[:10]:
        print(
            f"    stage {sid}: {st['run_ms'] / 1000:.1f}s exec, "
            f"{st['wall_s']:.1f}s wall, {st['tasks']} tasks, "
            f"shW {st['sh_write'] / 1e6:.1f}MB, in {st['input'] / 1e6:.1f}MB  "
            f"{st['name'][:70]}"
        )


if __name__ == "__main__":
    main()
