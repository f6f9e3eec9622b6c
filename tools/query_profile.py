"""Per-query measurement harness for the optimization rounds.

For each named headline query (default: all): run it R times through
the noop sink (guide §1.4) with a job description label (§1.5), report
the min/mean wall, and attribute time from the Spark event log —
per-stage executor-run-time, shuffle bytes, and task counts — so the
optimization targets the stage that actually costs, not the one that
looks expensive in the plan.

Usage: python tools/query_profile.py [sf_dir] [query ...]
Env:   SPARK_GRAFT_PROFILE_RUNS (default 3)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    runs = max(1, int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3")))

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    from omim_spark.session import get_spark
    from omim_spark.workload import BENCH_ONLY, QUERIES

    spark = get_spark(
        "omim-spark-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    fns = {n: qd.fn for n, qd in QUERIES.items() if qd.headline}
    fns.update(BENCH_ONLY)
    fns = {n: f for n, f in sorted(fns.items()) if not only or n in only}

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for fn in fns.values():
        fn(spark, warm_dir).write.format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}
    for name, fn in fns.items():
        walls = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name}#run{i}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        results[name] = {
            "min": round(min(walls), 3),
            "mean": round(sum(walls) / len(walls), 3),
        }

    spark.stop()

    # Attribute from the event log, run 0 only (steady-state
    # post-warmup): job description -> stages -> (executor run time,
    # shuffle bytes, tasks).
    from tools.event_census import stage_census

    per_label: dict[str, dict] = {}
    for label, stages in stage_census(EVDIR).items():
        qname, sep, run = label.rpartition("#run")
        if not sep or run != "0":
            continue
        per_label[qname] = {
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages.values()),
            "run_ms": sum(st["run_ms"] for st in stages.values()),
            "gc_ms": sum(st["gc_ms"] for st in stages.values()),
            "sh_write_mb": sum(st["sh_write"] for st in stages.values()) / 1e6,
            "input_mb": sum(st["input"] for st in stages.values()) / 1e6,
            "top_stages": [
                (st["run_ms"], sid, st["tasks"], st["name"][:60])
                for sid, st in stages.items()
            ],
        }

    for name in fns:
        r = results[name]
        a = per_label.get(name, {})
        print(
            f"{name}: min {r['min']} mean {r['mean']}"
            + (
                f" | run0: {a['stages']} stages {a['tasks']} tasks "
                f"exec {a['run_ms'] / 1000:.2f}s gc {a['gc_ms'] / 1000:.2f}s "
                f"shW {a['sh_write_mb']:.1f}MB in {a['input_mb']:.1f}MB"
                if a
                else ""
            )
        )
        for run_ms, sid, tasks, sname in sorted(
            a.get("top_stages", []), reverse=True
        )[:5]:
            print(f"    stage {sid}: {run_ms / 1000:.2f}s exec, {tasks} tasks  {sname}")


if __name__ == "__main__":
    main()
