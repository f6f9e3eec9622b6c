"""Benchmark of the OMIM build CLI (``python -m omim_spark --use-cache``).

    python3 perfbench/run.py --workload build_small --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run writes the workload's inputs
from the seed, then makes CLI invocations, each in a fresh process
(set-up, then one cold build of all eight artifacts), until
``--seconds`` have passed; there is always at least one.  Every
invocation's artifacts are checked against ``expected.json``.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics), each metric a median over the
run's invocations.  See README.md for what each metric means.

``--record`` writes the run's artifact digests and probe row counts
into ``expected.json`` instead of checking them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import catalog  # noqa: E402
from inputs import write_inputs  # noqa: E402
from spans import idle_core_frac  # noqa: E402

EXPECTED = HERE / "expected.json"
RUN_DIR = ".perfbench_run"
RUN_TIMEOUT_S = 170


def worker_env(run_dir: Path) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_LOCAL_DIRS": str(run_dir / "local"),
            "TMPDIR": str(run_dir / "tmp"),
            # no /tmp/hsperfdata files from the spark-submit launcher JVM
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    return env


def kill_group(pgid: int) -> None:
    """SIGKILL whatever is left of the invocation's process group and
    wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise RuntimeError(f"process group {pgid} survived SIGKILL")


def invoke(root: Path, run_dir: Path, trace: bool, deadline: float) -> dict:
    """One fresh-process CLI invocation; returns the worker's result."""
    shutil.rmtree(run_dir / "out", ignore_errors=True)
    shutil.rmtree(run_dir / "eventlog", ignore_errors=True)
    for sub in ("local", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    cfg_path = run_dir / "worker.json"
    res_path = run_dir / "result.json"
    res_path.unlink(missing_ok=True)
    log = open(run_dir / "worker.log", "w")
    t_spawn = time.monotonic()
    cfg = {
        "root": str(root),
        "run_dir": str(run_dir),
        "trace": trace,
        "t_spawn": t_spawn,
        "result": str(res_path),
    }
    cfg_path.write_text(json.dumps(cfg))
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), str(cfg_path)],
        cwd=root,
        env=worker_env(run_dir),
        stdout=log,
        stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        kill_group(proc.pid)
        proc.wait()
        log.close()
    if code != 0 or not res_path.exists():
        tail = (run_dir / "worker.log").read_text()[-3000:]
        raise RuntimeError(f"worker exit {code}; log tail:\n{tail}")
    return json.loads(res_path.read_text())


def span_metrics(spans: dict, cores: int) -> dict[str, float]:
    """Per-span counters.  A span's counters cover its own job group
    plus those of the spans nested in it."""

    def inclusive(name: str, key: str) -> float:
        s = spans[name]
        return s.get(key, 0) + sum(inclusive(c, key) for c in s["children"])

    out: dict[str, float] = {}
    for name in spans:
        wall = spans[name]["wall_s"]
        exec_s = inclusive(name, "exec_s")
        out[f"{name}.wall_s"] = wall
        out[f"{name}.exec_s"] = exec_s
        out[f"{name}.idle_core_frac"] = idle_core_frac(exec_s, wall, cores)
        for key in ("tasks", "shuffle_mb"):
            out[f"{name}.{key}"] = inclusive(name, key)
    for name in catalog.GC_SPANS:
        out[f"{name}.gc_s"] = inclusive(name, "gc_s")
    out[f"{catalog.ROOT_SPAN}.self_s"] = spans[catalog.ROOT_SPAN]["self_s"]
    return out


def layer_metrics(res: dict, cores: int) -> dict[str, float]:
    m = span_metrics(res["spans"], cores)
    for span, mb in res["out_mb"].items():
        m[f"{span}.out_mb"] = mb
    for name, probe in res.get("probes", {}).items():
        if "rows_out" in probe:
            m[f"{name}.rows_out"] = probe["rows_out"]
    for key in ("cpu_probe_s", "shuffle_probe_s"):
        # the slower side shows a host that was busy at either edge
        m[f"host.{key}"] = max(res["host_before"][key], res["host_after"][key])
    m[f"{catalog.ROOT_SPAN}.cpu_s"] = res["build_cpu_s"]
    m["host.steal_frac"] = res["host_steal_frac"]
    for key, v in res["retained"].items():
        m[f"operators.checkpoint.{key}"] = v
    return m


def check(res: dict, expected: dict | None, trace: bool) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) for one invocation: the build is
    one operation, each traced probe another."""
    problems: list[str] = []
    build_ok = "build_error" not in res
    if not build_ok:
        problems.append("build raised:\n" + res["build_error"])
    elif expected is None:
        problems.append("no expected digests recorded for this workload")
        build_ok = False
    elif res["digests"] != expected["digests"]:
        bad = sorted(
            f
            for f in set(res["digests"]) | set(expected["digests"])
            if res["digests"].get(f) != expected["digests"].get(f)
        )
        problems.append(f"artifact digests differ: {bad}")
        build_ok = False
    attempted, failed = 1, int(not build_ok)
    if trace:
        want = (expected or {}).get("probe_rows", {})
        for name in catalog.PROBES:
            attempted += 1
            got = res.get("probes", {}).get(name, {"error": "not run"})
            if "error" in got:
                problems.append(f"probe {name} failed:\n{got['error']}")
                failed += 1
            elif got["rows_out"] != want.get(name):
                problems.append(
                    f"probe {name}: {got['rows_out']} rows, expected {want.get(name)}"
                )
                failed += 1
    return attempted, failed, problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(catalog.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "omim_spark" / "cli.py").is_file():
        print(f"omim_spark/cli.py not found under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_TIMEOUT_S
    run_dir = root / RUN_DIR
    shutil.rmtree(run_dir, ignore_errors=True)
    cores = os.cpu_count() or 1
    try:
        write_inputs(run_dir / "data", catalog.WORKLOADS[args.workload], args.seed)
        t_measure = time.monotonic()
        results = []
        while not results or time.monotonic() - t_measure < args.seconds:
            results.append(invoke(root, run_dir, bool(args.trace), deadline))
    except RuntimeError as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    expected_all = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    key = args.workload
    if args.record:
        if "build_error" in results[0]:
            print(results[0]["build_error"], file=sys.stderr)
            return 1
        rec = expected_all.setdefault(key, {})
        rec["digests"] = results[0]["digests"]
        if args.trace:
            rec["probe_rows"] = {
                n: p["rows_out"] for n, p in results[0]["probes"].items()
            }
        EXPECTED.write_text(json.dumps(expected_all, indent=2, sort_keys=True) + "\n")

    attempted = failed = 0
    for res in results:
        a, f, problems = check(res, expected_all.get(key), bool(args.trace))
        attempted += a
        failed += f
        for p in problems:
            print(p, file=sys.stderr)

    if args.trace:
        per_run = [layer_metrics(r, cores) for r in results]
        names = catalog.per_layer_names()
    else:
        per_run = [{k: r[k] for k in catalog.END_TO_END} for r in results]
        names = list(catalog.END_TO_END)
    for r in results:
        # host-noise evidence for every run, traced or not
        print(
            "host: cpu_probe_s {:.3f}/{:.3f} shuffle_probe_s {:.3f}/{:.3f} "
            "(before/after build); steal {:.3f} of host CPU and {:.1f} CPU-s "
            "used during build; retained {:.1f} MB in {} RDDs".format(
                r["host_before"]["cpu_probe_s"],
                r["host_after"]["cpu_probe_s"],
                r["host_before"]["shuffle_probe_s"],
                r["host_after"]["shuffle_probe_s"],
                r["host_steal_frac"],
                r["build_cpu_s"],
                r["retained"]["retained_mb"],
                r["retained"]["retained_rdds"],
            )
        )
    metrics = {}
    for n in names:
        values = [m[n] for m in per_run if n in m]  # a failed build leaves gaps
        if values:
            metrics[n] = {"value": statistics.median(values), "unit": catalog.unit(n)}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
