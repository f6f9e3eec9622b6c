"""Tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import random
import sys
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import catalog  # noqa: E402
from inputs import (  # noqa: E402
    MIM_TOKEN,
    fixture_sources,
    interleave,
    render,
    split_blocks,
)
from spans import Tracer, census, covered, idle_core_frac, self_time  # noqa: E402


# --- seeded inputs ----------------------------------------------------------


def test_seed_keeps_header_block_and_line_multiset():
    sources = fixture_sources()
    a, b = render(sources, 50, seed=1), render(sources, 50, seed=2)
    assert a.keys() == b.keys() == sources.keys()
    moved = 0
    for fname in sources:
        ha, da, ta = split_blocks(fname, a[fname])
        hb, db, tb = split_blocks(fname, b[fname])
        h0, _, t0 = split_blocks(fname, sources[fname])
        assert ha == hb == h0 and ta == tb == t0, fname
        assert Counter(da) == Counter(db), fname
        moved += da != db
    assert moved >= 5  # every replicated file is reordered


def test_same_seed_same_inputs():
    sources = fixture_sources()
    assert render(sources, 20, seed=9) == render(sources, 20, seed=9)


def test_interleave_keeps_order_within_each_block():
    blocks = [[(i, j) for j in range(7)] for i in range(5)]
    merged = interleave(blocks, random.Random(3))
    assert sorted(merged) == sorted(x for b in blocks for x in b)
    for i, b in enumerate(blocks):
        assert [x for x in merged if x[0] == i] == b
    assert merged != [x for b in blocks for x in b]


def test_replicas_share_no_mim_number():
    text = render(fixture_sources(), 4, seed=0)["mimTitles.txt"]
    _, data, _ = split_blocks("mimTitles.txt", text)
    keys = [ln.split("\t")[1] for ln in data]
    assert len(keys) == len(set(keys))
    assert all(MIM_TOKEN.fullmatch(k) for k in keys)


# --- span arithmetic --------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    span = (0.0, 10.0)
    # overlapping children [1,4] ∪ [3,5] = 4 s; [8,12] clipped to [8,10] = 2 s
    kids = [(1.0, 4.0), (3.0, 5.0), (8.0, 12.0), (20.0, 30.0)]
    assert covered(span, kids) == pytest.approx(6.0)
    assert self_time(span, kids) == pytest.approx(4.0)
    assert self_time(span, []) == pytest.approx(10.0)
    assert covered(span, [(1.0, 6.0), (2.0, 3.0)]) == pytest.approx(5.0)  # nested


def test_idle_core_frac():
    assert idle_core_frac(exec_s=8.0, wall_s=4.0, cores=4) == pytest.approx(0.5)
    assert idle_core_frac(exec_s=0.0, wall_s=2.0, cores=4) == pytest.approx(1.0)
    assert idle_core_frac(exec_s=16.0, wall_s=4.0, cores=4) == pytest.approx(0.0)
    with pytest.raises(ValueError):
        idle_core_frac(exec_s=1.0, wall_s=0.0, cores=4)


def test_tracer_nests_and_restores_job_group():
    groups: list[str | None] = []
    t = Tracer(groups.append)
    with t.span("root"):
        with t.span("a"):
            pass
        with t.span("b"):
            pass
        with t.span("a"):
            pass
    assert groups == ["root", "a", "root", "b", "root", "a", "root", None]
    assert t.children("root") == ["a", "b"]
    assert len(t.intervals["a"]) == 2
    assert t.self_s("root") == pytest.approx(
        t.wall("root") - t.wall("a") - t.wall("b"), abs=1e-6
    )


def test_census_charges_stage_to_first_job_group():
    def task(stage, run_ms, gc_ms, shuffle_b, reason="Success"):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "write"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "reports"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        task(0, 1500, 100, 2_000_000),
        task(1, 500, 0, 0),
        task(1, 700, 0, 0, reason="TaskKilled"),
        task(2, 250, 50, 1_000_000),
        task(3, 999, 0, 0),
    ]
    got = census(json.dumps(e) for e in events)
    assert set(got) == {"write", "reports"}
    assert got["write"]["tasks"] == 2
    assert got["write"]["exec_s"] == pytest.approx(2.0)
    assert got["write"]["gc_s"] == pytest.approx(0.1)
    assert got["write"]["shuffle_mb"] == pytest.approx(2.0)
    assert got["reports"]["tasks"] == 1
    assert got["reports"]["exec_s"] == pytest.approx(0.25)


# --- metric catalog ---------------------------------------------------------


def test_metric_names_and_caps():
    per_layer = catalog.per_layer_names()
    names = list(catalog.END_TO_END) + per_layer
    assert all(catalog.NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    assert 1 <= len(catalog.END_TO_END) <= catalog.MAX_END_TO_END
    assert 1 <= len(per_layer) <= catalog.MAX_PER_LAYER
    for n in names:
        catalog.unit(n)  # every name has a unit


def test_benchmark_json_matches_catalog():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(catalog.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(catalog.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == catalog.per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == catalog.unit(m["name"])


# --- metric assembly and checks ---------------------------------------------


def fake_result() -> dict:
    """A worker result shaped like worker.main writes it."""
    root = {"wall_s": 10.0, "self_s": 1.0, "children": list(catalog.CLI_SPANS)}
    spans = {catalog.ROOT_SPAN: root}
    for name in (*catalog.CLI_SPANS, *catalog.PROBES):
        spans[name] = {"wall_s": 1.0, "self_s": 1.0, "children": [], "exec_s": 2.0,
                       "tasks": 3, "shuffle_mb": 0.5, "gc_s": 0.1}
    return {
        "spans": spans,
        "out_mb": {s: 1.0 for s, (_, files) in catalog.CLI_SPANS.items() if files},
        "probes": {p: {"rows_out": 5} for p in catalog.PROBES},
        "host_before": {"cpu_probe_s": 0.2, "shuffle_probe_s": 0.5},
        "host_after": {"cpu_probe_s": 0.3, "shuffle_probe_s": 0.4},
        "host_steal_frac": 0.01,
        "build_cpu_s": 40.0,
        "retained": {"retained_mb": 30.0, "retained_rdds": 7},
        "digests": {f: f"h-{f}" for f in catalog.ARTIFACTS},
    }


def test_layer_metrics_produce_every_per_layer_name():
    import run

    m = run.layer_metrics(fake_result(), cores=4)
    assert sorted(m) == sorted(catalog.per_layer_names())
    n_cli = len(catalog.CLI_SPANS)
    assert m["cli.main.exec_s"] == pytest.approx(2.0 * n_cli)  # inclusive
    assert m["cli.main.tasks"] == 3 * n_cli
    assert m["cli.main.idle_core_frac"] == pytest.approx(1 - 2.0 * n_cli / 40.0)
    assert m["host.cpu_probe_s"] == pytest.approx(0.3)  # slower side
    assert m["host.shuffle_probe_s"] == pytest.approx(0.5)


def test_check_counts_wrong_artifacts_and_probes_as_failed():
    import run

    res = fake_result()
    expected = {"digests": dict(res["digests"]),
                "probe_rows": {p: 5 for p in catalog.PROBES}}
    assert run.check(res, expected, trace=False)[:2] == (1, 0)
    assert run.check(res, expected, trace=True)[:2] == (1 + len(catalog.PROBES), 0)
    expected["digests"]["omim.ttl"] = "other"
    expected["probe_rows"]["entries"] = 6
    attempted, failed, problems = run.check(res, expected, trace=True)
    assert (attempted, failed) == (1 + len(catalog.PROBES), 2)
    assert any("omim.ttl" in p for p in problems)
    assert run.check(res, None, trace=False)[:2] == (1, 1)
    res["build_error"] = "Traceback ..."
    assert run.check(res, None, trace=False)[:2] == (1, 1)
