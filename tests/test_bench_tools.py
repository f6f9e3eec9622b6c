"""Tests for the bench tooling: bench_compare's parsed=null artifact
recovery (r12 verdict #1) and its measurement-regime guard for the
pipeline tier (r12 advice)."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _load_bench_compare():
    spec = importlib.util.spec_from_file_location(
        "bench_compare", REPO / "tools" / "bench_compare.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(monkeypatch, capsys, argv):
    mod = _load_bench_compare()
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", *argv])
    rc = mod.main()
    return rc, capsys.readouterr().out


def _write(tmp_path, name, obj):
    p = tmp_path / name
    p.write_text(json.dumps(obj))
    return str(p)


_OK_PAYLOAD = {
    "metric": "headline_queries_total_wall",
    "value": 2.0,
    "unit": "sec",
    "queries": {"q01": 1.0, "q02": 1.0},
    "sf": 0.1,
}


def test_parsed_null_head_truncated_tail_recovers(
    tmp_path, monkeypatch, capsys
):
    # The r10/r11 artifact shape: parsed=null, tail = the LAST 2000
    # chars of a longer line — head-truncated, so metric/value are
    # gone but the object suffix from "queries" onward survives.
    full = json.dumps(
        {**_OK_PAYLOAD, "queries": {"q01": 1.2, "q02": 0.8}},
        separators=(",", ":"),
    )
    tail = full[full.find('"queries"') - 20 :] + "\n"
    assert not tail.lstrip().startswith("{")
    old = _write(
        tmp_path,
        "old.json",
        {"n": 1, "rc": 0, "tail": tail, "parsed": None},
    )
    new = _write(tmp_path, "new.json", {"parsed": _OK_PAYLOAD})
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 0
    assert "recovered from its head-truncated tail" in out
    assert "q01" in out and "q02" in out


def test_parsed_null_complete_line_in_tail(tmp_path, monkeypatch, capsys):
    full = json.dumps(_OK_PAYLOAD, separators=(",", ":"))
    old = _write(
        tmp_path,
        "old.json",
        {"tail": "some stderr noise\n" + full + "\n", "parsed": None},
    )
    new = _write(tmp_path, "new.json", {"parsed": _OK_PAYLOAD})
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 0
    assert "head-truncated" not in out  # tier 1 hit, no reconstruction
    assert "q01" in out


def test_parsed_null_unrecoverable_exits(tmp_path, monkeypatch, capsys):
    old = _write(
        tmp_path, "old.json", {"tail": "no json here", "parsed": None}
    )
    new = _write(tmp_path, "new.json", {"parsed": _OK_PAYLOAD})
    mod = _load_bench_compare()
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", old, new])
    try:
        mod.main()
    except SystemExit as e:
        assert "no bench payload recoverable" in str(e)
    else:  # pragma: no cover
        raise AssertionError("expected SystemExit")


def test_pipeline_regime_change_not_gated(tmp_path, monkeypatch, capsys):
    # Inline hot-JVM old floor vs fresh-JVM new measurement: a +50%
    # delta across the regime boundary must print as a floor reset,
    # not fail the gate.
    old = _write(
        tmp_path,
        "old.json",
        {**_OK_PAYLOAD, "pipeline": {"pipeline_build_2000x": {"min": 10.0}}},
    )
    new = _write(
        tmp_path,
        "new.json",
        {
            **_OK_PAYLOAD,
            "pipeline": {
                "pipeline_build_2000x": {"min": 15.0, "regime": "fresh_jvm"}
            },
        },
    )
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 0
    assert "floor reset, not gated" in out


def _payload(**over):
    base = {
        "metric": "headline_queries_total_wall",
        "value": 2.0,
        "unit": "sec",
        "queries": {"q01": 1.0, "q02": 1.0},
        "spread": {"q01": [1.0, 1.1], "q02": [1.0, 1.2]},
        "runs_per_query": 2,
        "pipeline": {},
        "calibration": {"before": {"cpu": {"min": 0.1}}},
        "sf": 0.1,
    }
    base.update(over)
    return base


def test_emit_line_under_cap_is_verbatim():
    sys.path.insert(0, str(REPO))
    try:
        from bench import emit_line
    finally:
        sys.path.pop(0)
    p = _payload()
    assert json.loads(emit_line(dict(p))) == p


def test_emit_line_never_exceeds_cap():
    sys.path.insert(0, str(REPO))
    try:
        from bench import LINE_CAP, emit_line
    finally:
        sys.path.pop(0)
    # Adversarial payloads the 4-step r12 ladder could NOT shrink:
    # many pipeline error entries, then a queries map that alone
    # overflows the cap.
    many_errors = _payload(
        pipeline={
            f"tier_{i}": {"error": "x" * 400} for i in range(30)
        }
    )
    line = emit_line(many_errors)
    assert len(line) <= LINE_CAP
    parsed = json.loads(line)
    assert parsed["value"] == 2.0

    huge_queries = _payload(
        queries={f"q_very_long_name_{i:04d}": 1.0 for i in range(200)}
    )
    line = emit_line(huge_queries)
    assert len(line) <= LINE_CAP
    parsed = json.loads(line)
    assert parsed["over_cap"] is True
    assert parsed["n_queries"] == 200
    assert parsed["value"] == 2.0


def test_emit_line_many_errors_keep_pipeline_floor():
    # Self-review regression (r13): many errored tiers must not starve
    # the ladder into the minimal envelope when truncating the error
    # strings alone fits the line — the valid regression floor has to
    # survive in the pipeline block.
    sys.path.insert(0, str(REPO))
    try:
        from bench import LINE_CAP, emit_line
    finally:
        sys.path.pop(0)
    pipeline = {f"tier_{i}": {"error": "x" * 300} for i in range(12)}
    pipeline["pipeline_build_2000x"] = {"min": 19.31, "regime": "fresh_jvm"}
    p = _payload(pipeline=pipeline)
    line = emit_line(p)
    assert len(line) <= LINE_CAP
    parsed = json.loads(line)
    assert parsed.get("over_cap") is None
    assert parsed["pipeline"]["pipeline_build_2000x"]["min"] == 19.31
    assert all(
        len(v.get("error", "")) <= 80 for v in parsed["pipeline"].values()
    )


def test_emit_line_does_not_mutate_caller_payload():
    sys.path.insert(0, str(REPO))
    try:
        from bench import emit_line
    finally:
        sys.path.pop(0)
    p = _payload(
        pipeline={f"tier_{i}": {"error": "x" * 400} for i in range(30)}
    )
    snapshot = json.loads(json.dumps(p))
    emit_line(p)
    assert p == snapshot


def test_pipeline_same_regime_still_gated(tmp_path, monkeypatch, capsys):
    old = _write(
        tmp_path,
        "old.json",
        {
            **_OK_PAYLOAD,
            "pipeline": {
                "pipeline_build_2000x": {"min": 10.0, "regime": "fresh_jvm"}
            },
        },
    )
    new = _write(
        tmp_path,
        "new.json",
        {
            **_OK_PAYLOAD,
            "pipeline": {
                "pipeline_build_2000x": {"min": 15.0, "regime": "fresh_jvm"}
            },
        },
    )
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert rc == 1
    assert "pipeline_build_2000x" in out


# ---------------------------------------------------------------------------
# r13: in-region noise canary + adaptive pipeline re-runs
# ---------------------------------------------------------------------------


def test_noise_summarize_clean_and_bursty():
    sys.path.insert(0, str(REPO))
    try:
        from tools.noise_sentinel import summarize
    finally:
        sys.path.pop(0)
    assert summarize([]) == {"n": 0, "slow3x": 0, "worst": 0.0}
    clean = summarize([0.020, 0.021, 0.020, 0.022])
    assert clean["n"] == 4 and clean["slow3x"] == 0 and clean["worst"] < 1.2
    # one stolen window stretches two overlapped samples 5x/9x
    bursty = summarize([0.020, 0.100, 0.180, 0.021])
    assert bursty["slow3x"] == 2
    assert bursty["worst"] == 9.0


def test_noise_sentinel_runs_and_stops():
    sys.path.insert(0, str(REPO))
    try:
        from tools.noise_sentinel import NoiseSentinel
    finally:
        sys.path.pop(0)
    import time as _time

    s = NoiseSentinel(period=0.05).start()
    # Wait for samples by watching the list, not a fixed sleep: on a
    # bursty host (the exact condition the sentinel exists for) a
    # fixed 0.4 s can elapse inside the FIRST stretched burn.
    deadline = _time.time() + 10.0
    while len(s.samples) < 2 and _time.time() < deadline:
        _time.sleep(0.05)
    out = s.stop()
    assert out["n"] >= 2
    assert out["slow3x"] <= out["n"]


def test_needs_extra_run_decision():
    sys.path.insert(0, str(REPO))
    try:
        from tools.pipeline_bench import needs_extra_run
    finally:
        sys.path.pop(0)
    # healthy spread: within 10% — no extra
    assert not needs_extra_run([20.0, 21.0, 20.5])
    # one 2.5x burst run drags the mean past 1.2x min — re-run
    assert needs_extra_run([20.0, 50.0, 21.0])
    # all-slow (uniformly slower box, consistent): no extra — the min
    # is as good as this host gets
    assert not needs_extra_run([45.0, 46.0, 47.0])
    assert not needs_extra_run([])


def test_compare_notes_noisy_side(tmp_path, monkeypatch, capsys):
    noisy = {
        **_OK_PAYLOAD,
        "calibration": {
            **_OK_PAYLOAD.get("calibration", {}),
            "noise": {"n": 189, "slow3x": 15, "worst": 51.7},
        },
    }
    old = _write(tmp_path, "old.json", _OK_PAYLOAD)
    new = _write(tmp_path, "new.json", noisy)
    rc, out = _run(monkeypatch, capsys, [old, new])
    assert "15/189" in out and "51.7" in out
    # clean artifacts print no canary note
    old2 = _write(tmp_path, "old2.json", _OK_PAYLOAD)
    new2 = _write(tmp_path, "new2.json", _OK_PAYLOAD)
    rc2, out2 = _run(monkeypatch, capsys, [old2, new2])
    assert "canary" not in out2


def test_emit_line_calibration_compresses_to_noise_before_dropping():
    sys.path.insert(0, str(REPO))
    try:
        from bench import LINE_CAP, emit_line
    finally:
        sys.path.pop(0)
    # A bulky calibration block (retry probes, loadavg history) plus a
    # spread big enough that the ladder must reach the calibration
    # rung: the canary must SURVIVE that rung (compressed form), since
    # degraded draws are exactly where burst attribution matters.
    noise = {"n": 189, "slow3x": 15, "worst": 51.7}
    # 110 queries: sized so spread-drop alone leaves the line over the
    # cap, the compress rung fires, and the compressed form fits —
    # calibration must survive as exactly {"noise": ...} with the
    # pipeline floor intact.
    p = _payload(
        spread={f"q{i:03d}": {"mean": 1.234, "stddev": 0.567} for i in range(110)},
        queries={f"q{i:03d}": 1.234 for i in range(110)},
        calibration={
            "before": {"cpu": {"min": 0.1, "mean": 0.2}, "shuffle": {"min": 1.0, "mean": 1.1}},
            "after": {"cpu": {"min": 0.1, "mean": 0.2}, "shuffle": {"min": 1.0, "mean": 1.1}},
            "floors": {"cpu": 0.131, "shuffle": 0.94},
            "gave_up_contended": False,
            "noise": noise,
            "settle_waits_s": [0.0, 45.2, 45.1],
            "loadavg_before": [4.05, 10.33, 10.99],
            "loadavg_after": [12.01, 11.65, 11.28],
        },
        pipeline={"pipeline_build_2000x": {"min": 19.3, "regime": "fresh_jvm"}},
    )
    line = emit_line(p)
    assert len(line) <= LINE_CAP
    parsed = json.loads(line)
    assert parsed["spread"] == {"dropped": f"line>{LINE_CAP}B"}
    assert parsed["calibration"] == {"noise": noise}
    assert parsed["pipeline"]["pipeline_build_2000x"]["min"] == 19.3
    assert parsed.get("over_cap") is None
