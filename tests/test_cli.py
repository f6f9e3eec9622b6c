"""End-to-end CLI smoke: ``python -m omim_spark`` main() over the
synthetic fixture dir must produce the full artifact set (TTL +
review + ROBOT subset + reports) — the user-facing entry point the
pipeline tests bypass."""

from __future__ import annotations

import threading
from pathlib import Path

import pytest

from omim_spark import cli


def test_cli_builds_all_artifacts(spark, omim_data_dir, tmp_path):
    out = tmp_path / "out"
    cli.main(
        [
            "--data-dir",
            str(omim_data_dir),
            "--out-dir",
            str(out),
            "--version-date",
            "2026-01-01",
            "--use-cache",
        ]
    )
    ttl = out / "omim.ttl"
    assert ttl.is_file() and ttl.stat().st_size > 0
    head = ttl.read_text().splitlines()[:5]
    assert any(line.startswith("@prefix") for line in head)
    assert (out / "review.tsv").is_file()
    # makefile-tail artifacts (makefile:41-58)
    sssom = out / "omim.sssom.tsv"
    assert sssom.is_file()
    assert sssom.read_text().startswith("# mapping_set_id:")
    import json as _json

    doc = _json.loads((out / "omim.json").read_text())
    assert doc["graphs"][0]["nodes"]
    robot = out / "mondo-omim-susceptibility-subset.robot.tsv"
    assert robot.is_file()
    lines = robot.read_text().splitlines()
    # ROBOT template: header row then the subheader marker row
    assert lines[0].split("\t")[0] == "mondo_id"
    assert lines[1].split("\t")[0] == "ID"
    # at least one report written
    assert list(Path(out).glob("*.tsv"))


def test_cli_deterministic_ttl(spark, omim_data_dir, tmp_path):
    """Two builds write the same bytes to every artifact, so sinks that
    run concurrently do not interfere."""
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        cli.main(["--data-dir", str(omim_data_dir), "--out-dir", str(d), "-c"])
    names = sorted(p.name for p in a.iterdir())
    assert len(names) == 8
    assert sorted(p.name for p in b.iterdir()) == names
    for name in names:
        assert (a / name).read_bytes() == (b / name).read_bytes(), name


def test_cli_first_sink_failure_fails_the_build(
    spark, omim_data_dir, tmp_path, monkeypatch
):
    """A sink that raises fails the build with its own exception, and
    the build leaves no temporary file, shard directory, running job or
    pool thread behind."""
    write_tsv = cli.write_tsv

    def failing(df, path, *args, **kwargs):
        if Path(path).name == "review.tsv":
            raise RuntimeError("review sink failed")
        write_tsv(df, path, *args, **kwargs)

    monkeypatch.setattr(cli, "write_tsv", failing)
    threads = threading.active_count()
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="review sink failed"):
        cli.main(["--data-dir", str(omim_data_dir), "--out-dir", str(out), "-c"])
    assert not list(out.glob("*.tmp")) and not list(out.glob("*.shards"))
    assert not (out / "review.tsv").exists()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert threading.active_count() == threads


def test_cli_sink_jobs_keep_the_callers_job_group(spark, omim_data_dir, tmp_path):
    """Every job of the build, the sinks' on their pool threads
    included, runs in the caller's job group."""
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("cli-build", "cli.main under a job group")
    try:
        cli.main(
            ["--data-dir", str(omim_data_dir), "--out-dir", str(tmp_path / "o"), "-c"]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("cli-build")
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped


def test_cli_builds_without_pinned_threads(
    spark, omim_data_dir, tmp_path, monkeypatch
):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target``
    returns the session it is given instead of a wrapper; the sinks
    then run unwrapped and the build still writes all eight files."""
    monkeypatch.setattr(cli, "inheritable_thread_target", lambda f=None: f)
    out = tmp_path / "out"
    cli.main(["--data-dir", str(omim_data_dir), "--out-dir", str(out), "-c"])
    assert len(list(out.iterdir())) == 8


class TestCacheVsFetch:
    """--use-cache parity (reference interfaces/cli.py:17-22): the
    default run refreshes the OMIM sources through the injected
    transport before building; -c/--use-cache builds from the landed
    files without any transport call."""

    def test_use_cache_never_touches_transport(self, spark, omim_data_dir, tmp_path):
        calls = []
        cli.main(
            ["--data-dir", str(omim_data_dir), "--out-dir", str(tmp_path / "o"),
             "--use-cache"],
            transport=lambda url: calls.append(url) or "",
        )
        assert calls == []

    def test_fetch_mode_refreshes_then_builds(self, spark, omim_data_dir, tmp_path):
        """Offline-fake transport: serves each source file's current
        fixture content (uppercased marker comment prepended so the
        refresh is observable), then the build runs on the refreshed
        landing zone."""
        import shutil

        from omim_spark.cli import SOURCE_FILES, download_url

        data = tmp_path / "data"
        shutil.copytree(omim_data_dir, data)
        served = {}
        for fname in SOURCE_FILES:
            body = (data / fname).read_text()
            served[download_url(fname, "KEY123")] = "# refreshed\n" + body

        calls = []

        def transport(url):
            calls.append(url)
            return served[url]

        out = tmp_path / "out"
        cli.main(
            ["--data-dir", str(data), "--out-dir", str(out),
             "--download-key", "KEY123"],
            transport=transport,
        )
        # every source refreshed exactly once, through the reference's
        # URL scheme (mim2gene via the static path)
        assert len(calls) == len(SOURCE_FILES)
        assert any("omim.org/static/omim/data/mim2gene.txt" in u for u in calls)
        assert any("data.omim.org/downloads/KEY123/" in u for u in calls)
        for fname in SOURCE_FILES:
            assert (data / fname).read_text().startswith("# refreshed")
        # and the build consumed the refreshed files
        assert (out / "omim.ttl").is_file()

    def test_html_error_page_rejected(self, tmp_path):
        from omim_spark.cli import refresh_sources

        import pytest

        with pytest.raises(RuntimeError, match="Unexpected response"):
            refresh_sources(
                str(tmp_path),
                lambda url: "<!DOCTYPE html>\n<html>bad key</html>",
            )

    def test_mid_sequence_failure_leaves_data_dir_untouched(self, tmp_path):
        """All-or-nothing refresh: a transport failure (or HTML error
        page) on file 3 of 5 must not leave files 1-2 already
        overwritten — a later `-c` build would silently consume a mix
        of two OMIM versions."""
        from omim_spark.cli import SOURCE_FILES, refresh_sources

        import pytest

        for fname in SOURCE_FILES:
            (tmp_path / fname).write_text("# old version\n")

        fetched = []

        def flaky(url: str) -> str:
            fetched.append(url)
            if len(fetched) == 3:
                raise ConnectionError("mid-sequence transport drop")
            return "# new version\n"

        with pytest.raises(ConnectionError):
            refresh_sources(str(tmp_path), flaky)
        # nothing moved: every landed file still the old version, and
        # no stray staging temp files left behind
        for fname in SOURCE_FILES:
            assert (tmp_path / fname).read_text() == "# old version\n"
        assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
            SOURCE_FILES
        )

    def test_no_transport_fetch_mode_fails_loudly(self, omim_data_dir, tmp_path):
        import pytest

        with pytest.raises(RuntimeError, match="use-cache"):
            cli.main(
                ["--data-dir", str(omim_data_dir), "--out-dir", str(tmp_path / "o")]
            )
