"""CLI: python -m omim_spark --data-dir <dir> --out-dir <dir>
[--use-cache] (the Spark twin of `python -m omim2obo`, reference
omim2obo/interfaces/cli.py:17-22,30-46).

Cache-vs-fetch parity: like the reference, the default run REFRESHES
the OMIM source files into --data-dir before building (reference
get_mim_file's download branch, omim2obo/parsers/omim_txt_parser.py:
224-246), and ``-c/--use-cache`` skips the refresh and builds from
whatever is already landed.  The HTTP GET itself is an injected
``transport`` (``Callable[[url], text]``) because this container has
no network — production passes a requests-backed callable; tests pass
an offline fake."""

from __future__ import annotations

import argparse
import os
from collections.abc import Callable

from omim_spark.io.artifacts import write_obograph_json, write_sssom_tsv
from omim_spark.io.writers import write_tsv, write_ttl
from omim_spark.pipeline import build_graph
from omim_spark.session import get_spark

SUSCEPTIBILITY_SUBHEADER = [
    "ID",
    "AI oboInOwl:inSubset",
    ">A oboInOwl:source",
]

# The OMIM source files a build consumes (reference main.py:242-407;
# genemap2 is downloaded for reference parity even though the pipeline
# reads it only for the HGNC-conflict gate).
SOURCE_FILES = (
    "mimTitles.txt",
    "morbidmap.txt",
    "mim2gene.txt",
    "genemap2.txt",
    "phenotypicSeries.txt",
)


def download_url(file_name: str, download_key: str = "") -> str:
    """Reference URL scheme (omim_txt_parser.py:225-228): key-scoped
    download server for most files, the public static path for
    mim2gene.txt."""
    if file_name == "mim2gene.txt":
        return f"https://omim.org/static/omim/data/{file_name}"
    return f"https://data.omim.org/downloads/{download_key}/{file_name}"


def refresh_sources(
    data_dir: str,
    transport: Callable[[str], str],
    download_key: str = "",
    files: tuple[str, ...] = SOURCE_FILES,
) -> None:
    """The reference's download step (omim_txt_parser.py:224-246):
    GET each source text, reject an HTML response (OMIM serves an
    HTML error page with HTTP 200 on bad download keys), land it in
    ``data_dir``.

    Validated-before-any-write (hardened vs the reference, which
    writes each file before the next fetch): every download is staged
    and validated first, then the set moves into ``data_dir`` — a
    transport failure or HTML error page mid-sequence can no longer
    leave the landing dir holding a mix of two OMIM versions that a
    subsequent ``-c`` build would silently consume.  Each individual
    landing is an atomic ``os.replace``; the loop across files is NOT
    atomic as a set (a hard crash mid-loop can still leave a mixed
    landing dir — r8 ADVICE), but no invalid payload is ever landed."""
    staged: list[tuple[str, str]] = []
    for fname in files:
        text = transport(download_url(fname, download_key))
        if text.startswith("<!DOCTYPE html>"):
            raise RuntimeError("Unexpected response: " + text[:200])
        staged.append((fname, text))
    import tempfile

    os.makedirs(data_dir, exist_ok=True)
    # mkstemp creates 0600; restore the umask-derived mode a plain
    # open() would have produced so landing doesn't tighten perms.
    # NOTE: the probe (set-then-restore) briefly widens the
    # process-wide umask — safe only because refresh_sources runs in
    # the single-threaded CLI; do not call from threaded code without
    # replacing the probe with a stat of an existing file (r9 ADVICE).
    umask = os.umask(0)
    os.umask(umask)
    for fname, text in staged:
        # stage on the destination filesystem so replace() is atomic
        fd, tmp = tempfile.mkstemp(prefix=f".{fname}.", dir=data_dir)
        try:
            with os.fdopen(fd, "w") as f:
                f.write(text)
            os.chmod(tmp, 0o666 & ~umask)
            os.replace(tmp, os.path.join(data_dir, fname))
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise


def _no_network_transport(url: str) -> str:
    raise RuntimeError(
        f"no HTTP transport configured (would GET {url}); pass "
        "transport= to cli.main(), or run with --use-cache to build "
        "from the already-landed --data-dir"
    )


def main(
    argv: list[str] | None = None,
    transport: Callable[[str], str] | None = None,
) -> None:
    ap = argparse.ArgumentParser("omim-spark")
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--out-dir", default="output")
    ap.add_argument("--version-date", default="1970-01-01")
    ap.add_argument(
        "-c",
        "--use-cache",
        action="store_true",
        help="Use cache instead of downloading sources",
    )
    ap.add_argument(
        "--download-key",
        default=os.environ.get("OMIM_DOWNLOAD_KEY", ""),
        help="data.omim.org download key (fetch mode only)",
    )
    args = ap.parse_args(argv)

    if not args.use_cache:
        refresh_sources(
            args.data_dir,
            transport or _no_network_transport,
            args.download_key,
        )

    spark = get_spark("omim-spark-build")
    os.makedirs(args.out_dir, exist_ok=True)
    result = build_graph(spark, args.data_dir, args.version_date)

    write_ttl(result.triples, os.path.join(args.out_dir, "omim.ttl"))
    # Release-artifact tail of the reference makefile (makefile:41-58):
    # obographs JSON (robot convert) + SSSOM mapping set (sssom parse).
    write_obograph_json(result.triples, os.path.join(args.out_dir, "omim.json"))
    write_sssom_tsv(result.triples, os.path.join(args.out_dir, "omim.sssom.tsv"))
    write_tsv(
        result.review_cases,
        os.path.join(args.out_dir, "review.tsv"),
        order_by=["classCode", "value"],
    )
    susc = result.susceptibility.selectExpr(
        "mondo_id",
        "'http://purl.obolibrary.org/obo/mondo#omim_susceptibility' AS subset",
        "omim_id",
    )
    write_tsv(
        susc,
        os.path.join(args.out_dir, "mondo-omim-susceptibility-subset.robot.tsv"),
        order_by=["mondo_id", "omim_id"],
        subheader=SUSCEPTIBILITY_SUBHEADER,
    )
    for name, df in result.reports.items():
        write_tsv(
            df,
            os.path.join(args.out_dir, f"{name}.tsv"),
            order_by=df.columns[:1],
        )
    print(f"Build complete → {args.out_dir}")


if __name__ == "__main__":
    main()
