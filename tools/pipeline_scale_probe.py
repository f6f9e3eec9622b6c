"""Replicated OMIM fixture sources and one timed build over them.

``synthesize`` writes an N×-replicated mimTitles/morbidmap/... fixture
set; ``run_build`` times ``pipeline.build_graph`` through the TTL
write.  tools/pipeline_bench.py (bench.py's pipeline tier) and
tests/test_pipeline_scale.py use them.

Replication that keeps every join valid: each replica r remaps every
whole 6-digit MIM token in every source file through an injective map
``new = 100000 + token_index * R + r`` (6-digit-safe up to ~20k
replicas × ~45 distinct tokens), applied textually so embedded
references — ``MOVED TO 100100``, morbidmap's ``label, 100100 (3)``,
``PS100100`` — stride together with the keyed columns.  Files with no
MIM tokens (hgnc, known_capitalizations) are shared dims and land
once, mirroring reality: the gene/curator vocabulary is bounded while
entries grow.
"""

from __future__ import annotations

import re
import sys
import time
from pathlib import Path

# Repo-root-anchored, not cwd-relative (r9 ADVICE): the module is
# imported by tests/test_pipeline_scale.py, so path setup must not
# depend on where pytest was invoked, and sys.path mutation happens
# inside the functions that need it, not at import time.
_REPO_ROOT = Path(__file__).resolve().parent.parent


def _fixture_files() -> dict[str, str]:
    # The synthetic source set from tests/conftest.py — the
    # schema-faithful fixture (FIXTURES.md) every golden test builds
    # from.
    tests_dir = str(_REPO_ROOT / "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    from conftest import FILES

    return dict(FILES)


# Files whose first non-comment line is a column header (kept once);
# the #-headered OMIM txt files keep their comment block instead.
_HEADER_FILES = {
    "hgnc_complete_set.txt",
    "protected-disease-gene.tsv",
    "exclusions-disease-gene.tsv",
    "known_capitalizations.tsv",
    "pubmed-refs.tsv",
    "mappings.tsv",
    "mondo_exactmatch_omim.sssom.tsv",
}

_MIM_TOKEN = re.compile(r"(?<!\d)\d{6}(?!\d)")


def synthesize(out_dir: Path, replicas: int) -> None:
    """Write the replicated fixture set to ``out_dir``."""
    token_idx: dict[str, int] = {}

    def remap(tok: str, r: int) -> str:
        idx = token_idx.setdefault(tok, len(token_idx))
        new = 100000 + idx * replicas + r
        if new > 999999:
            raise ValueError(
                f"6-digit MIM budget exhausted: {len(token_idx)} tokens "
                f"x {replicas} replicas"
            )
        return str(new)

    out_dir.mkdir(parents=True, exist_ok=True)
    for fname, content in _fixture_files().items():
        lines = content.splitlines()
        head: list[str] = []
        data: list[str] = []
        tail: list[str] = []
        for ln in lines:
            if ln.startswith("#") and not data:
                head.append(ln)
            elif ln.startswith("#"):
                tail.append(ln)
            else:
                data.append(ln)
        if fname in _HEADER_FILES and data:
            head.append(data.pop(0))
        if not any(_MIM_TOKEN.search(ln) for ln in data):
            # shared dim (no MIM keys): one copy
            (out_dir / fname).write_text(content)
            continue
        out = list(head)
        for r in range(replicas):
            out.extend(
                _MIM_TOKEN.sub(lambda m: remap(m.group(), r), ln)
                for ln in data
            )
        out.extend(tail)
        (out_dir / fname).write_text("\n".join(out) + "\n")


def run_build(spark, data_dir: str, ttl_path: str) -> tuple[float, int, float]:
    """One full build: sources → graph → TTL file.  Returns
    (build+write wall seconds, triple count, write-only seconds)."""
    from omim_spark.io.writers import write_ttl
    from omim_spark.pipeline import build_graph

    t0 = time.perf_counter()
    result = build_graph(spark, data_dir, version_date="2026-01-01")
    n = result.triples.count()
    t_write0 = time.perf_counter()
    write_ttl(result.triples, ttl_path)
    t1 = time.perf_counter()
    return t1 - t0, n, t1 - t_write0

