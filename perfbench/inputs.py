"""Benchmark inputs: the OMIM source fixture set, replicated N times.

``fixtures/`` is a frozen copy of the schema-faithful synthetic source
set described in FIXTURES.md.  Replica ``r`` rewrites every whole
6-digit MIM token through the injective map
``100000 + token_index * replicas + r``, so embedded references
(``MOVED TO 100100``, morbidmap's ``label, 100100 (3)``) move together
with the keyed columns and replicas share no MIM number.  Files without
MIM tokens (HGNC, curator capitalizations) are shared dimensions and
are written once.

The seed picks the line order.  Each replicated file's data lines are
a uniformly random interleaving of its replicas, and every replica
keeps its own lines in file order.  Full shuffling would be wrong here:
the build resolves ties first-wins in file order (``parse.py``'s
``row_order``), as the reference does, so only an order that keeps
each replica's internal order is an equivalent input.  Header and
comment blocks stay in place.  Every seed must therefore produce
byte-identical artifacts.
"""

from __future__ import annotations

import random
import re
from pathlib import Path

FIXTURES = Path(__file__).resolve().parent / "fixtures"

# Files whose first non-comment line is a column header (kept once);
# the #-headered OMIM txt files keep their comment block instead.
HEADER_FILES = {
    "hgnc_complete_set.txt",
    "protected-disease-gene.tsv",
    "exclusions-disease-gene.tsv",
    "known_capitalizations.tsv",
    "pubmed-refs.tsv",
    "mappings.tsv",
    "mondo_exactmatch_omim.sssom.tsv",
}

MIM_TOKEN = re.compile(r"(?<!\d)\d{6}(?!\d)")


def split_blocks(fname: str, text: str) -> tuple[list[str], list[str], list[str]]:
    """(header lines, data lines, trailing comment lines) of one file."""
    head: list[str] = []
    data: list[str] = []
    tail: list[str] = []
    for ln in text.splitlines():
        if ln.startswith("#"):
            (tail if data else head).append(ln)
        else:
            data.append(ln)
    if fname in HEADER_FILES and data:
        head.append(data.pop(0))
    return head, data, tail


def interleave(blocks: list[list[str]], rng: random.Random) -> list[str]:
    """A uniformly random merge of ``blocks`` that keeps the order of
    lines within each block."""
    order = [i for i, b in enumerate(blocks) for _ in b]
    rng.shuffle(order)
    its = [iter(b) for b in blocks]
    return [next(its[i]) for i in order]


def render(sources: dict[str, str], replicas: int, seed: int) -> dict[str, str]:
    """File name → replicated text, line order chosen by ``seed``."""
    token_idx: dict[str, int] = {}

    def remap(tok: str, r: int) -> str:
        new = 100000 + token_idx.setdefault(tok, len(token_idx)) * replicas + r
        if new > 999999:
            raise ValueError(f"6-digit MIM budget exhausted at {replicas} replicas")
        return str(new)

    out: dict[str, str] = {}
    for fname in sorted(sources):
        text = sources[fname]
        head, data, tail = split_blocks(fname, text)
        if not any(MIM_TOKEN.search(ln) for ln in data):
            out[fname] = text
            continue
        blocks = [
            [MIM_TOKEN.sub(lambda m: remap(m.group(), r), ln) for ln in data]
            for r in range(replicas)
        ]
        rng = random.Random(f"{seed}:{fname}")
        out[fname] = "\n".join(head + interleave(blocks, rng) + tail) + "\n"
    return out


def fixture_sources() -> dict[str, str]:
    return {p.name: p.read_text() for p in sorted(FIXTURES.iterdir())}


def write_inputs(out_dir: Path, replicas: int, seed: int) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for fname, text in render(fixture_sources(), replicas, seed).items():
        (out_dir / fname).write_text(text)
