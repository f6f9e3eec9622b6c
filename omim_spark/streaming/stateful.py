"""Custom stateful streaming operators (applyInPandasWithState).

The built-in streaming aggregations in ``jobs.py`` cover windowed
rollups; these operators cover the cases that need *explicit* keyed
state across micro-batches:

- ``first_seen_filter``: streaming exact dedup — emit a key's row only
  the first time the key is ever seen; later occurrences are dropped.
  This is the streaming twin of the batch ``workload/dedup.q_dedup_exact``
  and the pattern a live ingest pipeline uses to keep a corpus
  duplicate-free without re-scanning it.
- ``neardup_signature_registry``: streaming LSH signature registry
  (min-merge state, so any micro-batch split gives the same result).
- ``substring_span_registry``: streaming span-owner registry for exact
  substring dedup.
- ``streaming_curation``: quality gate plus first-seen content dedup.

State is Arrow-serialized pandas; one state row per key, sharded by
the shuffle partitioning of the group key — at scale the state store
is bounded by key cardinality, not input size.  Every operator takes
``ttl_ms``: when set, state runs under ProcessingTimeTimeout and a key
untouched for ``ttl_ms`` is EVICTED at the next micro-batch (the
wrapper removes it; a later arrival re-registers from scratch).  This
is what bounds the state store at 100 TB of stream — registries keyed
on content (span hashes, LSH signatures, content hashes) grow with
distinct content and never shrink without it.  Default None keeps
NoTimeout so batch-parity oracles stay exact.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


def _with_ttl(fn, ttl_ms: int | None):
    """Wrap a state function with processing-time TTL eviction.

    Returns (state_fn, timeoutConf).  With a TTL: a timed-out
    invocation (empty input, ``state.hasTimedOut``) removes the state
    — the key ages out and a later arrival re-registers as new; every
    data invocation re-arms the timer AFTER the inner fn has updated
    state (the inner generator is drained first — GroupState forbids
    setting a timeout on undefined state, and the inner ``update``
    happens lazily inside the generator body)."""
    if ttl_ms is None:
        return fn, GroupStateTimeout.NoTimeout

    def wrapped(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        out = list(fn(key, pdfs, state))
        if state.exists:  # a timeout cannot be armed on undefined state
            state.setTimeoutDuration(ttl_ms)
        yield from out

    return wrapped, GroupStateTimeout.ProcessingTimeTimeout

_SEEN_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("first_batch_rows", LongType()),
    ]
)
_SEEN_STATE = StructType([StructField("seen", LongType())])


def _first_seen_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n_rows = 0
    for pdf in pdfs:
        n_rows += len(pdf)
    if state.exists:
        (seen,) = state.get
        state.update((seen + n_rows,))
        return  # key already emitted once — drop
    state.update((n_rows,))
    yield pd.DataFrame({"key": [key[0]], "first_batch_rows": [n_rows]})


def first_seen_filter(
    df: DataFrame, key_col: str, ttl_ms: int | None = None
) -> DataFrame:
    """Streaming exact dedup: emit each key once, on first sight, with
    the number of rows that arrived in that first batch.  Subsequent
    arrivals only bump the (never re-emitted) state counter.

    ``ttl_ms`` turns exact lifetime dedup into windowed dedup: a key
    silent for the TTL is evicted and re-emits on return — the
    standard bounded-state form at 100 TB of stream, where "duplicate
    within N hours" is the contract a pipeline can actually keep."""
    fn, conf = _with_ttl(_first_seen_fn, ttl_ms)
    return (
        df.select(df[key_col].cast("string").alias("key"))
        .groupBy("key")
        .applyInPandasWithState(
            fn,
            outputStructType=_SEEN_OUT,
            stateStructType=_SEEN_STATE,
            outputMode="update",
            timeoutConf=conf,
        )
    )


_SIG_OUT = StructType(
    [
        StructField("band", LongType()),
        StructField("sig", StringType()),
        StructField("owner_doc", LongType()),
        StructField("n_docs", LongType()),
    ]
)
_SIG_STATE = StructType(
    [StructField("owner", LongType()), StructField("n", LongType())]
)


def _sig_registry_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    owner, n = state.get if state.exists else (None, 0)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        batch_min = int(pdf["doc_id"].min())
        owner = batch_min if owner is None else min(owner, batch_min)
    state.update((owner, n))
    yield pd.DataFrame(
        {
            "band": [key[0]],
            "sig": [key[1]],
            "owner_doc": [owner],
            "n_docs": [n],
        }
    )


def neardup_signature_registry(
    docs: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Streaming LSH near-dup registry: documents arrive as a stream,
    each computes its banded MinHash signatures ROW-LOCALLY (a pure
    stateless map — :func:`omim_spark.workload.dedup.band_signatures`,
    no shuffle before the state store), and per (band, sig) key the
    registry maintains (owner_doc = min doc_id ever seen, n_docs =
    total claims).  An ingest pipeline joins new docs against this
    registry to drop near-dups on arrival — the streaming twin of the
    batch LSH funnel (claims are min-merged, so the final state is
    IDENTICAL under any micro-batch partitioning of the stream).

    Scale: state is one (16-byte + sig) row per distinct band
    signature — proportional to distinct content, not stream length.
    ``ttl_ms`` ages out signatures no document has claimed for the
    TTL (processing-time eviction via ``_with_ttl``), bounding the
    store on an unbounded stream; a revived signature re-registers
    with a fresh owner, so with a TTL the dedup contract is
    "near-dup of anything seen in the last TTL window"."""
    from ..workload.dedup import band_signatures

    fn, conf = _with_ttl(_sig_registry_fn, ttl_ms)
    return (
        band_signatures(docs)
        .groupBy("band", "sig")
        .applyInPandasWithState(
            fn,
            outputStructType=_SIG_OUT,
            stateStructType=_SIG_STATE,
            outputMode="update",
            timeoutConf=conf,
        )
    )


_SPAN_OUT = StructType(
    [
        StructField("span_hash", StringType()),
        StructField("owner_doc", LongType()),
        StructField("n_docs", LongType()),
    ]
)
_SPAN_STATE = StructType(
    [StructField("owner", LongType()), StructField("n", LongType())]
)


def _span_registry_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    owner, n = state.get if state.exists else (None, 0)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        batch_min = int(pdf["doc_id"].min())
        owner = batch_min if owner is None else min(owner, batch_min)
    state.update((owner, n))
    yield pd.DataFrame(
        {"span_hash": [key[0]], "owner_doc": [owner], "n_docs": [n]}
    )


def substring_span_registry(
    docs: DataFrame, n: int = 8, ttl_ms: int | None = None
) -> DataFrame:
    """Streaming exact-substring registry: documents arrive as a
    stream, each computes its DISTINCT length-``n`` token-window md5
    hashes row-locally (array_distinct inside the doc's own row — a
    doc claims each span once, so the per-key claim count IS the
    distinct-document count), and per span hash the registry
    maintains (owner_doc = min doc_id ever seen, n_docs).  Keys that
    reach n_docs ≥ 2 are exactly the batch detection tier's
    duplicated windows (q_substring_spans) — this is its live twin,
    letting an ingest pipeline excise spans on arrival instead of
    re-scanning the corpus.

    Both state fields are monotone under min/count-merge, so the
    final registry is IDENTICAL under any micro-batch partitioning of
    the stream; the update-log sink collapses with MIN(owner_doc) /
    MAX(n_docs) per key.

    Scale: state is one (16-byte hash + 2 longs) row per distinct
    window — content-proportional, not stream-proportional; the span
    map is stateless and shuffle-free before the state-store
    exchange.  Content-proportional still means NEVER-SHRINKING on an
    unbounded stream, so ``ttl_ms`` is the scale path: spans no
    arriving document has re-claimed within the TTL are evicted
    (processing-time timeout, ``_with_ttl``), making the registry's
    contract "duplicated against the last TTL window of content" —
    exactly what a rolling ingest wants.  Default None keeps the
    exact batch-parity semantics the oracle checks."""
    from pyspark.sql import functions as F

    spans = (
        docs.withColumn("tk", F.split("text", " "))
        .filter(F.size("tk") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(tk) - {n - 1}), "
                    f"i -> md5(CAST(concat_ws(' ', slice(tk, i, {n})) AS BINARY))))"
                )
            ).alias("span_hash"),
        )
    )
    fn, conf = _with_ttl(_span_registry_fn, ttl_ms)
    return spans.groupBy("span_hash").applyInPandasWithState(
        fn,
        outputStructType=_SPAN_OUT,
        stateStructType=_SPAN_STATE,
        outputMode="update",
        timeoutConf=conf,
    )


_CURATE_OUT = StructType(
    [
        StructField("content_hash", StringType()),
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_tok", LongType()),
    ]
)
_CURATE_STATE = StructType([StructField("n_seen", LongType())])


def _curation_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        # Defensive: timed-out invocations are consumed by _with_ttl
        # before the inner fn runs, so an empty data invocation here
        # admits nothing and leaves state untouched.
        return
    rows = pd.concat(frames, ignore_index=True)
    n = len(rows)
    if state.exists:
        (seen,) = state.get
        state.update((seen + n,))
        return  # hash already admitted once — drop later copies
    state.update((n,))
    if n == 0:
        return
    first = rows.loc[rows["doc_id"].idxmin()]
    yield pd.DataFrame(
        {
            "content_hash": [key[0]],
            "doc_id": [int(first["doc_id"])],
            "source": [str(first["source"])],
            "n_tok": [int(first["n_tok"])],
        }
    )


def streaming_curation(
    docs: DataFrame, min_tokens: int = 25, ttl_ms: int | None = None
) -> DataFrame:
    """Streaming ingest curation: quality-gate arriving documents
    (>= ``min_tokens`` tokens — a stateless pre-filter, applied before
    any state), then admit each content hash ONCE (stateful first-seen
    dedup keyed by md5(text), min doc_id wins within the arrival
    batch).  Emits the admitted (hash, doc, source, token) rows — the
    live twin of q_pretrain_curation's quality+dedup stages.

    Scale: the pre-filter drops junk before the state-store shuffle;
    state is one counter per distinct content hash (content-
    proportional); ``ttl_ms`` evicts hashes not re-submitted within
    the TTL so the admission log is bounded on an unbounded ingest
    (a re-arriving hash after eviction is re-admitted — windowed
    dedup, the honest contract at that scale)."""
    from pyspark.sql import functions as F

    qual = (
        docs.withColumn("n_tok", F.size(F.split("text", " ")).cast("long"))
        .filter(F.col("n_tok") >= min_tokens)
        .select(
            F.md5(F.col("text").cast("binary")).alias("content_hash"),
            "doc_id",
            "source",
            "n_tok",
        )
    )
    fn, conf = _with_ttl(_curation_fn, ttl_ms)
    return qual.groupBy("content_hash").applyInPandasWithState(
        fn,
        outputStructType=_CURATE_OUT,
        stateStructType=_CURATE_STATE,
        outputMode="update",
        timeoutConf=conf,
    )
