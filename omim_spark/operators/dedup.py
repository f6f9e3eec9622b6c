"""Deduplication operators for training-data pipelines.

Near-duplicate tail (the workload's LSH queries build the shingles and
candidate pairs; these finish the funnel):
- jaccard_verify    — exact verification of candidate pairs only.
- near_dup_clusters — connected components over verified pairs, so
                      whole duplicate *clusters* keep one canonical
                      survivor.

Exact substring dedup (Lee et al. 2022), on the one shared
``tokenize``:
- token_spans / duplicate_spans — span census (detection).
- merged_duplicate_spans        — maximal duplicated spans per doc.
- excise_duplicate_spans        — keep-one-occurrence excision.
- clean_corpus / clean_corpus_bucketed — the rewritten corpus.
- decontaminate                 — n-gram overlap with a benchmark set.

All hashing is built-in JVM (xxhash64/md5) — no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from omim_spark.operators.checkpoint import cut_lineage


def tokenize(text_col: str = "text") -> Column:
    """The ONE tokenization used end-to-end by every dedup tier:
    single-space split, matching the DuckDB ``STRING_SPLIT(text, ' ')``
    oracles, the workload queries, and the streaming registry twin
    (`streaming/stateful.py`).  Positions produced by
    :func:`token_spans` index into exactly this array, so excision
    cuts the right tokens even on text containing tabs/newlines/runs
    of spaces (those survive inside tokens rather than silently
    shifting positions).  Normalize whitespace upstream if collapsing
    is wanted."""
    return F.split(F.col(text_col), " ")


def jaccard_verify(
    candidates: DataFrame, sh: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact Jaccard over candidate pairs only → (id_a, id_b, jaccard)
    above threshold.

    Every join side here (candidate shingles, per-doc sizes) is
    proportional to the candidate population, which on a dup-heavy
    corpus is corpus-proportional — but Catalyst's static size
    estimate for it is tiny (the semi-join selectivity guess upstream
    collapses it; measured 4.9 MiB for a table that OOM'd an 8 GB
    driver at a 100x probe), so without a hint the planner statically
    broadcasts it.  The explicit SMJ hints make the physical plan
    estimate-independent: sort-merge spills instead of OOMing, and
    AQE still handles skew within it."""
    sizes = sh.groupBy("id").agg(F.count("*").alias("n")).hint("merge")
    x, y = sh.hint("merge").alias("x"), sh.hint("merge").alias("y")
    inter = (
        candidates.join(x, F.col("x.id") == F.col("id_a"))
        .join(y, (F.col("y.id") == F.col("id_b")) & (F.col("y.s") == F.col("x.s")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id)
    with cluster_id = min member id.  Iterative min-label propagation;
    converges in O(log(diameter)) rounds — duplicate clusters are
    shallow in practice, and each round is one shuffle.

    At 100 TB this is the standard large-graph CC pattern; checkpoint
    every few rounds to bound lineage (done here via localCheckpoint).
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(
            pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .distinct()
        .transform(cut_lineage, eager=False)
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for i in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .transform(cut_lineage, eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def token_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """(id, pos, span): every length-``n`` token window with its
    1-based start position — the span-level unit of exact substring
    deduplication (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", 2022: duplicated *spans* are located and
    excisable from otherwise-unique documents, which doc-level dedup
    cannot see).

    Scale: ~|tokens| rows per document before aggregation, but
    downstream groupBys key on md5(span) — a uniform 128-bit hash, so
    no skew — and the span text itself need never shuffle (project the
    hash first)."""
    expr = (
        f"transform(sequence(1, size(tk) - {n - 1}), "
        f"i -> struct(i AS pos, concat_ws(' ', slice(tk, i, {n})) AS s))"
    )
    return (
        df.withColumn("tk", tokenize(text_col))
        .filter(F.size("tk") >= n)
        .select(F.col(id_col).alias("id"), F.explode(F.expr(expr)).alias("w"))
        .select("id", F.col("w.pos").cast("long").alias("pos"), F.col("w.s").alias("span"))
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring dedup, detection tier: spans of ``n`` tokens
    whose text occurs in at least ``min_docs`` distinct documents.
    Returns (span_hash, n_docs, n_occ, first_doc, min_pos).

    One shuffle on the 128-bit span hash; count-distinct of doc ids is
    partial-aggregated per hash."""
    sp = token_spans(df, id_col, text_col, n)
    return (
        sp.select(
            "id", "pos", F.md5(F.col("span").cast("binary")).alias("span_hash")
        )
        .groupBy("span_hash")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min("id").alias("first_doc"),
            F.min("pos").alias("min_pos"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def merged_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring dedup, excision tier: the maximal duplicated
    spans of each document.  Every length-``n`` token window whose
    text occurs in ≥ ``min_docs`` distinct documents is flagged, and
    overlapping/adjacent flagged windows are merged gaps-and-islands
    style into ``(id, span_start, span_end)`` — the unit a pipeline
    actually cuts out (Lee et al. 2022 remove the repeated *span*,
    not the whole document; :func:`duplicate_spans` is the detection
    tier that reports the corpus-wide span census).

    Two windows merge when ``pos - prev_pos <= n`` — overlapping or
    exactly adjacent, so an island's token coverage is contiguous and
    ``span_end - span_start + 1`` counts every duplicated token once.

    Scale: the window table is |tokens| rows of (id, pos, 64-bit
    hash) — longs only, no span text past the map side.  The
    duplicated-hash set is data-proportional (it grows with corpus
    redundancy), so the flag join is left to AQE — never a forced
    broadcast.  Island assembly is ONE exchange on ``id``; both
    downstream groupBys (per island, per doc) cluster on subsets led
    by ``id``, so Catalyst reuses that partitioning instead of
    re-shuffling."""
    # sp feeds BOTH the duplicated-hash census and the flag join;
    # without lineage truncation each consumer re-runs the tokenize +
    # window explode (the dominant cost) — checkpointing the narrow
    # (id, pos, h) longs-only table halves the heavy work (measured
    # −31% on the headline at sf0.1; same pattern as the LSH funnel's
    # shingle checkpoint).
    sp = token_spans(df, id_col, text_col, n).select(
        "id", "pos", F.xxhash64("span").alias("h")
    ).transform(cut_lineage, eager=False)
    dup = (
        sp.groupBy("h")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    marked = sp.join(dup, "h", "left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    grp = marked.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("island", F.sum("brk").over(w))
    return (
        grp.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
        )
        .select("id", "span_start", "span_end")
    )


def excise_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Exact substring dedup, the excision pass itself (Lee et al.
    2022 keep-one-occurrence): every duplicated length-``n`` window is
    owned by the lowest id carrying it; every other document has the
    covered tokens cut out.  Returns the AFFECTED documents as
    (id, n_before, n_after, clean_text) — an exact duplicate of an
    earlier doc excises to the empty string.

    Scale — the token text never shuffles: covered positions collapse
    to ONE sorted array per affected doc (bounded by doc length),
    joined back onto the corpus, and the rewrite is a row-local
    higher-order function over the already-scanned token array; only
    64-bit window hashes and int positions cross the wire."""
    docs = (
        df.select(F.col(id_col).alias("id"), tokenize(text_col).alias("tk"))
        .filter(F.size("tk") >= n)
    )
    # Same double-consumer shape as merged_duplicate_spans (ownership
    # census + cut join) — checkpoint the narrow span table so the
    # tokenize/explode runs once.
    sp = token_spans(df, id_col, text_col, n).select(
        "id", "pos", F.xxhash64("span").alias("h")
    ).transform(cut_lineage, eager=False)
    own = (
        sp.groupBy("h")
        .agg(
            F.count_distinct("id").alias("nd"),
            F.min("id").alias("owner"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "owner")
    )
    cut = (
        sp.join(own, "h")
        .filter(F.col("owner") != F.col("id"))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("p"),
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("p")).alias("cut"))
    )
    return docs.join(cut, "id").select(
        "id",
        F.size("tk").cast("long").alias("n_before"),
        (F.size("tk") - F.size("cut")).cast("long").alias("n_after"),
        F.expr(
            "array_join(filter(transform(tk, (x, i) -> "
            "IF(array_contains(cut, CAST(i + 1 AS BIGINT)), NULL, x)), "
            "x -> x IS NOT NULL), ' ')"
        ).alias("clean_text"),
    )


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """The cleaned corpus a substring-dedup pass actually ships:
    every input row, with ``text_col`` rewritten for the documents
    :func:`excise_duplicate_spans` touched (owners and unaffected docs
    pass through untouched — including docs shorter than ``n``
    tokens).  Schema and row count are preserved; fully-excised exact
    duplicates survive as empty-text rows for the caller to drop or
    keep as tombstones.

    Scale: one left join of the corpus against the (affected-docs
    only) excision output, keyed on the id.  On a lightly-redundant
    corpus the excised side is small, AQE broadcasts it, and the
    passthrough text never shuffles.  On a REDUNDANCY-HEAVY corpus the
    affected-doc set is corpus-proportional, the join degrades to a
    shuffle, and the full corpus text crosses the wire — the exact
    cost class the excise operator avoids internally.  The scale path
    for that regime is :func:`clean_corpus_bucketed`: a doc_id-
    bucketed corpus layout makes the rewrite join shuffle-free on the
    text side by construction."""
    fixed = excise_duplicate_spans(df, id_col, text_col, n).select(
        F.col("id").alias(id_col), F.col("clean_text")
    )
    return (
        df.join(fixed, id_col, "left")
        .withColumn(
            text_col, F.coalesce(F.col("clean_text"), F.col(text_col))
        )
        .drop("clean_text")
    )


def clean_corpus_bucketed(
    spark,
    corpus_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """:func:`clean_corpus` over a corpus stored BUCKETED by the doc
    id (``operators.bucketing.write_bucketed(df, table, id_col)``) —
    the CORPUS TEXT never crosses an Exchange, by construction and
    independent of corpus redundancy:

    - the excision pass's internal ``docs ⋈ cut`` join reads the
      bucketed table, so the token arrays never move (only the
      position/hash longs of ``cut`` shuffle to the bucket layout);
    - its output inherits the bucket partitioning on the id, so the
      final ``corpus ⋈ fixed`` left join plans with no Exchange on
      the corpus side — the text is rewritten exactly where it was
      read.  The one text-bearing thing AQE may still move (once,
      id-keyed) is ``clean_text`` — the rewritten output for the
      AFFECTED docs only, i.e. the operator's result, not the corpus.

    tests/test_runtime_plans.py asserts the executed plan: every
    Exchange keys on id/hash and no Exchange input carries the corpus
    ``text`` attribute; the 10x/100x probe rows live in SCALING.md.
    This is the layout a 100 TB substring-dedup pass should run
    against: bucketing is paid once at ingest, every span pass after
    it reads and rewrites text in place.

    Deployment rules the no-corpus-shuffle property depends on:

    - ``spark.sql.shuffle.partitions`` (or the AQE-coalesced count of
      the non-bucketed side) must not EXCEED the bucket count —
      EnsureRequirements co-partitions a mismatched join by
      re-shuffling the side with fewer partitions, and if the fixed
      side arrives wider than the table's buckets, the re-shuffled
      side is the CORPUS.  Match them (the 100 TB layout wants large
      bucket counts anyway) or set shuffle partitions ≤ n_buckets.
    - DisableUnnecessaryBucketedScan can opt out of the bucketed scan
      when runtime stats make the shuffle look cheap — only ever at
      toy sizes; at fact-table sizes the rule never fires.

    tests/test_runtime_plans.py pins both (shuffle.partitions ==
    n_buckets, autoBucketedScan off) so the assertion exercises the
    aligned deployment, and documents the failure mode."""
    df = spark.table(corpus_table)
    return clean_corpus(df, id_col, text_col, n)


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    exact ``n``-gram with a held-out benchmark corpus (the standard
    n-gram-overlap test-set-leakage check in LLM data pipelines).
    Returns (id, n_hit, n_spans, contamination_ratio) for flagged docs.

    Scale: evaluation suites are tiny relative to the corpus, so the
    distinct benchmark n-gram set is broadcast and the training side
    is a map-side semi join — no shuffle of the 100 TB side until the
    per-doc count (one exchange on doc id)."""
    t = (
        train.withColumn("tk", tokenize(text_col))
        .filter(F.size("tk") >= n)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(tk) - {n - 1}), "
                    f"i -> concat_ws(' ', slice(tk, i, {n}))))"
                )
            ).alias("s"),
        )
        .select("id", F.xxhash64("s").alias("s"))
    )
    b = (
        bench.withColumn("tk", tokenize(text_col))
        .filter(F.size("tk") >= n)
        .select(
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(tk) - {n - 1}), "
                    f"i -> concat_ws(' ', slice(tk, i, {n}))))"
                )
            ).alias("s")
        )
        .select(F.xxhash64("s").alias("s"))
        .distinct()
    )
    t = t.transform(cut_lineage, eager=False)
    hits = t.join(F.broadcast(b), "s", "left_semi").groupBy("id").agg(
        F.count("*").alias("n_hit")
    )
    sizes = t.groupBy("id").agg(F.count("*").alias("n_spans"))
    return hits.join(sizes, "id").select(
        "id",
        "n_hit",
        "n_spans",
        (F.col("n_hit").cast("double") / F.col("n_spans").cast("double")).alias(
            "contamination_ratio"
        ),
    )
