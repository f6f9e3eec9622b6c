"""Training-data pipeline workload: deterministic splits, domain-mix
sampling, chunking, sequence packing, PII redaction, repetition
(Gopher-style) quality stats — the corpus-preparation operators a
large-scale training pipeline runs, each oracle-checked vs DuckDB.

The sampling queries call ``omim_spark.operators.sampling``; the
others inline their expressions so the oracle SQL and the Spark plan
stay visibly in lockstep.

Scale notes per query are inline; the common theme: every sampling
decision hashes a stable key (never ``rand()``), fan-out ops are
map-side explodes, and the only shuffles are the final aggregates or
one keyed window."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sampling import (
    chunk_tokens,
    pack_contiguous,
    train_test_split,
    weighted_sample,
)
from .registry import register, table

# DuckDB mirror of operators.sampling.md5_bucket (0..255).
_BUCKET_SQL = (
    "(STRPOS('0123456789abcdef', SUBSTR(MD5(CAST({key} AS VARCHAR)), 1, 1)) - 1) * 16"
    " + STRPOS('0123456789abcdef', SUBSTR(MD5(CAST({key} AS VARCHAR)), 2, 1)) - 1"
)


@register(
    "q_train_test_split",
    oracle=f"""
    WITH b AS (
      SELECT source,
             CASE WHEN {_BUCKET_SQL.format(key='doc_id')} < 230
                  THEN 'train' ELSE 'test' END AS split,
             LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    )
    SELECT source, split, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM b GROUP BY source, split ORDER BY source, split
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split (~90/10 by md5 bucket
    of doc_id), summarized per source.  Unlike ``df.sample``, membership
    is a pure function of the key: stable across reruns, repartitions,
    and cluster sizes — the property that makes the split auditable at
    100 TB.  Operator: operators/sampling.py:train_test_split."""
    docs = train_test_split(table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


@register(
    "q_domain_mix_sample",
    oracle=f"""
    WITH w AS (
      SELECT *,
             CASE WHEN source IN ('src0','src1','src2') THEN 1.0
                  WHEN source IN ('src3','src4','src5') THEN 0.5
                  ELSE 0.25 END AS wt,
             {_BUCKET_SQL.format(key='doc_id')} AS bucket
      FROM documents
    )
    SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           MIN(doc_id) AS id_min, MAX(doc_id) AS id_max
    FROM w WHERE bucket < wt * 256
    GROUP BY source ORDER BY source
    """,
)
def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing (deterministic Bernoulli by source):
    curated sources kept at 100%, mid-tier at 50%, the crawl tail at
    25% — a pure filter expression, zero shuffles before the summary
    agg.  Operator: operators/sampling.py:weighted_sample."""
    kept = weighted_sample(
        table(spark, sf_dir, "documents"),
        key="doc_id",
        group="source",
        weights={
            "src0": 1.0, "src1": 1.0, "src2": 1.0,
            "src3": 0.5, "src4": 0.5, "src5": 0.5,
        },
        default_weight=0.25,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
            F.min("doc_id").alias("id_min"),
            F.max("doc_id").alias("id_max"),
        )
        .orderBy("source")
    )


@register(
    "q_doc_chunking",
    oracle="""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             UNNEST(GENERATE_SERIES(1, CAST(CEIL(LEN(toks) / 16.0) AS INT)))
               AS chunk_id
      FROM t
    )
    SELECT doc_id, chunk_id,
           LEN(LIST_SLICE(toks, (chunk_id - 1) * 16 + 1,
                          (chunk_id - 1) * 16 + 32)) AS n_chunk_tokens,
           MD5(ARRAY_TO_STRING(LIST_SLICE(toks, (chunk_id - 1) * 16 + 1,
                               (chunk_id - 1) * 16 + 32), ' ')) AS chunk_hash
    FROM c
    ORDER BY doc_id, chunk_id
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (size 32, stride 16) — the
    context-window fan-out step before tokenization/packing.  Chunks
    are hashed so the comparator sees bounded cells.

    Scale: explode is map-side; no shuffle except the final ORDER BY
    (which a real pipeline wouldn't have).  Operator:
    operators/sampling.py:chunk_tokens."""
    chunks = chunk_tokens(
        table(spark, sf_dir, "documents"), size=32, stride=16
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


@register(
    "q_pack_contiguous",
    oracle="""
    WITH t AS (
      SELECT source, doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT source, CAST(FLOOR(cum_before / 512.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM c GROUP BY source, pack_id ORDER BY source, pack_id
    """,
)
def q_pack_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous greedy sequence packing: within each source, lay
    documents end-to-end in doc_id order and cut a pack boundary every
    512 tokens; report docs/tokens per pack.

    Scale: one shuffle on source, then a per-group running sum —
    parallel across sources; never a global sort.  Operator:
    operators/sampling.py:pack_contiguous."""
    docs = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    packed = pack_contiguous(
        docs, group="source", order="doc_id", tokens="n_tok", capacity=512
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("pack_tokens"))
        .orderBy("source", "pack_id")
    )


@register(
    "q_pii_redaction",
    oracle=r"""
    WITH built AS (
      SELECT c_custkey,
             'contact ' || LOWER(REPLACE(c_name, '#', '.')) || '@example.com'
               || ' or 555-' || LPAD(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
               || '-' || LPAD(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || ' ref ' || c_name AS body
      FROM customer
    )
    SELECT c_custkey,
           LEN(REGEXP_EXTRACT_ALL(body,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           LEN(REGEXP_EXTRACT_ALL(body, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
           REGEXP_REPLACE(REGEXP_REPLACE(body,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted
    FROM built
    ORDER BY c_custkey
    LIMIT 1000
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (training-data pipeline op): mask emails and
    phone-shaped numbers, count matches per kind.  Patterns stay in the
    RE2-compatible subset (no lookarounds) so Java regex and DuckDB RE2
    agree character-for-character.  The email/phone corpus is
    synthesized from customer rows so both engines see identical text."""
    email_pat = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_pat = r"\b\d{3}-\d{3}-\d{4}\b"
    c = table(spark, sf_dir, "customer")
    body = F.concat(
        F.lit("contact "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        F.col("c_name"),
    )
    built = c.select("c_custkey", body.alias("body"))
    return (
        built.select(
            "c_custkey",
            F.size(F.regexp_extract_all("body", F.lit(email_pat), F.lit(0))).alias("n_email"),
            F.size(F.regexp_extract_all("body", F.lit(phone_pat), F.lit(0))).alias("n_phone"),
            F.regexp_replace(
                F.regexp_replace(F.col("body"), email_pat, "[EMAIL]"),
                phone_pat,
                "[PHONE]",
            ).alias("redacted"),
        )
        .orderBy("c_custkey")
        .limit(1000)
    )


@register(
    "q_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 2
    ),
    bg AS (
      SELECT doc_id, UNNEST(LIST_TRANSFORM(
        GENERATE_SERIES(1, LEN(toks) - 1),
        i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    ),
    counts AS (
      SELECT doc_id, bigram, COUNT(*) AS c
      FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           MAX(c) AS top_bigram_n,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
             AS dup_bigram_frac
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality stats (Gopher-rule style): per document, the
    count of the most frequent token bigram and the fraction of bigrams
    that are duplicates — the signals used to drop boilerplate and
    looping generations from a training corpus.

    Scale: explode bigrams (map-side ~1× fan-out), partial-agg on
    (doc_id, bigram), then a per-doc rollup — both aggs combine
    map-side, and doc_id is effectively unique so there is no skew."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    bigrams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bigram_n"),
            F.sum("c").alias("n_bigrams"),
            (
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
                / F.sum("c")
            ).alias("dup_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_grouped_rank_normalize",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN COUNT(*) OVER (PARTITION BY source) = 1 THEN 0.0
                ELSE CAST(RANK() OVER (PARTITION BY source ORDER BY n_chars) - 1
                          AS DOUBLE)
                     / (COUNT(*) OVER (PARTITION BY source) - 1) END AS pct_rank
    FROM documents
    ORDER BY doc_id
    """,
)
def q_grouped_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile-rank normalization of document length,
    computed by the REAL grouped-pandas path
    (operators/grouped.py:rank_normalize — groupBy(source).
    applyInPandas) and verified against the SQL window equivalent:
    rank arithmetic is integer, so the Arrow round-trip must be
    bit-identical to the oracle.

    Scale: one hash exchange on source; each group is one pandas
    frame — the many-small-groups shape applyInPandas is for."""
    from omim_spark.operators.grouped import rank_normalize

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return rank_normalize(docs, group="source", value="n_chars").select(
        "doc_id", "source", "pct_rank"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# End-to-end curation pipeline: quality -> dedup -> per-domain budget
# ---------------------------------------------------------------------------

MIN_TOKENS = 25
TOKEN_BUDGET = 600  # per-source token budget for the selected mix


@register(
    "q_pretrain_curation",
    oracle=f"""
    WITH qual AS (
      SELECT doc_id, source, text,
             LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= {MIN_TOKENS}
    ),
    dedup AS (
      SELECT * FROM (
        SELECT doc_id, source, n_tok,
               ROW_NUMBER() OVER (PARTITION BY MD5(text)
                                  ORDER BY doc_id) AS rk
        FROM qual
      ) WHERE rk = 1
    ),
    ranked AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source
                              ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_tok
      FROM dedup
    ),
    sel AS (SELECT * FROM ranked WHERE cum_tok <= {TOKEN_BUDGET})
    SELECT q.source,
           q.n_candidates,
           d.n_unique,
           COALESCE(s.n_selected, 0) AS n_selected,
           COALESCE(s.tokens_selected, 0) AS tokens_selected
    FROM (SELECT source, COUNT(*) AS n_candidates FROM qual GROUP BY source) q
    JOIN (SELECT source, COUNT(*) AS n_unique FROM dedup GROUP BY source) d
      USING (source)
    LEFT JOIN (SELECT source, COUNT(*) AS n_selected,
                      CAST(SUM(n_tok) AS BIGINT) AS tokens_selected
               FROM sel GROUP BY source) s USING (source)
    ORDER BY source
    """,
)
def q_pretrain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE declarative plan — the
    composition a pretraining data team actually ships: quality gate
    (>= {MIN_TOKENS} tokens) -> exact dedup (md5, lowest doc_id wins)
    -> deterministic per-domain token-budget selection (docs in
    md5-priority order until {TOKEN_BUDGET} tokens per source) ->
    per-source funnel report.

    Scale: every stage is shuffle-minimal — the quality gate is a scan
    predicate (pushed to parquet via n_chars when available), dedup is
    one hash shuffle with a row_number window on md5(text) (same key,
    single exchange), and the budget selection is one window per
    source whose cumulative frame is partition-local.  The selection
    hashes doc_id (never rand()), so reruns and retries pick identical
    documents — reproducibility at 100 TB is a correctness property,
    not a nicety.  Budget is per-source constant, so output size is
    O(sources), independent of corpus growth."""
    docs = table(spark, sf_dir, "documents")
    qual = (
        docs.withColumn("n_tok", F.size(F.split("text", " ")))
        .filter(F.col("n_tok") >= MIN_TOKENS)
        .select("doc_id", "source", "text", "n_tok")
    )
    w_dup = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
        "doc_id"
    )
    dedup = (
        qual.withColumn("rk", F.row_number().over(w_dup))
        .filter(F.col("rk") == 1)
        .select("doc_id", "source", "n_tok")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = dedup.withColumn("cum_tok", F.sum("n_tok").over(w_cum)).filter(
        F.col("cum_tok") <= TOKEN_BUDGET
    )
    cands = qual.groupBy("source").agg(F.count("*").alias("n_candidates"))
    uniq = dedup.groupBy("source").agg(F.count("*").alias("n_unique"))
    picked = sel.groupBy("source").agg(
        F.count("*").alias("n_selected"),
        F.sum("n_tok").cast("bigint").alias("tokens_selected"),
    )
    return (
        cands.join(uniq, "source")
        .join(picked, "source", "left")
        .select(
            "source",
            "n_candidates",
            "n_unique",
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.coalesce("tokens_selected", F.lit(0)).alias("tokens_selected"),
        )
        .orderBy("source")
    )
