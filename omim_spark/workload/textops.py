"""String/date/scalar-function workload (SURVEY.md §2.7 T1-T19) plus
the text-analysis operators a training-data pipeline needs (language
ID, quality scoring, token counting, document fingerprinting) over the
``documents`` table.

Everything here is built-in JVM expressions — regexp, split, array
ops, md5 — no Python UDFs, so the whole plan stays in whole-stage
codegen and scales linearly with input splits (embarrassingly
parallel per-row work; zero shuffles except the final aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register, table
from .relational import dsum, _dsum_sql

# Tiny stopword lists for the heuristic language scorer.  Deterministic
# and shared with the oracle SQL below.
EN_STOPWORDS = ("the", "a", "and", "of", "to")


@register(
    "q_regexp_morbid_extract",
    oracle="""
    WITH built AS (
      SELECT p_partkey,
             p_name || ', ' || CAST(100000 + p_partkey AS VARCHAR)
                    || ' (' || CAST(1 + p_partkey % 4 AS VARCHAR) || ')' AS phenotype
      FROM part
    )
    SELECT p_partkey,
           TRIM(REGEXP_EXTRACT(phenotype, '^(.*), (\\d{6}) \\((\\d)\\)$', 1)) AS label,
           REGEXP_EXTRACT(phenotype, '^(.*), (\\d{6}) \\((\\d)\\)$', 2) AS mim,
           REGEXP_EXTRACT(phenotype, '^(.*), (\\d{6}) \\((\\d)\\)$', 3) AS map_key
    FROM built
    ORDER BY p_partkey
    """,
)
def q_regexp_morbid_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morbidmap phenotype-field regex (T2 — reference
    omim_txt_parser.py:449-476 extracts `(label)(mim)(key)`), run over
    a synthesized `label, 123456 (3)` column so the oracle sees the
    same strings."""
    pat = r"^(.*), (\d{6}) \((\d)\)$"
    p = table(spark, sf_dir, "part")
    built = p.select(
        "p_partkey",
        F.concat(
            F.col("p_name"),
            F.lit(", "),
            (F.lit(100000) + F.col("p_partkey")).cast("string"),
            F.lit(" ("),
            (1 + F.col("p_partkey") % 4).cast("string"),
            F.lit(")"),
        ).alias("phenotype"),
    )
    return built.select(
        "p_partkey",
        F.trim(F.regexp_extract("phenotype", pat, 1)).alias("label"),
        F.regexp_extract("phenotype", pat, 2).alias("mim"),
        F.regexp_extract("phenotype", pat, 3).alias("map_key"),
    ).orderBy("p_partkey")


@register(
    "q_token_explode_counts",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 25
    """,
)
def q_token_explode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split + explode + count (T3/T11 pack-unpack — reference
    `'|'.join`/`split('|')` at omim_txt_parser.py:569-573).

    Scale: explode fans out ~100× but stays pipelined (no shuffle
    until the partial-agg exchange on token)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(25)
    )


@register(
    "q_string_scalar_suite",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS upper_name,
           LOWER(c_name) AS lower_name,
           REPLACE(c_name, '#', '_') AS underscored,
           SPLIT_PART(c_name, '#', 2) AS name_id,
           REGEXP_REPLACE(SPLIT_PART(c_name, '#', 2), '^0+', '') AS name_id_stripped,
           LENGTH(c_name) AS name_len,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           MD5(CONCAT_WS('|', c_name, CAST(c_nationkey AS VARCHAR))) AS bnode_id,
           STARTS_WITH(c_name, 'Customer') AS is_customer
    FROM customer
    ORDER BY c_custkey
    LIMIT 500
    """,
)
def q_string_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function suite (T5 regexp_replace, T9 CURIE
    splitter `split(':')[1]`, T10 bracket strip, T12 prefix tests,
    T14 casing, T15 md5 deterministic bnode — reference
    utils/utils.py:12-78, main.py:178-186)."""
    c = table(spark, sf_dir, "customer")
    name_id = F.substring_index(F.col("c_name"), "#", -1)
    return (
        c.select(
            "c_custkey",
            F.upper("c_name").alias("upper_name"),
            F.lower("c_name").alias("lower_name"),
            F.replace(F.col("c_name"), F.lit("#"), F.lit("_")).alias("underscored"),
            name_id.alias("name_id"),
            F.regexp_replace(name_id, "^0+", "").alias("name_id_stripped"),
            F.length("c_name").alias("name_len"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.md5(
                F.concat_ws("|", F.col("c_name"), F.col("c_nationkey").cast("string"))
            ).alias("bnode_id"),
            F.col("c_name").startswith("Customer").alias("is_customer"),
        )
        .orderBy("c_custkey")
        .limit(500)
    )


@register(
    "q_dates_monthly",
    oracle=f"""
    SELECT STRFTIME(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           {_dsum_sql('o_totalprice')} AS total,
           STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
           STRFTIME(MAX(o_orderdate) + INTERVAL 1 DAY, '%Y-%m-%d') AS last_day_plus1
    FROM orders
    GROUP BY STRFTIME(o_orderdate, '%Y-%m')
    ORDER BY month
    """,
)
def q_dates_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions (T16 — reference strftime version IRIs
    main.py:254-257, date arithmetic omim_txt_parser.py:548-552):
    monthly rollup with date_format / date_add."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.date_add(F.max("o_orderdate").cast("date"), 1), "yyyy-MM-dd").alias("last_day_plus1"),
        )
        .orderBy("month")
    )


@register(
    "q_case_evidence_branch",
    oracle="""
    SELECT o_orderpriority,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'standard'
                ELSE 'bulk' END AS svc_class,
           PRINTF('Evidence: (%s) %s', SPLIT_PART(o_orderpriority, '-', 1),
                  o_orderstatus) AS evidence,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2, 3
    ORDER BY o_orderpriority, evidence
    """,
)
def q_case_evidence_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional branch + formatted evidence string (T18/T19 —
    reference main.py:440 `f'Evidence: ({key}) {label}'` and the
    SPARQL BIND(IF(...)) at disease-gene-relationships.sparql:33-39)."""
    o = table(spark, sf_dir, "orders")
    svc = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "standard")
        .otherwise("bulk")
    )
    evidence = F.format_string(
        "Evidence: (%s) %s",
        F.substring_index(F.col("o_orderpriority"), "-", 1),
        F.col("o_orderstatus"),
    )
    return (
        o.select(
            "o_orderpriority", svc.alias("svc_class"), evidence.alias("evidence")
        )
        .groupBy("o_orderpriority", "svc_class", "evidence")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority", "evidence")
    )


# ---------------------------------------------------------------------------
# Text analysis for training-data pipelines
# ---------------------------------------------------------------------------


def _stopword_hits_sql(col: str) -> str:
    toks = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return (
        f"LEN(LIST_FILTER(STRING_SPLIT({col}, ' '), t -> t IN ({toks})))"
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           LENGTH(text) AS n_chars_measured,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                / LEN(STRING_SPLIT(text, ' ')) AS avg_token_len,
           {_stopword_hits_sql('text')} AS stopword_hits,
           CAST({_stopword_hits_sql('text')} AS DOUBLE)
                / LEN(STRING_SPLIT(text, ' ')) AS stopword_ratio,
           LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_unique_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (training-data pipeline op): token
    count, average token length, stopword ratio, vocabulary size —
    all JVM array expressions, no UDF.

    Scale: per-row only; at 100 TB this is a pure map stage that
    rides whatever partitioning the scan produces."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))
    )
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tokens
        ).alias("avg_token_len"),
        stop_hits.alias("stopword_hits"),
        (stop_hits.cast("double") / n_tokens).alias("stopword_ratio"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    ).orderBy("doc_id")


@register(
    "q_lang_id_heuristic",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CASE WHEN {_stopword_hits_sql('text')} * 10
                       >= LEN(STRING_SPLIT(text, ' ')) THEN 'en'
                  ELSE 'unk' END AS predicted
      FROM documents
    )
    SELECT lang, predicted, COUNT(*) AS n
    FROM scored
    GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
)
def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (training-data pipeline op): stopword-hit
    ratio ≥ 10% → 'en'.  (A real n-gram profile model slots into the
    same per-row expression shape.)"""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    predicted = F.when(hits * 10 >= F.size(toks), "en").otherwise("unk")
    return (
        docs.select("doc_id", "lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "q_token_count_bpe",
    oracle="""
    SELECT source,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                AS BIGINT) AS bpe_ish_tokens,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (training-data pipeline op): whitespace tokens
    and a BPE-ish regex tokenizer (letters / digits / other), per
    source corpus."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            F.size(F.split("text", " ")).alias("ws"),
            F.size(
                F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
            ).alias("bpe"),
        )
        .groupBy("source")
        .agg(
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_ish_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


@register(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
             AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (training-data pipeline op): md5 over the
    sorted distinct-token set — an order-insensitive content hash used
    as a cheap pre-filter before pairwise near-dup checks."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " ")
        ).alias("fingerprint"),
    ).orderBy("doc_id")


@register(
    "q_tf_df_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM toks WHERE term <> '' GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT term, tf, df, n_docs,
           tf * (n_docs - df) AS tfidf_num
    FROM tf, n
    ORDER BY tf DESC, term
    LIMIT 100
    """,
)
def q_tf_df_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequency table — the integer core of
    TF-IDF (the log is left to the consumer so the cross-engine check
    stays exact).  Top-100 terms by collection frequency.

    Scale: explode + two partial-agged exchanges (term, then the tiny
    distinct); the doc-count side is a 1-row broadcast."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.crossJoin(F.broadcast(n))
        .select(
            "term", "tf", "df", "n_docs",
            (F.col("tf") * (F.col("n_docs") - F.col("df"))).alias("tfidf_num"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(100)
    )


# BM25 constants + the scoring expression, shared VERBATIM between the
# Spark plan (F.expr) and the DuckDB oracle so the floating-point
# evaluation order is textually identical on both engines.  Per-term
# scores round through DECIMAL(18,6) before the per-doc sum, making the
# sum order-independent (the last-ulp libm ln() difference is absorbed
# by the 6-dp rounding).
BM25_TERMS = ("join", "filter", "stream", "merge", "scan")
_BM25_EXPR = (
    "LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
    " * (tf * (1.2 + 1.0))"
    " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
)
_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "q_bm25_topk",
    oracle=f"""
    WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
    dl AS (SELECT doc_id, LEN(tk) AS dl FROM d),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    toks AS (SELECT doc_id, UNNEST(tk) AS t FROM d),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM toks
      WHERE t IN ({_TERMS_SQL}) GROUP BY doc_id, t
    ),
    dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    scored AS (
      SELECT tf.doc_id, {_BM25_EXPR} AS term_score
      FROM tf
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN dft ON tf.t = dft.t
      CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS score,
           COUNT(*) AS n_terms
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 15
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed term set,
    top-15 documents — the scoring path of a search/retrieval stage
    over a training corpus.

    Scale: tokens explode map-side and the per-(doc,term) partial agg
    combines before the shuffle; df and the corpus stats are tiny
    aggregates broadcast back onto the term-frequency table (two
    broadcast joins, one 1-row cross join); the final top-k is
    TakeOrdered, never a global sort."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    dl = docs.select("doc_id", F.size("tk").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    toks = docs.select("doc_id", F.explode("tk").alias("t"))
    tf = (
        toks.filter(F.col("t").isin(*BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dft), "t")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_EXPR).alias("term_score"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.col("term_score").cast("decimal(18,6)"))
            .cast("double")
            .alias("score"),
            F.count("*").alias("n_terms"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
    )


@register(
    "q_array_hof_zoo",
    oracle="""
    WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents)
    SELECT doc_id,
           LEN(LIST_FILTER(tk, x -> LENGTH(x) > 4)) AS n_long,
           CAST(LIST_SUM(LIST_TRANSFORM(tk, x -> LENGTH(x))) AS BIGINT) AS sum_len,
           LIST_MAX(LIST_TRANSFORM(tk, x -> LENGTH(x))) AS max_len,
           ARRAY_TO_STRING(LIST_SLICE(LIST_SORT(LIST_DISTINCT(tk)), 1, 3), '-')
             AS first3,
           LIST_CONTAINS(tk, 'the') AS has_the
    FROM d
    ORDER BY doc_id
    """,
)
def q_array_hof_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function surface (§2.7 array tier) in one
    oracle-checked sweep: lambda filter, lambda fold (aggregate),
    element-wise transform + array_max, distinct→sort→slice→join, and
    membership — every construct paired with its DuckDB list_*
    equivalent so the semantics (1-based slicing, binary string sort,
    char-wise length) are pinned cross-engine.

    Scale: all expressions are per-row whole-stage-codegen — zero
    shuffles besides the output sort; the token array is bound once
    (HOF lambdas never re-split the text)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("tk", F.split("text", " "))
        .select(
            "doc_id",
            F.expr("size(filter(tk, x -> length(x) > 4))").alias("n_long"),
            F.expr("aggregate(tk, 0L, (acc, x) -> acc + length(x))").alias(
                "sum_len"
            ),
            F.expr("array_max(transform(tk, x -> length(x)))").alias("max_len"),
            F.expr(
                "concat_ws('-', slice(array_sort(array_distinct(tk)), 1, 3))"
            ).alias("first3"),
            F.array_contains("tk", "the").alias("has_the"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Vocabulary induction: frequency-ranked vocab with coverage curve
# ---------------------------------------------------------------------------


@register(
    "q_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq),
    ranked AS (
      SELECT tok, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk,
             SUM(n) OVER (ORDER BY n DESC, tok
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM freq
    )
    SELECT target_pct,
           MIN(rk) AS vocab_size,
           CAST(MIN(cum_at) AS BIGINT) AS tokens_covered
    FROM (
      SELECT r.rk, t.pct AS target_pct,
             FIRST_VALUE(r.cum) OVER (PARTITION BY t.pct ORDER BY r.rk) AS cum_at
      FROM ranked r
      CROSS JOIN (SELECT UNNEST([50, 90, 95, 99]) AS pct) t
      CROSS JOIN tot
      WHERE r.cum * 100 >= t.pct * tot.total
    )
    GROUP BY target_pct
    ORDER BY target_pct
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction: rank words by corpus frequency
    (count desc, token asc — fully deterministic) and report, for each
    coverage target (50/90/95/99%), the smallest vocabulary size whose
    cumulative token count reaches it — the sizing curve a BPE/unigram
    tokenizer build starts from.

    Scale: word counts are ONE map-side-combinable aggregation; the
    ranking window runs over |vocab| rows (≪ corpus, Heaps' law), not
    the token stream; the coverage probe is a broadcast of 4 constants
    against the ranked vocab.  The single-partition ranking window is
    the textbook |keys|-sized rollup — at a truly huge vocab you'd
    range-partition the window by frequency band, same plan shape."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").cast("bigint").alias("total"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    ranked = freq.select(
        "tok",
        "n",
        F.row_number().over(w).alias("rk"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    targets = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (50, 90, 95, 99)])).alias(
            "target_pct"
        )
    )
    hit = (
        ranked.crossJoin(F.broadcast(targets))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cum") * 100 >= F.col("target_pct") * F.col("total"))
    )
    return (
        hit.groupBy("target_pct")
        .agg(
            F.min("rk").alias("vocab_size"),
            F.min_by("cum", "rk").cast("bigint").alias("tokens_covered"),
        )
        .orderBy("target_pct")
    )


# ---------------------------------------------------------------------------
# Feature hashing (the "hashing trick" vectorizer)
# ---------------------------------------------------------------------------

FH_DIMS = 16


@register(
    "q_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      FROM documents WHERE doc_id < 50
    ),
    hashed AS (
      SELECT doc_id,
             CAST(STRPOS('0123456789abcdef', SUBSTR(MD5(tok), 1, 1)) - 1
                  AS BIGINT) % {FH_DIMS} AS dim,
             CASE WHEN STRPOS('0123456789abcdef', SUBSTR(MD5(tok), 2, 1)) - 1 >= 8
                  THEN 1 ELSE -1 END AS sgn
      FROM toks
    )
    SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS val
    FROM hashed
    GROUP BY doc_id, dim
    HAVING SUM(sgn) <> 0
    ORDER BY doc_id, dim
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing ("hashing trick") vectorizer (Weinberger et al.
    2009): every token maps to one of {FH_DIMS} dimensions via its md5
    (first nibble mod dims) with a signed contribution (second nibble
    >= 8 -> +1 else -1, which unbiases collisions); a document's
    sparse vector is the per-dimension signed count.  Emitted as
    non-zero (doc_id, dim, val) triples for the first 50 docs.

    Scale: the vectorizer is a fixed-width projection REGARDLESS of
    vocabulary size — no vocabulary dictionary to build, broadcast, or
    keep consistent across a 1000-executor cluster (the entire point
    of the trick vs a count-vectorizer); one map-side-combinable
    aggregation on uniform (doc, dim) keys; at full width (2^18+) the
    same plan emits array columns instead of triples."""
    toks = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    h = F.md5(F.col("tok").cast("binary"))
    nib = lambda i: F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1
    hashed = toks.select(
        "doc_id",
        (nib(1).cast("bigint") % FH_DIMS).alias("dim"),
        F.when(nib(2) >= 8, 1).otherwise(-1).alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
        .orderBy("doc_id", "dim")
    )


# ---------------------------------------------------------------------------
# Positional phrase search (inverted index with positions)
# ---------------------------------------------------------------------------


@register(
    "q_phrase_search",
    oracle="""
    WITH pos0 AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                    (x, i) -> struct_pack(tok := x, p := i))) AS s
      FROM documents
    ),
    pos AS (SELECT doc_id, s.tok AS tok, CAST(s.p AS BIGINT) AS p FROM pos0),
    a AS (SELECT doc_id, p FROM pos WHERE tok = 'hash'),
    b AS (SELECT doc_id, p FROM pos WHERE tok = 'join')
    SELECT a.doc_id, COUNT(*) AS n_occurrences
    FROM a JOIN b ON b.doc_id = a.doc_id AND b.p = a.p + 1
    GROUP BY a.doc_id
    ORDER BY a.doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search ("hash join"): build the positional
    posting lists for each phrase term and join them on (doc,
    position+1) adjacency — the inverted-index primitive behind exact
    phrase queries in a search engine (BM25 ranks, this FINDS).

    Scale: posting lists are filtered to the phrase's terms BEFORE any
    shuffle (predicate on the exploded token — at 100 TB the index is
    pre-materialized partitioned by term, so this probes 2 partitions);
    the adjacency join shuffles only the two terms' postings, keyed by
    doc — never the corpus."""
    pos = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok"))
        # 1-based positions to mirror WITH ORDINALITY
        .select("doc_id", "tok", (F.col("i") + 1).cast("bigint").alias("p"))
    )
    a = pos.filter(F.col("tok") == "hash").select("doc_id", "p")
    b = pos.filter(F.col("tok") == "join").select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")
    )
    return (
        a.join(b, (F.col("doc_b") == F.col("doc_id")) & (F.col("pb") == F.col("p") + 1))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Stopword induction (document-frequency ratio)
# ---------------------------------------------------------------------------

STOPWORD_DF = 0.6  # tokens present in > 60% of documents


@register(
    "q_stopword_induction",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq
      FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
        FROM documents
      )
      GROUP BY tok
    )
    SELECT tok, doc_freq,
           ROUND(CAST(doc_freq AS DOUBLE) / n_docs, 6) AS df_ratio
    FROM df CROSS JOIN n
    WHERE CAST(doc_freq AS DOUBLE) / n_docs > {STOPWORD_DF}
    ORDER BY doc_freq DESC, tok
    """,
)
def q_stopword_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword discovery: tokens whose document
    frequency exceeds {STOPWORD_DF} of the corpus — the data-derived
    list a text pipeline feeds into quality scoring and BM25 instead
    of a hand-curated one (domain corpora have domain stopwords).

    Scale: per-(doc, token) dedup via the distinct count is one
    map-side-combinable aggregation on uniform token keys; the
    df-ratio join is a broadcast of ONE number; output is bounded by
    the (tiny) high-df vocabulary head."""
    docs = table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n_docs"))
    df = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("doc_freq"))
    )
    return (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("doc_freq").cast("double") / F.col("n_docs") > STOPWORD_DF)
        .select(
            "tok",
            "doc_freq",
            F.round(
                F.col("doc_freq").cast("double") / F.col("n_docs"), 6
            ).alias("df_ratio"),
        )
        .orderBy(F.desc("doc_freq"), "tok")
    )


# ---------------------------------------------------------------------------
# Domain characterization: top distinguishing terms per source
# ---------------------------------------------------------------------------


@register(
    "q_top_terms_per_source",
    oracle="""
    WITH toks AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT source, tok, COUNT(*) AS tf FROM toks GROUP BY source, tok),
    sdf AS (SELECT tok, COUNT(DISTINCT source) AS sdf FROM toks GROUP BY tok),
    ns AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources
           FROM documents),
    w AS (
      SELECT tf.source, tf.tok,
             CAST(tf * LN(n_sources / sdf) AS DECIMAL(18,6)) AS wt
      FROM tf JOIN sdf USING (tok) CROSS JOIN ns
    ),
    ranked AS (
      SELECT source, tok, wt,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY wt DESC, tok) AS rk
      FROM w
    )
    SELECT source, rk, tok, CAST(wt AS DOUBLE) AS weight
    FROM ranked WHERE rk <= 5
    ORDER BY source, rk
    """,
)
def q_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain characterization: the 5 most distinguishing terms per
    source by source-level TF-IDF (tf x ln(n_sources / source-df)) —
    the corpus-exploration readout a data team runs before deciding
    mixture weights.  Terms present in every source weight to zero
    and fall out naturally.

    Scale: two map-side-combinable aggregations (per-(source, term)
    tf and per-term source-df), a broadcast of one count, and a
    per-source top-k window over |sources|x|vocab| rows — never the
    token stream.  The libm LN rounds through DECIMAL(18,6) per term
    (the engine's standard bit-stability contract)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("source", "tok").agg(F.count("*").alias("tf"))
    sdf = toks.groupBy("tok").agg(F.countDistinct("source").alias("sdf"))
    ns = docs.agg(
        F.countDistinct("source").cast("double").alias("n_sources")
    )
    w = (
        tf.join(sdf, "tok")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "tok",
            (
                F.col("tf") * F.log(F.col("n_sources") / F.col("sdf"))
            )
            .cast("decimal(18,6)")
            .alias("wt"),
        )
    )
    win = Window.partitionBy("source").orderBy(F.desc("wt"), F.asc("tok"))
    return (
        w.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 5)
        .select("source", "rk", "tok", F.col("wt").cast("double").alias("weight"))
        .orderBy("source", "rk")
    )


@register(
    "q_doc_length_histogram",
    oracle="""
    WITH t AS (
      SELECT CAST(FLOOR(LOG2(LEN(STRING_SPLIT(text, ' ')))) AS BIGINT) AS bin
      FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 1
    )
    SELECT bin,
           CAST(1 << bin AS BIGINT) AS bin_min_tokens,
           COUNT(*) AS n_docs
    FROM t GROUP BY bin ORDER BY bin
    """,
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram (token counts) — the
    first chart on any corpus dashboard, and the input to chunk-size
    and packing decisions (operators/sampling.py).

    Scale: the bin is row-local integer math (floor(log2) of an exact
    integer count — both engines agree because log2 of an int is far
    from a bin edge except at exact powers, where it is exact); one
    map-side-combinable aggregation over ~30 bins."""
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    return (
        docs.filter(n_tok >= 1)
        .select(F.floor(F.log2(n_tok.cast("double"))).cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "bin",
            F.expr("shiftleft(cast(1 as bigint), cast(bin as int))").alias(
                "bin_min_tokens"
            ),
            "n_docs",
        )
        .orderBy("bin")
    )
