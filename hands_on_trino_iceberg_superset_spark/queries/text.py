"""Text-analysis operators over the documents table (north-star
extension tier; graded alongside SURVEY.md §2).

Each operator is a pure-JVM expression pipeline (no Python UDFs in
the hot path): tokenization via ``split``, higher-order array
functions for filtering/deduping tokens, ``md5`` for fingerprints.
At 100 TB these run embarrassingly parallel over document partitions
with no shuffle until the final (small) aggregation.

Ratios are computed as exact-integer counts divided as DOUBLE at the
end — deterministic on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hands_on_trino_iceberg_superset_spark.queries.base import register
from hands_on_trino_iceberg_superset_spark.sources import load_table

#: high-frequency function words used by the language-ID heuristic and
#: the quality score's stopword ratio — defined ONCE in
#: operators/textstats.py (r14: the family moved behind the SQL
#: table-function seam, so the operator module owns the definition
#: and this module derives its oracle literal from it).
from hands_on_trino_iceberg_superset_spark.operators.textstats import (  # noqa: E402,E501
    STOPWORDS,
)

_SW_SQL = "('" + "','".join(STOPWORDS) + "')"


def _tokens() -> F.Column:
    return F.split(F.col("text"), " ")


def _fingerprint() -> F.Column:
    """The document-identity fingerprint every dedup/funnel surface
    shares (same expression as operators.dedup.normalized_fingerprint
    — one definition here so the funnel's survivorship can never
    drift from the per-document fingerprint groups)."""
    from hands_on_trino_iceberg_superset_spark.operators.dedup import (
        normalized_fingerprint,
    )

    return normalized_fingerprint(F.col("text"))


def _quality_gate() -> F.Column:
    """The keep/drop quality cut over (n_tokens, n_types, n_stop)
    columns — shared by text_quality_scores and the curation funnel."""
    return (
        (F.col("n_tokens") >= 20)
        & (F.col("n_types") * 2 >= F.col("n_tokens"))
        & (F.col("n_stop") > 0)
    )


@register(
    "text_token_stats",
    oracle=f"""
    SELECT lang AS lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
             AS avg_tokens,
           CAST(sum(len(list_distinct(string_split(text, ' ')))) AS DOUBLE)
             / count(*) AS avg_distinct_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
    doc="Token counting (whitespace tokenizer): per-language corpus "
        "statistics — token totals, type counts, char volume.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_tokens())
    n_types = F.size(F.array_distinct(_tokens()))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        (F.sum(n_tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        (F.sum(n_types).cast("double") / F.count(F.lit(1))).alias(
            "avg_distinct_tokens"
        ),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id AS doc_id,
           n_tokens AS n_tokens,
           CAST(n_types AS DOUBLE) / n_tokens AS type_token_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
           (n_tokens >= 20 AND n_types * 2 >= n_tokens AND n_stop > 0)
             AS passes_quality
    FROM (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_types,
             len(list_filter(string_split(text, ' '),
                             t -> t IN {_SW_SQL})) AS n_stop
      FROM documents
    )
    """,
    doc="Per-document quality scoring: length, type/token ratio, "
        "stopword ratio, composite pass/fail gate — the standard "
        "pretraining-corpus quality filter shape.",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.operators import (
        textstats as TS,
    )

    docs = load_table(spark, sf_dir, "documents")
    return TS.quality_scores(docs, chars_col="n_chars")


#: frozen logistic quality-model weights (intercept, type/token
#: ratio, stopword ratio, avg token length, tokens/100) — a stand-in
#: for an offline-trained fastText/CCNet-style quality classifier;
#: at inference time the model is just a dot product, which is why
#: the decision threshold lives in LOGIT space below (sigmoid is
#: monotone, so sigmoid(z) > 0.5 == z > 0, and avoiding exp() keeps
#: both engines' arithmetic exactly rational -> bit-identical)
_QC_WEIGHTS = ("-3.5", "2.4", "9.0", "0.35", "0.8")


@register(
    "text_quality_classifier",
    oracle=f"""
    SELECT doc_id, source, logit, logit > CAST(0 AS DOUBLE) AS keep
    FROM (
      SELECT doc_id, source,
             CAST({_QC_WEIGHTS[0]} AS DOUBLE)
             + CAST({_QC_WEIGHTS[1]} AS DOUBLE)
               * (CAST(n_types AS DOUBLE) / n_tokens)
             + CAST({_QC_WEIGHTS[2]} AS DOUBLE)
               * (CAST(n_stop AS DOUBLE) / n_tokens)
             + CAST({_QC_WEIGHTS[3]} AS DOUBLE)
               * (CAST(n_chars AS DOUBLE) / n_tokens)
             + CAST({_QC_WEIGHTS[4]} AS DOUBLE)
               * (CAST(n_tokens AS DOUBLE) / CAST(100 AS DOUBLE))
               AS logit
      FROM (
        SELECT doc_id, source, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_types,
               len(list_filter(string_split(text, ' '),
                               t -> t IN {_SW_SQL})) AS n_stop
        FROM documents
      )
    )
    """,
    doc="Model-based quality filtering (the classifier tier above "
        "text_quality_scores' hand rules): a FROZEN-WEIGHT logistic "
        "model over engineered features — type/token ratio, stopword "
        "ratio, avg token length, length — scored per document as "
        "one dot product in the scan projection (what a "
        "fastText/CCNet-style quality classifier compiles to at "
        "inference). The keep decision is taken in LOGIT space "
        "(sigmoid is monotone, so z > 0 IS p > 0.5) — deliberately "
        "no exp(): libm exp differs across engines in the last ulp, "
        "while the rational feature arithmetic here is bit-identical "
        "on both, so the oracle hash-gates every logit exactly. "
        "Zero shuffles; at 100 TB this is a pure map.",
)
def text_quality_classifier(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    base = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.size(
            F.filter(toks, lambda t: t.isin(*STOPWORDS))
        ).alias("n_stop"),
    )
    w0, w_ttr, w_sw, w_awl, w_len = (float(w) for w in _QC_WEIGHTS)
    logit = (
        F.lit(w0)
        + F.lit(w_ttr) * (F.col("n_types").cast("double") / F.col("n_tokens"))
        + F.lit(w_sw) * (F.col("n_stop").cast("double") / F.col("n_tokens"))
        + F.lit(w_awl) * (F.col("n_chars").cast("double") / F.col("n_tokens"))
        + F.lit(w_len) * (F.col("n_tokens").cast("double")
                          / F.lit(100).cast("double"))
    )
    return base.select(
        "doc_id",
        "source",
        logit.alias("logit"),
        (logit > F.lit(0).cast("double")).alias("keep"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT lang AS labeled_lang, guessed AS guessed_lang, count(*) AS n
    FROM (
      SELECT lang,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       t -> t IN {_SW_SQL})) * 10
                       >= len(string_split(text, ' '))
                  THEN 'en' ELSE 'unknown' END AS guessed
      FROM documents
    )
    GROUP BY lang, guessed
    """,
    doc="Language-ID heuristic (stopword-density n-gram-free variant) "
        "+ confusion matrix against the labeled lang column.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.operators import (
        textstats as TS,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        TS.lang_id(docs, carry_cols=["lang"])
        .select(F.col("lang").alias("labeled_lang"), "guessed_lang")
        .groupBy("labeled_lang", "guessed_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_fingerprints",
    oracle="""
    SELECT fingerprint AS fingerprint,
           count(*) AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS fingerprint
      FROM documents
    )
    GROUP BY fingerprint
    """,
    doc="Document fingerprinting: md5 over whitespace-normalized "
        "lowercased text; groups are exact-duplicate clusters.",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = _fingerprint().alias("fingerprint")
    return (
        docs.select("doc_id", fp)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


@register(
    "text_length_histogram",
    oracle="""
    SELECT CAST(n_chars // 50 AS BIGINT) AS bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY CAST(n_chars // 50 AS BIGINT)
    """,
    doc="Corpus length histogram (50-char buckets).",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 50).cast("bigint").alias("bucket")
    return docs.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_bpe_token_estimate",
    oracle=r"""
    SELECT lang,
           CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(sum(est_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(est_bpe) AS DOUBLE) / sum(ws_tokens)
             AS bpe_per_word
    FROM (
      SELECT lang,
             len(string_split(text, ' ')) AS ws_tokens,
             list_sum(list_transform(
               regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'),
               x -> greatest(1, CAST(ceil(len(x) / 4.0) AS BIGINT))
             )) AS est_bpe
      FROM documents
    )
    GROUP BY lang
    """,
    doc="BPE-ish token counting: a GPT-style pre-tokenizer regex "
        "(letter runs | single digits | punctuation) with a "
        "~4-chars-per-subword estimate per piece — the budget "
        "estimator for LLM corpus sizing, all JVM-side regex.",
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(
        F.col("text"), F.lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), F.lit(0)
    )
    est = F.aggregate(
        pieces,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + F.greatest(F.lit(1).cast("bigint"),
                     F.ceil(F.length(x) / 4.0).cast("bigint")),
    )
    ws = F.size(F.split(F.col("text"), " "))
    per_doc = docs.select(
        "lang", ws.alias("ws_tokens"), est.alias("est_bpe")
    )
    return per_doc.groupBy("lang").agg(
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("est_bpe").alias("total_bpe_tokens"),
        (F.sum("est_bpe").cast("double") / F.sum("ws_tokens"))
        .alias("bpe_per_word"),
    )


@register(
    "text_top_tokens",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    doc="Lateral token explosion (UNNEST/explode, E1) over real text "
        "+ top-K vocabulary — plans as TakeOrderedAndProject after a "
        "partial-aggregated count.",
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "corpus_curation_funnel",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_types,
             len(list_filter(string_split(text, ' '),
                             t -> t IN {_SW_SQL})) AS n_stop,
             min(doc_id) OVER (
               PARTITION BY md5(lower(trim(
                 regexp_replace(text, '\\s+', ' ', 'g')))) ) AS keep_id
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique,
           CAST(sum(CASE WHEN doc_id = keep_id
                          AND n_tokens >= 20
                          AND n_types * 2 >= n_tokens
                          AND n_stop > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN doc_id = keep_id
                          AND n_tokens >= 20
                          AND n_types * 2 >= n_tokens
                          AND n_stop > 0 THEN n_tokens ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM scored
    GROUP BY lang
    """,
    doc="The full pretraining-corpus curation funnel as ONE "
        "declarative plan: exact-dedup survivorship (window-min over "
        "the content fingerprint — no separate join pass), the "
        "quality gate (length / type-token / stopword predicates), "
        "and per-language retention accounting with kept-token "
        "budget. Single shuffle on the fingerprint window + final "
        "small aggregation; every stage is a column expression, so "
        "Catalyst fuses the funnel into one codegen'd pass over the "
        "corpus.",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    fingerprint = _fingerprint()
    w = Window.partitionBy(fingerprint)
    scored = docs.select(
        "doc_id", "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("n_stop"),
        F.min("doc_id").over(w).alias("keep_id"),
    )
    survivor = F.col("doc_id") == F.col("keep_id")
    kept = survivor & _quality_gate()
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(survivor, 1).otherwise(0)).cast("bigint")
        .alias("n_unique"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).cast("bigint")
        .alias("kept_tokens"),
    )


@register(
    "text_unigram_commonness",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), cf AS (
      SELECT tok, count(*) AS corpus_count FROM tok GROUP BY tok
    ), scored AS (
      SELECT t.doc_id,
             count(*) AS n_tokens,
             CAST(sum(c.corpus_count) AS BIGINT) AS sum_cf
      FROM tok t JOIN cf c ON t.tok = c.tok
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, sum_cf,
           CAST(sum_cf AS DOUBLE) / n_tokens AS commonness
    FROM scored
    ORDER BY doc_id
    """,
    doc="Corpus-statistics quality score (unigram-LM commonness, the "
        "KenLM-shaped filter without transcendental math): pass 1 "
        "builds the corpus unigram frequency table (one shuffle, "
        "bounded by vocabulary size), pass 2 joins each token "
        "instance to its corpus count and aggregates per document. "
        "Documents of very common tokens score high (boilerplate), "
        "rare-token documents low (noise or novelty) — the standard "
        "two-sided quality cut. All arithmetic is exact integers "
        "until one final IEEE double division, so both engines agree "
        "bit-for-bit. No broadcast hint — Catalyst picks by size: "
        "at 100 TB the frequency table broadcasts when "
        "it fits (web vocabularies ~10^7 rows) and degrades to a "
        "shuffle join keyed by token otherwise.",
)
def text_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    cf = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("corpus_count")
    )
    # NO broadcast hint: Catalyst auto-broadcasts the frequency
    # table while it is under the threshold and degrades to a
    # shuffle join past it — a mandatory hint would force a
    # 10^7-row web vocabulary into every executor and the driver
    scored = (
        tok.join(cf, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("corpus_count").cast("bigint").alias("sum_cf"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", "sum_cf",
        (F.col("sum_cf").cast("double") / F.col("n_tokens"))
        .alias("commonness"),
    ).orderBy("doc_id")


@register(
    "text_chunking",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), c AS (
      SELECT doc_id,
             CAST((s - 1) / 40 + 1 AS BIGINT) AS chunk_idx,
             CAST(s AS BIGINT) AS start_word,
             list_slice(words, s, least(s + 49, len(words))) AS chunk
      FROM w, unnest(generate_series(1, greatest(len(words) - 49, 1), 40))
             AS t(s)
    )
    SELECT doc_id, chunk_idx, start_word,
           CAST(len(chunk) AS BIGINT) AS n_words,
           CAST(length(array_to_string(chunk, ' ')) AS BIGINT) AS n_chars
    FROM c
    """,
    doc="RAG/context-window chunking: each document splits into "
        "50-word windows with stride 40 (10-word overlap so no "
        "retrieval-relevant sentence is cut without a duplicate "
        "covering it). Pure JVM expressions — split + sequence + "
        "explode + slice — zero shuffles and zero Python: chunking "
        "100 TB is a map-only job whose output partitioning simply "
        "inherits the scan's. Emits one row per chunk with its word "
        "offset and size, the manifest a downstream embedding job "
        "consumes.",
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    w = docs.select("doc_id", words.alias("words"), n.alias("n"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n") - 49, F.lit(1)), F.lit(40)
    )
    exploded = w.select(
        "doc_id", "words", "n", F.explode(starts).alias("s")
    )
    chunk = F.slice(
        F.col("words"), F.col("s"),
        F.least(F.lit(50), F.col("n") - F.col("s") + 1),
    )
    return exploded.select(
        "doc_id",
        ((F.col("s") - 1) / 40 + 1).cast("bigint").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_word"),
        F.size(chunk).cast("bigint").alias("n_words"),
        F.length(F.array_join(chunk, " ")).cast("bigint").alias("n_chars"),
    )


def _perplexity_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, t) token rows text_perplexity_buckets scores —
    shared with its plan gate so the gate checks this very frame."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _tokens().alias("t")
    )


def _perplexity_scored(toks: DataFrame) -> DataFrame:
    """The per-document scoring subtree of text_perplexity_buckets —
    factored out (r15 optimization round) so the plan gate in
    tests/test_plans.py can assert the model-join broadcast property
    on the SAME code path even though the query stores this frame
    once (a localCheckpoint hides its plan from the outer explain)."""
    # one row per bigram occurrence; chr(1) never occurs in tokens
    bigr = (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1),"
                    "         slice(t, 2, size(t) - 1),"
                    "         (a, b) -> struct(a AS w1,"
                    "                          concat(a, char(1), b) AS bg))"
                )
            ).alias("p"),
        )
        .select("doc_id", "lang", F.col("p.w1").alias("w1"),
                F.col("p.bg").alias("bg"))
    )
    # NOTE (r15 optimization round): cb/cu are deliberately NOT
    # derived from a checkpointed bigram frame — a localCheckpoint
    # here erases the parquet-derived size estimates Catalyst needs
    # to AUTO-broadcast the vocab-bounded model tables into the
    # scoring join (plan-gated: no forced hint on cb/cu, because at
    # web scale an unprunable model may legitimately exceed the
    # broadcast cap and must be allowed to shuffle). The shared-
    # subtree win lives one level up: `scored` below is stored once.
    uni = toks.select("doc_id", "lang", F.explode("t").alias("w"))
    train_bigr = bigr.where(F.col("doc_id") % 2 == 0)
    train_uni = uni.where(F.col("doc_id") % 2 == 0)
    cb = train_bigr.groupBy("lang", "bg").agg(
        F.count(F.lit(1)).alias("cb")
    )
    cu = train_uni.groupBy("lang", "w").agg(
        F.count(F.lit(1)).alias("cu")
    )
    # |vocab| per lang == number of distinct (lang, w) rows in cu —
    # identical bigint to countDistinct(w) over train_uni, without
    # the distinct-expand pass
    vocab = cu.groupBy("lang").agg(
        F.count(F.lit(1)).alias("v")
    )
    # scoring joins: Catalyst picks broadcast vs shuffle by model
    # size (vocab-bounded after min-count pruning at real scale)
    p = (
        (F.coalesce("cb", F.lit(0)) + F.lit(0.5))
        / (F.coalesce("cu", F.lit(0))
           + F.lit(0.5) * F.coalesce("v", F.lit(1)))
    )
    term = (
        bigr.join(cb, ["lang", "bg"], "left")
        .join(cu.withColumnRenamed("w", "w1"), ["lang", "w1"], "left")
        .join(F.broadcast(vocab), ["lang"], "left")
        .select(
            "doc_id",
            "lang",
            # no training slice for this lang -> sentinel bucket, not
            # a degenerate p=1/nll=0 "best quality" score
            F.col("v").isNotNull().alias("modeled"),
            F.round(-F.log(p), 6).cast("decimal(18,6)").alias("nll6"),
        )
    )
    scored = (
        term.groupBy("doc_id", "lang")
        .agg(
            F.bool_or("modeled").alias("modeled"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("nll6").alias("nll_dec"),
        )
        .select(
            "doc_id",
            "lang",
            "modeled",
            "n_bigrams",
            F.col("nll_dec").cast("double").alias("nll"),
            F.round(
                F.col("nll_dec").cast("double") / F.col("n_bigrams"), 4
            ).alias("score"),
        )
    )
    return scored


@register(
    "text_perplexity_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), bigr AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || chr(1) || t[i + 1])) AS bg,
             unnest(list_slice(t, 1, len(t) - 1)) AS w1
      FROM toks WHERE len(t) >= 2
    ), uni AS (
      SELECT doc_id, lang, unnest(t) AS w FROM toks
    ), cb AS (
      SELECT lang, bg, count(*) AS c
      FROM bigr WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ), cu AS (
      SELECT lang, w, count(*) AS c
      FROM uni WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ), vocab AS (
      SELECT lang, count(DISTINCT w) AS v
      FROM uni WHERE doc_id % 2 = 0 GROUP BY 1
    ), term AS (
      SELECT b.doc_id, b.lang,
             vocab.v IS NOT NULL AS modeled,
             round(-ln((coalesce(cb.c, 0) + 0.5)
                       / (coalesce(cu.c, 0)
                          + 0.5 * coalesce(vocab.v, 1))), 6) AS nll6
      FROM bigr b
      LEFT JOIN cb ON cb.lang = b.lang AND cb.bg = b.bg
      LEFT JOIN cu ON cu.lang = b.lang AND cu.w = b.w1
      LEFT JOIN vocab ON vocab.lang = b.lang
    ), doc AS (
      SELECT doc_id, lang, bool_or(modeled) AS modeled,
             count(*) AS n_bigrams,
             sum(CAST(nll6 AS DECIMAL(18, 6))) AS nll
      FROM term GROUP BY 1, 2
    ), scored AS (
      SELECT doc_id, lang, modeled,
             CAST(n_bigrams AS BIGINT) AS n_bigrams,
             CAST(nll AS DOUBLE) AS nll,
             round(CAST(nll AS DOUBLE) / n_bigrams, 4) AS score
      FROM doc
    ), hist AS (
      SELECT lang, score, count(*) AS c FROM scored
      WHERE modeled GROUP BY 1, 2
    ), cum AS (
      SELECT lang, score,
             sum(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
             sum(c) OVER (PARTITION BY lang) AS n
      FROM hist
    ), th AS (
      SELECT lang,
             min(CASE WHEN cum >= ceil(n / 3.0) THEN score END) AS t1,
             min(CASE WHEN cum >= ceil(2 * n / 3.0) THEN score END) AS t2
      FROM cum GROUP BY lang
    )
    SELECT s.doc_id AS doc_id, s.lang AS lang, s.n_bigrams AS n_bigrams,
           s.nll AS nll, s.score AS score,
           CASE WHEN NOT s.modeled THEN 'unmodeled'
                WHEN s.score <= th.t1 THEN 'head'
                WHEN s.score <= th.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s LEFT JOIN th ON th.lang = s.lang
    UNION ALL
    SELECT doc_id, lang, CAST(0 AS BIGINT) AS n_bigrams,
           CAST(NULL AS DOUBLE) AS nll, CAST(NULL AS DOUBLE) AS score,
           'unscored' AS bucket
    FROM toks WHERE coalesce(len(t), 0) < 2
    """,
    doc="CCNet-style statistical quality filtering (Wenzek et al. "
        "2020): train a per-language add-alpha bigram LM on a "
        "held-in reference slice (even doc_ids), score every "
        "document's per-token negative log-likelihood, and split "
        "each language into head/middle/tail perplexity tertiles — "
        "the standard prune-the-tail signal for web-corpus "
        "curation. Reference analog: the quality tier of the "
        "seeded-pipeline datasets (compose/seed.sh:72-118 pattern "
        "of derive-then-consume artifacts). 100 TB design: model "
        "training is ONE shuffle bounded by vocab² (min-count "
        "pruning keeps real-web models broadcastable); scoring "
        "joins each bigram occurrence to the model with Catalyst "
        "free to broadcast (no forced hint); tertile thresholds "
        "come from a rounded-score HISTOGRAM (vocab-bounded "
        "cardinality, one tiny window) — no global sort, no "
        "single-partition ntile over N documents. Determinism: "
        "each bigram's nll is rounded to 6 decimals (engine libm "
        "ULP differences cannot reach the grid) then DECIMAL-summed "
        "so partial-aggregation order can never change the answer. "
        "Sentinel buckets keep the output total (one row per "
        "document, never a silent drop): docs under 2 tokens emit "
        "bucket 'unscored' (no bigram to score), and languages with "
        "zero training-slice documents emit 'unmodeled' — without "
        "it the smoothing degenerates to p=1/nll=0 and the filter "
        "would rate exactly the languages the model knows nothing "
        "about as best-quality.",
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    toks = _perplexity_tokens(spark, sf_dir)
    # per-document scoring rows, referenced by BOTH the tertile-
    # threshold histogram and the final bucket join — one stored copy
    # instead of re-running the whole scoring pipeline (tokenize +
    # bigram explode + three model joins) twice (r15 optimization
    # round: the before-plan scanned documents.parquet 9 times)
    scored = _perplexity_scored(toks).localCheckpoint(eager=False)
    # tertile thresholds from the per-lang ROUNDED-SCORE histogram:
    # the windows below run over vocab-bounded aggregate rows, never
    # over the N-document corpus
    hist = scored.where("modeled").groupBy("lang", "score").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "score",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    th = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") / 3.0), F.col("score"))
        ).alias("t1"),
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.col("n") * 2 / 3.0), F.col("score")
            )
        ).alias("t2"),
    )
    main = scored.join(F.broadcast(th), ["lang"], "left").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "nll",
        "score",
        F.when(~F.col("modeled"), F.lit("unmodeled"))
        .when(F.col("score") <= F.col("t1"), F.lit("head"))
        .when(F.col("score") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    # docs with <2 tokens have no bigram to score: keep them in the
    # output with an explicit sentinel instead of silently dropping
    short = toks.where(F.coalesce(F.size("t"), F.lit(0)) < 2).select(
        "doc_id",
        "lang",
        F.lit(0).cast("bigint").alias("n_bigrams"),
        F.lit(None).cast("double").alias("nll"),
        F.lit(None).cast("double").alias("score"),
        F.lit("unscored").alias("bucket"),
    )
    return main.unionByName(short)


@register(
    "corpus_drift_report",
    oracle="""
    WITH u AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), tk AS (
      SELECT w, count(*) AS c_all
      FROM u GROUP BY w ORDER BY c_all DESC, w LIMIT 100
    ), consts AS (
      SELECT count(*) AS k, sum(c_all) AS n_all FROM tk
    ), cs AS (
      SELECT u.source, u.w, count(*) AS c_s
      FROM u JOIN tk ON tk.w = u.w
      GROUP BY u.source, u.w
    ), grid AS (
      SELECT s.source, tk.w, tk.c_all, coalesce(cs.c_s, 0) AS c_s
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN tk
      LEFT JOIN cs ON cs.source = s.source AND cs.w = tk.w
    ), gs AS (
      SELECT g.*, consts.k, consts.n_all,
             sum(c_s) OVER (PARTITION BY source) AS n_s
      FROM grid g CROSS JOIN consts
    ), prob AS (
      SELECT source, w, c_s,
             (c_s + 1.0) / (n_s + k) AS p_s,
             (c_all + 1.0) / (n_all + k) AS p_a
      FROM gs
    ), term AS (
      SELECT source, w, c_s, p_s, p_a,
             CAST(round((p_s - p_a) * ln(p_s / p_a), 6)
                  AS DECIMAL(18, 6)) AS psi6,
             row_number() OVER (
               PARTITION BY source ORDER BY abs(p_s - p_a) DESC, w
             ) AS rk
      FROM prob
    )
    SELECT source,
           CAST(sum(CASE WHEN c_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_present,
           CAST(sum(psi6) AS DOUBLE) AS psi,
           min(CASE WHEN rk = 1 THEN w END) AS top_drift_token,
           CAST(min(CASE WHEN rk = 1 THEN round(p_s - p_a, 6) END)
                AS DOUBLE) AS top_drift_delta
    FROM term
    GROUP BY source
    ORDER BY source
    """,
    doc="Distribution-drift monitor for corpus intake: compares "
        "each source's token distribution against the whole-corpus "
        "baseline with the Population Stability Index "
        "(sum((p_s - p_all) * ln(p_s / p_all)) over the global "
        "top-K token vocabulary, add-one smoothed), plus the single "
        "most-drifting token per source — the report a pipeline "
        "gates new crawl dumps on before they enter the training "
        "mix. 100 TB design: two vocab-bounded count shuffles "
        "(global and per-source token histograms with map-side "
        "partial aggregation), then ALL remaining work runs on the "
        "sources-by-K grid (broadcast top-K, tiny windows) — "
        "per-document data is never re-shuffled and no global sort "
        "touches row-level data (top-K lowers to "
        "TakeOrderedAndProject on the aggregated histogram). "
        "Determinism: probabilities are exact-integer ratios "
        "divided once in IEEE double, PSI terms rounded to 6 "
        "decimals then DECIMAL-summed; top-K and argmax ties break "
        "on the token string.",
)
def corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    u = docs.select("source", F.explode(_tokens()).alias("w"))
    tk = (
        u.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_all"))
        .orderBy(F.desc("c_all"), F.asc("w"))
        .limit(100)
        # NOT checkpointed, adjudicated r15: tk is referenced three
        # times (consts, the cs semi-join, the grid cross join) and
        # each reference re-runs the corpus histogram + top-K, but a
        # localCheckpoint here measured consistently SLOWER (~16% at
        # sf0.1, interleaved A/B) — the checkpointed limit
        # materializes through a single-partition pass while the
        # re-planned TakeOrderedAndProject stays fully parallel and
        # the histogram jobs overlap. Leave the re-derivation.
    )
    consts = tk.agg(
        F.count(F.lit(1)).alias("k"), F.sum("c_all").alias("n_all")
    )
    # semi-join the 100-token broadcast BEFORE aggregating: the
    # shuffle then carries sources x K rows, not sources x full-vocab
    # (the discarded tail is the whole web vocabulary at real scale)
    cs = (
        u.join(F.broadcast(tk.select("w")), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c_s"))
    )
    # source names come from the documents table directly (single
    # pruned column, no re-explode of every token); relies on the
    # corpus contract that text is non-null, matching the oracle
    grid = (
        docs.select("source")
        .distinct()
        .crossJoin(F.broadcast(tk))
        .join(cs, ["source", "w"], "left")
        .select(
            "source", "w", "c_all",
            F.coalesce("c_s", F.lit(0)).alias("c_s"),
        )
        .crossJoin(F.broadcast(consts))
    )
    n_s = F.sum("c_s").over(Window.partitionBy("source"))
    prob = grid.select(
        "source",
        "w",
        "c_s",
        ((F.col("c_s") + 1.0) / (n_s + F.col("k"))).alias("p_s"),
        ((F.col("c_all") + 1.0) / (F.col("n_all") + F.col("k"))).alias(
            "p_a"
        ),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.abs(F.col("p_s") - F.col("p_a")).desc(), F.asc("w")
        )
    )
    term = prob.select(
        "source",
        "w",
        "c_s",
        "p_s",
        "p_a",
        F.round(
            (F.col("p_s") - F.col("p_a"))
            * F.log(F.col("p_s") / F.col("p_a")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("psi6"),
        rk.alias("rk"),
    )
    return (
        term.groupBy("source")
        .agg(
            F.sum(F.when(F.col("c_s") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_present"),
            F.sum("psi6").cast("double").alias("psi"),
            F.min(F.when(F.col("rk") == 1, F.col("w"))).alias(
                "top_drift_token"
            ),
            F.min(
                F.when(
                    F.col("rk") == 1,
                    F.round(F.col("p_s") - F.col("p_a"), 6),
                )
            )
            .cast("double")
            .alias("top_drift_delta"),
        )
        .orderBy("source")
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH u AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS w
      FROM documents
    ), h AS (
      SELECT lang, w, count(*) AS c FROM u GROUP BY 1, 2
    ), tot AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size
      FROM h GROUP BY lang
    ), rk AS (
      SELECT lang, w, c,
             row_number() OVER (PARTITION BY lang
                                ORDER BY c DESC, w) AS r
      FROM h
    ), pts AS (
      SELECT lang, w, c, r,
             CAST(round(ln(r), 6) AS DECIMAL(18, 6)) AS x,
             CAST(round(ln(c), 6) AS DECIMAL(18, 6)) AS y
      FROM rk WHERE r <= 1000
    ), fit AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_pts,
             sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x * y AS DECIMAL(24, 12))) AS sxy,
             sum(CAST(x * x AS DECIMAL(24, 12))) AS sxx,
             min(CASE WHEN r = 1 THEN w END) AS top_token,
             CAST(min(CASE WHEN r = 1 THEN c END) AS BIGINT)
               AS top_count
      FROM pts GROUP BY lang
    )
    SELECT f.lang AS lang, t.n_tokens, t.vocab_size,
           f.top_token, f.top_count,
           round((f.n_pts * CAST(f.sxy AS DOUBLE)
                  - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
                 / nullif(f.n_pts * CAST(f.sxx AS DOUBLE)
                          - CAST(f.sx AS DOUBLE)
                            * CAST(f.sx AS DOUBLE), 0.0),
                 4) AS zipf_slope
    FROM fit f JOIN tot t ON t.lang = f.lang
    ORDER BY lang
    """,
    doc="Zipf-law fit of the per-language vocabulary — the "
        "heavy-tail diagnostic corpus intake dashboards report "
        "(natural language fits ln(count) = a - s*ln(rank) with "
        "s ~ 1; a slope far off flags templated/spam text or "
        "tokenizer damage). Least squares over the top-1000 ranks "
        "per language, computed CLOSED-FORM from decimal sums: "
        "ln(rank)/ln(count) round to a 6-decimal grid and every "
        "moment (Sx, Sy, Sxy, Sxx) is DECIMAL-summed, so the slope "
        "is bit-identical across engines and partition orders — no "
        "regr_slope() float-accumulation nondeterminism. 100 TB "
        "design: ONE map-side-combined shuffle to the (lang, token) "
        "histogram (vocab-bounded); ranking windows and the fit run "
        "on aggregate rows only, and per-document data is never "
        "re-shuffled.",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    u = docs.select(
        "lang",
        F.explode(
            F.filter(F.split("text", " "), lambda w: w != "")
        ).alias("w"),
    )
    h = u.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = h.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )
    rk = h.select(
        "lang", "w", "c",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("w")))
        .alias("r"),
    )
    pts = rk.where(F.col("r") <= 1000).select(
        "lang", "w", "c", "r",
        F.round(F.log("r"), 6).cast("decimal(18,6)").alias("x"),
        F.round(F.log("c"), 6).cast("decimal(18,6)").alias("y"),
    )
    fit = pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pts"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(24,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(24,12)")).alias("sxx"),
        F.min(F.when(F.col("r") == 1, F.col("w"))).alias("top_token"),
        F.min(F.when(F.col("r") == 1, F.col("c")))
        .cast("bigint")
        .alias("top_count"),
    )
    # nullif keeps Spark and DuckDB agreeing on the degenerate
    # one-distinct-token stratum: both emit NULL, never NULL-vs-NaN
    slope = F.round(
        (
            F.col("n_pts") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / F.nullif(
            F.col("n_pts") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double"),
            F.lit(0.0),
        ),
        4,
    )
    return (
        fit.join(F.broadcast(tot), "lang")
        .select(
            "lang", "n_tokens", "vocab_size", "top_token", "top_count",
            slope.alias("zipf_slope"),
        )
        .orderBy("lang")
    )


@register(
    "text_shingle_novelty",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, sp
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, len(string_split(text, ' ')) - 2),
                 i -> array_to_string(
                        list_slice(string_split(text, ' '), i, i + 2),
                        ' '))) AS sp
        FROM documents
      )
    ),
    owner AS (
      SELECT sp, min(doc_id) AS first_doc FROM sh GROUP BY sp
    )
    SELECT s.doc_id,
           count(*) AS n_shingles,
           CAST(count(*) FILTER (WHERE o.first_doc = s.doc_id)
                AS BIGINT) AS n_novel,
           CAST(count(*) FILTER (WHERE o.first_doc = s.doc_id)
                AS DOUBLE) / count(*) AS novelty
    FROM sh s JOIN owner o ON s.sp = o.sp
    GROUP BY s.doc_id
    """,
    doc="Per-document shingle NOVELTY — the marginal-contribution "
        "signal of dedup-aware curation (what fraction of a doc's "
        "word 3-grams appears nowhere earlier in the corpus, "
        "doc_id order): each distinct shingle's first owner is a "
        "min-aggregate over the SAME single explode+shuffle as "
        "dedup_exact's fingerprint pass — one corpus-sized shuffle "
        "on the shingle hash, then a doc-grain aggregate; no pair "
        "joins, no quadratic anything, the linear complement to the "
        "containment/Jaccard pair tier. A near-dup re-publication "
        "scores ~0, boilerplate-heavy docs score low, fresh content "
        "scores ~1 — the standard greedy-selection score for "
        "dedup-aware sampling. Exact-integer ratio divides once as "
        "f64; short docs (< 3 words) have no shingles and no row on "
        "either side.",
)
def text_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.operators import (
        dedup as D,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(D.word_shingles(F.col("text"), 3)).alias("sp"),
    )
    owner = sh.groupBy("sp").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(owner, "sp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("bigint").alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id", "n_shingles", "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_shingles"))
        .alias("novelty"),
    )


# ------------------------------------------------- lexical retrieval

#: literal benchmark queries (every term exists in the corpus
#: vocabulary; q4 carries the stopword 'the' so a near-zero-idf hot
#: term is exercised). Duplicated verbatim in the oracles.
_BM25_QUERIES = (
    ("q1", "spark join window"),
    ("q2", "customer order data"),
    ("q3", "stream batch merge sort"),
    ("q4", "the fast vector scan"),
)

_BM25_Q_SQL = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)

#: shared BM25 oracle CTE chain: exact-decimal per-document scores
#: for the literal query set (k1=1.2, b=0.75; expression tree
#: parenthesized to match the Spark operator's evaluation order so
#: the 9-dp rounding sees identical doubles)
_BM25_SCORED_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
           FROM toks2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl
           FROM toks2 GROUP BY 1),
    stats AS (SELECT count(*)::BIGINT AS n,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dl),
    dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
    q(qid, qtext) AS (VALUES {_BM25_Q_SQL}),
    qt AS (SELECT DISTINCT qid,
                  unnest(string_split(qtext, ' ')) AS term FROM q),
    scored AS (
      SELECT qt.qid, tf.doc_id,
             sum(CAST(round(
               ln(1.0 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
               * ((tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / s.avgdl))),
               9) AS DECIMAL(20,9))) AS score_dec
      FROM qt
      JOIN tf USING (term)
      JOIN dft USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT qid, doc_id, score_dec,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score_dec DESC, doc_id)
               AS rank
      FROM scored
    )
"""


def _bm25_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(list(_BM25_QUERIES), ["qid", "qtext"])


@register(
    "search_bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORED_SQL}
    SELECT qid, rank, doc_id, CAST(score_dec AS DOUBLE) AS score
    FROM ranked WHERE rank <= 10
    """,
    doc="Okapi BM25 lexical top-k retrieval (the Lucene-default "
        "scoring function; operators/retrieval.py) — the lexical "
        "half of a retrieval stack next to the ANN tier, and the "
        "standard supervision-pair miner over a pretraining corpus. "
        "tf/df/dl are one tokenize-explode shuffle each (dedup_exact "
        "key class); corpus stats (N, avgdl) are ONE broadcast 1-row "
        "aggregate; the literal query set broadcasts into the "
        "postings join so scoring touches posting lists, never the "
        "corpus. Determinism: the only transcendental (idf x "
        "saturation per term) is rounded to 9 decimals and summed as "
        "exact DECIMAL, so ranking compares exact numbers on both "
        "engines; doc-id tie-break. q4 exercises a hot stopword "
        "term (near-zero idf).",
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.operators import (
        retrieval as R,
    )

    docs = load_table(spark, sf_dir, "documents")
    return R.bm25_topk(docs, _bm25_queries_df(spark), k=10)


def _anchor_lexical_queries(docs: DataFrame) -> DataFrame:
    """(qid, qtext) of the hybrid queries' anchors: every 100th
    document, queried by its first three non-empty tokens."""
    return docs.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("qid"),
        F.array_join(
            F.slice(F.filter(F.split("text", " "), lambda w: w != ""),
                    1, 3),
            " ",
        ).alias("qtext"),
    )


def _anchor_hybrid_queries(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """(qid, qtext, qvec) queries table for TABLE(hybrid_topk(...)):
    every anchor with its lexical query, and its embedding where it
    has one — a NULL ``qvec`` makes that query lexical-only."""
    return (
        _anchor_lexical_queries(docs)
        .join(emb, F.col("qid") == emb.vec_id, "left")
        .select("qid", "qtext", F.col("embedding").alias("qvec"))
    )


@register(
    "search_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_SCORED_SQL},
    anchors AS (
      SELECT d.doc_id AS qid, e.embedding::DOUBLE[] AS v
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE d.doc_id % 100 = 0
    ),
    lexq AS (
      SELECT doc_id AS qid,
             array_to_string(list_slice(
               list_filter(string_split(text, ' '), w -> w <> ''),
               1, 3), ' ') AS qtext
      FROM documents WHERE doc_id % 100 = 0
    ),
    lqt AS (SELECT DISTINCT qid,
                   unnest(string_split(qtext, ' ')) AS term
            FROM lexq),
    lscored AS (
      SELECT lqt.qid, tf.doc_id,
             sum(CAST(round(
               ln(1.0 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
               * ((tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / s.avgdl))),
               9) AS DECIMAL(20,9))) AS score_dec
      FROM lqt
      JOIN tf USING (term)
      JOIN dft USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY 1, 2
    ),
    lex AS (
      SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score_dec DESC, doc_id)
                 AS rank
        FROM lscored
      ) WHERE rank <= 10
    ),
    vec AS (
      SELECT qid, doc_id, rank FROM (
        SELECT a.qid, e.vec_id AS doc_id,
               row_number() OVER (PARTITION BY a.qid ORDER BY
                 round(list_cosine_similarity(
                   a.v, e.embedding::DOUBLE[]), 6) DESC, e.vec_id)
                 AS rank
        FROM anchors a CROSS JOIN embeddings e
      ) WHERE rank <= 10
    ),
    fused AS (
      SELECT coalesce(l.qid, v.qid) AS qid,
             coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.rank AS r_lex, v.rank AS r_vec,
             coalesce(1.0 / (60 + l.rank), 0.0)
             + coalesce(1.0 / (60 + v.rank), 0.0) AS rrf
      FROM lex l FULL OUTER JOIN vec v
        ON l.qid = v.qid AND l.doc_id = v.doc_id
    )
    SELECT qid, rank, doc_id, r_lex, r_vec, rrf FROM (
      SELECT qid, doc_id, r_lex, r_vec, rrf,
             row_number() OVER (PARTITION BY qid
                                ORDER BY rrf DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 10
    """,
    doc="HYBRID retrieval via reciprocal-rank fusion (Cormack et "
        "al., SIGIR'09): every 100th document is an anchor whose "
        "first three tokens form the lexical query and whose "
        "embedding (shared id space) forms the vector query; BM25 "
        "top-10 and exact cosine top-10 fuse as "
        "score = sum 1/(60+rank) — no cross-ranker score "
        "normalization, just integer ranks, so the fusion is exact "
        "by construction on any engine. The production combiner for "
        "lexical+vector stacks; at 100 TB the vector side swaps to "
        "the IVF probe (same ranks contract) and the lexical side "
        "stays posting-list-priced. operators/retrieval.py: "
        "bm25_topk + rrf_fuse; the oracle replays both rankers and "
        "the fusion in SQL.",
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.operators import (
        retrieval as R,
    )
    from hands_on_trino_iceberg_superset_spark.operators import (
        similarity as S,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = (
        docs.where(F.col("doc_id") % 100 == 0)
        .join(emb, docs.doc_id == emb.vec_id)
        .select(
            F.col("doc_id").alias("qid"),
            F.col("embedding").alias("qvec"),
        )
    # NOT checkpointed, adjudicated r15: anchors feed BOTH arms and a
    # localCheckpoint would share the docs-embeddings join — but it
    # also erases the stats Catalyst uses downstream (measured: the
    # fused ranking's BroadcastHashJoin degraded to SortMergeJoin and
    # min-of-6 interleaved full-bench runs read 2.19 -> 2.78 s). The
    # engine's hybrid_topk seam keeps its checkpoint because its
    # operators carry explicit broadcast hints, making it
    # strategy-neutral there.
    )
    # lexical queries from the documents alone, as in the oracle: an
    # anchor without an embedding keeps its lexical arm (the join
    # above feeds the vector arm only)
    lex = R.bm25_topk(docs, _anchor_lexical_queries(docs), k=10)
    # exact cosine ranking (the oracle's quadratic twin); IVF probe
    # is the scale swap, same (qid, rank, doc_id) contract
    pairs = (
        anchors.select("qid", "qvec")
        .crossJoin(emb.select("vec_id", "embedding"))
        .select(
            "qid", F.col("vec_id").alias("doc_id"),
            F.round(S.cosine(S.as_double(F.col("qvec")),
                             S.as_double(F.col("embedding"))), 6)
            .alias("cos"),
        )
    )
    wv = Window.partitionBy("qid").orderBy(
        F.desc("cos"), F.asc("doc_id")
    )
    vec = (
        pairs.withColumn("rank", F.row_number().over(wv))
        .where(F.col("rank") <= 10)
        .select("qid", "rank", "doc_id")
    )
    return R.rrf_fuse(lex, vec, k=10)


@register(
    "sql_bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORED_SQL}
    SELECT qid, rank, doc_id, CAST(score_dec AS DOUBLE) AS score
    FROM ranked WHERE rank <= 10
    """,
    doc="BM25 lexical search reached from PLAIN SQL — the r11 "
        "table-function seam (TABLE(ann_topk(...)), "
        "engine.py:_resolve_table_functions) extended to the "
        "retrieval family: Engine.sql resolves "
        "TABLE(bm25_topk(docs => ..., queries => ..., k => 10)) onto "
        "operators/retrieval.bm25_topk, so a wire client or BI "
        "virtual dataset can run lexical search exactly as it can "
        "vector search. The physical plan keeps the operator's "
        "shape — query terms broadcast into the postings join, the "
        "1-row corpus stats broadcast, never a cartesian (plan-gated "
        "through the SQL path in tests/test_plans.py). Same literal "
        "query set and exact-decimal scoring as search_bm25_topk; "
        "the oracle replays BM25 from scratch in SQL.",
)
def sql_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "sql_bm25_docs_v"
    )
    _bm25_queries_df(spark).createOrReplaceTempView(
        "sql_bm25_queries_v"
    )
    return Engine(spark).sql(
        "SELECT qid, rank, doc_id, score "
        "FROM TABLE(bm25_topk(docs => 'sql_bm25_docs_v', "
        "queries => 'sql_bm25_queries_v', k => 10))"
    )


#: the full hybrid-retrieval CTE chain (BM25 arm + exact-cosine arm +
#: RRF fusion + per-query rank), shared by sql_hybrid_topk's oracle
#: and the BI chart over it (queries/bi.py:bi_chart_hybrid_topk) —
#: terminal CTE ``hranked`` carries (qid, doc_id, r_lex, r_vec, rrf,
#: rank)
_HYBRID_RANKED_SQL = f"""{_BM25_SCORED_SQL},
    anchors AS (
      SELECT d.doc_id AS qid, e.embedding::DOUBLE[] AS v
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE d.doc_id % 100 = 0
    ),
    lexq AS (
      SELECT doc_id AS qid,
             array_to_string(list_slice(
               list_filter(string_split(text, ' '), w -> w <> ''),
               1, 3), ' ') AS qtext
      FROM documents WHERE doc_id % 100 = 0
    ),
    lqt AS (SELECT DISTINCT qid,
                   unnest(string_split(qtext, ' ')) AS term
            FROM lexq),
    lscored AS (
      SELECT lqt.qid, tf.doc_id,
             sum(CAST(round(
               ln(1.0 + (s.n - dft.df + 0.5) / (dft.df + 0.5))
               * ((tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / s.avgdl))),
               9) AS DECIMAL(20,9))) AS score_dec
      FROM lqt
      JOIN tf USING (term)
      JOIN dft USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY 1, 2
    ),
    lex AS (
      SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score_dec DESC, doc_id)
                 AS rank
        FROM lscored
      ) WHERE rank <= 10
    ),
    vec AS (
      SELECT qid, doc_id, rank FROM (
        SELECT a.qid, e.vec_id AS doc_id,
               row_number() OVER (PARTITION BY a.qid ORDER BY
                 round(list_cosine_similarity(
                   a.v, e.embedding::DOUBLE[]), 6) DESC, e.vec_id)
                 AS rank
        FROM anchors a JOIN embeddings e ON e.vec_id <> a.qid
      ) WHERE rank <= 10
    ),
    fused AS (
      SELECT coalesce(l.qid, v.qid) AS qid,
             coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.rank AS r_lex, v.rank AS r_vec,
             coalesce(1.0 / (60 + l.rank), 0.0)
             + coalesce(1.0 / (60 + v.rank), 0.0) AS rrf
      FROM lex l FULL OUTER JOIN vec v
        ON l.qid = v.qid AND l.doc_id = v.doc_id
    ),
    hranked AS (
      SELECT qid, doc_id, r_lex, r_vec, rrf,
             row_number() OVER (PARTITION BY qid
                                ORDER BY rrf DESC, doc_id) AS rank
      FROM fused
    )"""


@register(
    "sql_hybrid_topk",
    oracle=f"""
    WITH {_HYBRID_RANKED_SQL}
    SELECT qid, rank, doc_id, r_lex, r_vec, rrf FROM hranked
    WHERE rank <= 10
    """,
    doc="HYBRID retrieval reached from PLAIN SQL: "
        "TABLE(hybrid_topk(docs => ..., corpus => ..., "
        "queries => ..., k => 10)) resolves onto BM25 top-k + exact "
        "cosine top-k fused by reciprocal ranks (Engine.sql; "
        "operators/retrieval.rrf_fuse), completing the r11 seam so "
        "the whole lexical+vector stack is SQL/wire/BI-reachable. "
        "The queries table carries (qid, qtext, qvec): every 100th "
        "document anchors with its first three tokens and its "
        "embedding (NULL when it has none: lexical arm only), same "
        "fixture as search_hybrid_rrf. ONE stated "
        "semantic difference from that query: the SQL vector arm "
        "rides cosine_topk, which excludes self-matches "
        "(neighbor_id != query_id — an ANN store never returns the "
        "probe itself), so the oracle's vec arm joins ON "
        "e.vec_id <> a.qid. At 100 TB the vector arm swaps to "
        "index => (IVF probe, same rank contract), the lexical arm "
        "stays posting-list-priced.",
)
def sql_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    docs.createOrReplaceTempView("sql_hyb_docs_v")
    emb.createOrReplaceTempView("sql_hyb_corpus_v")
    _anchor_hybrid_queries(docs, emb).createOrReplaceTempView(
        "sql_hyb_queries_v")
    return Engine(spark).sql(
        "SELECT qid, rank, doc_id, r_lex, r_vec, rrf "
        "FROM TABLE(hybrid_topk(docs => 'sql_hyb_docs_v', "
        "corpus => 'sql_hyb_corpus_v', "
        "queries => 'sql_hyb_queries_v', k => 10))"
    )


@register(
    "sql_text_quality",
    oracle=f"""
    SELECT doc_id AS doc_id,
           n_tokens AS n_tokens,
           CAST(n_types AS DOUBLE) / n_tokens AS type_token_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
           (n_tokens >= 20 AND n_types * 2 >= n_tokens AND n_stop > 0)
             AS passes_quality
    FROM (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_types,
             len(list_filter(string_split(text, ' '),
                             t -> t IN {_SW_SQL})) AS n_stop
      FROM documents
    )
    """,
    doc="Per-document quality scoring reached from PLAIN SQL (r14: "
        "the text-analysis family joins the table-function seam): "
        "Engine.sql resolves TABLE(quality_scores(docs => ..., "
        "chars_col => 'n_chars')) onto operators/textstats."
        "quality_scores — a wire client or BI virtual dataset runs "
        "the pretraining quality filter with no Python API in the "
        "loop. Same per-document oracle as text_quality_scores "
        "(restated verbatim: the seam is hash-checked against the "
        "identical recompute). Scale: a ZERO-EXCHANGE pure map — "
        "plan-gated through the seam (no join, no shuffle).",
)
def sql_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "sql_quality_docs_v"
    )
    return Engine(spark).sql(
        "SELECT doc_id, n_tokens, type_token_ratio, stopword_ratio, "
        "avg_token_len, passes_quality "
        "FROM TABLE(quality_scores(docs => 'sql_quality_docs_v', "
        "chars_col => 'n_chars'))"
    )


@register(
    "sql_text_lang_id",
    oracle=f"""
    SELECT lang AS labeled_lang, guessed AS guessed_lang, count(*) AS n
    FROM (
      SELECT lang,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       t -> t IN {_SW_SQL})) * 10
                       >= len(string_split(text, ' '))
                  THEN 'en' ELSE 'unknown' END AS guessed
      FROM documents
    )
    GROUP BY lang, guessed
    """,
    doc="Language-ID confusion matrix from PLAIN SQL: "
        "TABLE(lang_id(docs => ..., carry_cols => 'lang')) carries "
        "the labeled lang THROUGH the per-document map, so the "
        "downstream GROUP BY needs no join back to the corpus — at "
        "100 TB the plan is one map pass plus one "
        "confusion-matrix-sized aggregate exchange (plan-gated: no "
        "join node through the seam). Oracle identical to "
        "text_lang_id's.",
)
def sql_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "sql_langid_docs_v"
    )
    return Engine(spark).sql(
        "SELECT lang AS labeled_lang, guessed_lang, count(*) AS n "
        "FROM TABLE(lang_id(docs => 'sql_langid_docs_v', "
        "carry_cols => 'lang')) "
        "GROUP BY lang, guessed_lang"
    )


@register(
    "text_repetition_gopher",
    oracle="""
    WITH wc AS (
      SELECT doc_id, source, w, count(*) AS c
      FROM (SELECT doc_id, source,
                   unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY 1, 2, 3
    ), per_doc AS (
      SELECT doc_id, source, max(c) AS top_c, sum(c) AS n_words
      FROM wc GROUP BY 1, 2
    ), grams AS (
      SELECT doc_id, len(gs) AS n_g,
             len(gs) - len(list_distinct(gs)) AS dup_g
      FROM (SELECT doc_id,
                   list_transform(range(1, len(ws)),
                                  i -> ws[i] || ' ' || ws[i + 1]) AS gs
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents))
    )
    SELECT p.source AS source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN p.top_c * 10 > p.n_words
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_top_word_flagged,
           CAST(sum(CASE WHEN g.dup_g * 20 > g.n_g
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_gram_flagged,
           CAST(sum(CASE WHEN p.top_c * 10 > p.n_words
                         OR g.dup_g * 20 > g.n_g
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(p.top_c) AS DOUBLE) / sum(p.n_words)
             AS pooled_top_word_frac,
           CAST(sum(g.dup_g) AS DOUBLE) / sum(g.n_g)
             AS pooled_dup_2gram_frac
    FROM per_doc p JOIN grams g USING (doc_id)
    GROUP BY p.source
    """,
    doc="Gopher 'fraction of duplicate n-grams' rule (Rae et al. "
        "2021, table A1) as a per-SOURCE corpus report — the "
        "complement of text_repetition_filter, which gates per-doc "
        "on the most-common-n-gram rules: here the signal is how "
        "many 2-grams are REPEATS of an earlier one (size - "
        "size(array_distinct)), aggregated per source with a "
        "top-word flag alongside. Thresholds (top word > 10% of "
        "tokens, duplicate 2-grams > 5%) are corpus-calibrated — "
        "the published cuts are for natural text and would flag "
        "nothing on this synthetic corpus. The Spark side is a "
        "ZERO-SHUFFLE per-doc map (operators/textstats.py "
        "repetition_signals: the top-word multiplicity is the "
        "longest equal-run of the SORTED token array via one "
        "aggregate() fold — linear per doc, no explode/groupBy "
        "shuffle on (doc, word) like the oracle does) followed by "
        "one tiny exchange on source. Flags compare integers "
        "(top_c * 10 > n_words), divisions happen once per group — "
        "bit-identical across engines.",
)
def text_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.operators.textstats import (
        repetition_signals,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = repetition_signals(docs, carry_cols=["source"])
    top_flag = F.col("top_word_count") * 10 > F.col("n_words")
    gram_flag = F.col("n_dup_2grams") * 20 > F.col("n_2grams")
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(top_flag.cast("long")).alias("n_top_word_flagged"),
        F.sum(gram_flag.cast("long")).alias("n_dup_gram_flagged"),
        F.sum((top_flag | gram_flag).cast("long")).alias("n_flagged"),
        (F.sum("top_word_count").cast("double")
         / F.sum("n_words")).alias("pooled_top_word_frac"),
        (F.sum("n_dup_2grams").cast("double")
         / F.sum("n_2grams")).alias("pooled_dup_2gram_frac"),
    )


@register(
    "sql_text_repetition",
    oracle="""
    WITH wc AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, max(c) AS top_c,
             CAST(sum(c) AS BIGINT) AS n_words
      FROM wc GROUP BY 1
    ), g AS (
      SELECT doc_id, len(gs) AS n_g,
             len(gs) - len(list_distinct(gs)) AS dup_g
      FROM (SELECT doc_id,
                   list_transform(range(1, len(ws)),
                                  i -> ws[i] || ' ' || ws[i + 1]) AS gs
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents))
    )
    SELECT d.doc_id AS doc_id, d.source AS source,
           t.n_words AS n_words, t.top_c AS top_word_count,
           g.n_g AS n_2grams, g.dup_g AS n_dup_2grams
    FROM documents d
    JOIN top t USING (doc_id)
    JOIN g USING (doc_id)
    """,
    doc="Per-document repetition counts reached from PLAIN SQL: "
        "Engine.sql resolves TABLE(repetition_signals(docs => ..., "
        "carry_cols => 'source')) onto operators/textstats."
        "repetition_signals — all four Gopher-rule inputs as EXACT "
        "integers, so a wire client or BI dataset can flag and "
        "aggregate engine-exactly. The oracle recomputes the top "
        "multiplicity via an explode/groupBy the Spark side "
        "deliberately avoids (sorted-run aggregate() fold: linear "
        "per doc, ZERO exchanges — plan-gated through the seam).",
)
def sql_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "sql_rep_docs_v"
    )
    return Engine(spark).sql(
        "SELECT doc_id, source, n_words, top_word_count, n_2grams, "
        "n_dup_2grams "
        "FROM TABLE(repetition_signals(docs => 'sql_rep_docs_v', "
        "carry_cols => 'source'))"
    )
