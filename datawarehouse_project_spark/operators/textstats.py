"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting — all native expressions over ``documents``.

Everything is per-row arithmetic + one aggregation at most, so the operators
hold their shape at 100 TB: tokenization/scoring parallelizes with the scan
(no shuffle), and the final groupBys key on low-cardinality columns (lang /
source / bucket) where partial aggregation collapses nearly all rows
map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DUCK_DOCWORDS, rolling_fingerprint, words, words_sql
from ..io import spread, table
from ..plans.registry import register
from ..session import prepare

#: Tiny per-language stopword marker sets for the n-gram/stopword heuristic
#: language identifier. Deterministic, same literals on both engines.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "es": ["el", "la", "de", "los", "que", "y"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}
_LANG_ORDER = ["en", "es", "de", "fr", "zh"]  # argmax tie-break priority


def _stop_count(ws, lang: str):
    sw = LANG_STOPWORDS[lang]
    return F.size(F.filter(ws, lambda w: w.isin(sw)))


def _duck_stop_count(lang: str, ws: str = "ws") -> str:
    lits = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({ws}, w -> w IN ({lits})))"


# --------------------------------------------------------------------------
@register(
    "text_stats_by_lang",
    headline=True,
    oracle=f"""
WITH {DUCK_DOCWORDS},
per_doc AS (
    SELECT lang,
           len(ws) AS n_tokens,
           length(text) AS n_ch,
           length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct
    FROM docwords
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
       CAST(SUM(n_ch) AS BIGINT) AS total_chars,
       CAST(SUM(n_punct) AS DOUBLE) / SUM(n_ch) AS punct_ratio
FROM per_doc
GROUP BY 1
""",
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: token/char/punctuation profile.
    All per-row work is codegen'd, so the scan feeds the partial
    aggregate directly, with no spread."""
    prepare(spark)
    return spark.sql(
        f"""SELECT lang, count(*) AS n_docs, sum(n_tokens) AS total_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens,
       sum(n_ch) AS total_chars,
       CAST(sum(n_punct) AS DOUBLE) / sum(n_ch) AS punct_ratio
FROM (
    SELECT lang, size({words_sql('text')}) AS n_tokens, length(text) AS n_ch,
           length(regexp_replace(lower(text), '[a-z0-9\\\\s]', '')) AS n_punct
    FROM {{docs}}
) GROUP BY lang""",
        docs=table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
_DUCK_QUALITY = """
per_doc AS (
    SELECT doc_id,
           len(ws) AS n_tokens,
           length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
           {stop_en} AS n_stop
    FROM docwords
    WHERE len(ws) >= 1
),
scored AS (
    SELECT doc_id, n_tokens,
           0.5 * least(1.0, n_tokens / 100.0)
           + 0.3 * (CASE WHEN CAST(n_alpha AS DOUBLE) / n_tokens BETWEEN 3 AND 10
                         THEN 1.0 ELSE 0.0 END)
           + 0.2 * least(1.0, 5.0 * (CAST(n_stop AS DOUBLE) / n_tokens))
               AS quality
    FROM per_doc
)
""".format(stop_en=_duck_stop_count("en"))


@register(
    "text_quality_scores",
    driver_facing=False,  # r14 rotation: driver-green r5-r13; slot ceded
    # to fuzzy_part_link_pairs. pytest oracle remains.
    oracle=f"""
WITH {DUCK_DOCWORDS},
{_DUCK_QUALITY}
SELECT doc_id, n_tokens, quality,
       CAST(floor(quality * 10) AS INT) AS quality_bucket
FROM scored
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score: length signal + mean-word-length
    plausibility + stopword density (the classic cheap quality triad)."""
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    ws = words("text")
    per_doc = docs.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias("n_alpha"),
        _stop_count(ws, "en").alias("n_stop"),
    ).filter(F.col("n_tokens") >= 1)
    mean_wlen = F.col("n_alpha").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    quality = (
        0.5 * F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
        + 0.3 * F.when(mean_wlen.between(3, 10), 1.0).otherwise(0.0)
        + 0.2 * F.least(F.lit(1.0), 5.0 * stop_ratio)
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        quality.alias("quality"),
        F.floor(quality * 10).cast("int").alias("quality_bucket"),
    )


# --------------------------------------------------------------------------
def _duck_langid_case() -> str:
    scores = {lang: f"s_{lang}" for lang in _LANG_ORDER}
    whens = []
    for i, lang in enumerate(_LANG_ORDER):
        others = [scores[o] for o in _LANG_ORDER[i + 1 :]]
        cond = (
            " AND ".join(f"{scores[lang]} >= {o}" for o in others)
            if others
            else "TRUE"
        )
        whens.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " END"


@register(
    "text_langid_stopwords",
    driver_facing=False,  # r10 rotation: driver-green r≤9, pytest oracle retained
    oracle=f"""
WITH {DUCK_DOCWORDS},
scored AS (
    SELECT lang,
           {", ".join(f"{_duck_stop_count(lang)} AS s_{lang}" for lang in _LANG_ORDER)}
    FROM docwords
),
predicted AS (
    SELECT lang, {_duck_langid_case()} AS predicted_lang FROM scored
)
SELECT lang, predicted_lang, COUNT(*) AS n_docs
FROM predicted
GROUP BY 1, 2
""",
)
def text_langid_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language identification; output is the confusion
    matrix vs the labeled ``lang``. Argmax ties break by fixed language
    priority (en > es > de > fr > zh) — identical CASE on both engines."""
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    ws = words("text")
    scored = docs.select(
        "lang", *[_stop_count(ws, lang).alias(f"s_{lang}") for lang in _LANG_ORDER]
    )
    pred = None
    for i, lang in enumerate(_LANG_ORDER):
        others = [F.col(f"s_{o}") for o in _LANG_ORDER[i + 1 :]]
        cond = F.lit(True)
        for o in others:
            cond = cond & (F.col(f"s_{lang}") >= o)
        pred = (
            F.when(cond, lang) if pred is None else pred.when(cond, lang)
        )
    predicted = scored.select("lang", pred.alias("predicted_lang"))
    return predicted.groupBy("lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )


# --------------------------------------------------------------------------
#: BPE-ish tokenization: letter runs, digit runs, single punctuation marks —
#: the shape (not the vocab) of byte-pair tokenizers.
_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "text_token_counts",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle=f"""
WITH {DUCK_DOCWORDS}
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(ws)) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}'))) AS BIGINT)
           AS total_bpe_tokens
FROM docwords
GROUP BY 1
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens + a BPE-ish regex
    tokenizer (letter/digit runs, punctuation singletons)."""
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "source",
            F.size(words("text")).alias("n_ws"),
            F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), 0)).alias(
                "n_bpe"
            ),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "text_fingerprints",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle=f"""
WITH {DUCK_DOCWORDS}
SELECT doc_id,
       md5(text) AS content_md5,
       list_reduce(
           list_prepend(0::BIGINT,
               list_transform(ws, w -> ('0x' || substr(md5(w),1,15))::BIGINT % 2147483647)),
           (acc, x) -> (acc * 131 + x) % 2147483647) AS rolling_fp
FROM docwords
WHERE len(ws) >= 1
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content hash + order-sensitive rolling
    hash over the word sequence (detects permuted near-copies that set
    hashes miss)."""
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    ws = words("text")
    return (
        docs.withColumn("ws", ws)
        .filter(F.size("ws") >= 1)
        .select(
            "doc_id",
            F.md5("text").alias("content_md5"),
            rolling_fingerprint(F.col("ws")).alias("rolling_fp"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "text_repetition_scores",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle=f"""
WITH {DUCK_DOCWORDS},
wc AS (
    SELECT doc_id, w, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(ws) AS w FROM docwords)
    GROUP BY 1, 2
),
wagg AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           MAX(c) AS top_w
    FROM wc GROUP BY 1
),
bc AS (
    SELECT doc_id, b, COUNT(*) AS c
    FROM (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(ws) - 1),
                                       i -> ws[i] || ' ' || ws[i+1])) AS b
          FROM docwords)
    GROUP BY 1, 2
),
bagg AS (
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_b
    FROM bc GROUP BY 1
)
SELECT w.doc_id,
       w.n_words,
       w.n_distinct,
       CAST(w.n_distinct AS DOUBLE) / w.n_words AS distinct_ratio,
       CAST(w.top_w AS DOUBLE) / w.n_words AS top_word_frac,
       COALESCE(CAST(b.top_b AS DOUBLE) / b.n_bigrams, 0.0) AS top_bigram_frac,
       (CAST(w.top_w AS DOUBLE) / w.n_words > 0.125
        OR COALESCE(CAST(b.top_b AS DOUBLE) / b.n_bigrams, 0.0) > 0.04)
           AS flag_repetitious
FROM wagg w LEFT JOIN bagg b USING (doc_id)
""",
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scores per document (the Gopher-rules
    family, word-level): distinct-word ratio, top-word fraction, and
    top-bigram fraction, plus a boolean quality flag combining them.
    Boilerplate, keyword-stuffed, and template-generated text shows up as
    a high top-n-gram fraction long before perplexity filters see it.

    Plan shape: explode -> two-level hash aggregation. The (doc_id, gram)
    partial aggregation collapses repeats map-side, the per-doc rollup
    keys on doc_id alone — both uniform-hash shuffles, no skew hazard,
    and the fractions are exact integer ratios (deterministic under any
    partitioning; no float summation order in play).
    """
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", words("text").alias("ws"))
    n1 = F.greatest(F.size("ws") - 1, F.lit(0))
    wagg = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_w"),
        )
    )
    bagg = (
        base.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("ws"), 1, n1),
                    F.slice(F.col("ws"), 2, n1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_b"))
    )
    top_word_frac = F.col("top_w").cast("double") / F.col("n_words")
    top_bigram_frac = F.coalesce(
        F.col("top_b").cast("double") / F.col("n_bigrams"), F.lit(0.0)
    )
    return (
        wagg.join(bagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            (F.col("n_distinct").cast("double") / F.col("n_words")).alias(
                "distinct_ratio"
            ),
            top_word_frac.alias("top_word_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            ((top_word_frac > 0.125) | (top_bigram_frac > 0.04)).alias(
                "flag_repetitious"
            ),
        )
    )


#: Chunking geometry: 32-token windows advancing 24 tokens (8-token
#: overlap) — the shape an embedding/training pipeline feeds encoders.
CHUNK_SIZE = 32
CHUNK_STRIDE = 24


@register(
    "text_chunk_documents",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle=f"""
WITH {DUCK_DOCWORDS}
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(ws, s + 1, s + {CHUNK_SIZE})) AS BIGINT)
           AS n_tokens,
       array_to_string(list_slice(ws, s + 1, s + {CHUNK_SIZE}), ' ')
           AS chunk_text
FROM (SELECT doc_id, ws,
             unnest(generate_series(0, len(ws) - 1, {CHUNK_STRIDE})) AS s
      FROM docwords)
""",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: fixed-size token windows with
    overlap (size 32, stride 24 — ``CHUNK_SIZE``/``CHUNK_STRIDE``), the
    context-window shaping step between a raw corpus and an
    embedding/pre-training job.

    Pure per-row work — ``sequence`` generates the window starts,
    ``posexplode`` emits one row per chunk, ``slice`` cuts the window —
    so the operator fuses into the scan with no shuffle at any scale
    (the explain shows a single Generate over the scan). Output order is
    keyed (doc_id, chunk_id), deterministic.
    """
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", words("text").alias("ws"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("ws") - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.slice(F.col("ws"), F.col("s") + 1, CHUNK_SIZE)
    return (
        base.select("doc_id", "ws", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


# --------------------------------------------------------------------------
BENCHMARK_SOURCE = "src0"  # the source that plays the held-out benchmark
DECON_N = 8  # n-gram width: the standard decontamination unit


@register(
    "text_decontaminate_vs_benchmark",
    oracle=f"""
WITH d AS (
    SELECT doc_id, source,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
    FROM documents
),
g AS (
    SELECT doc_id, source,
           list_distinct(list_transform(
               generate_series(1, len(ws) - {DECON_N - 1}),
               i -> {" || ' ' || ".join(f"ws[i+{j}]" for j in range(DECON_N))}
           )) AS gs
    FROM d
    WHERE len(ws) >= {DECON_N}
),
corpus AS (
    SELECT doc_id, unnest(gs) AS g8 FROM g
    WHERE source <> '{BENCHMARK_SOURCE}'
),
bench AS (
    SELECT DISTINCT unnest(gs) AS g8 FROM g
    WHERE source = '{BENCHMARK_SOURCE}'
)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_8grams
FROM corpus c JOIN bench b USING (g8)
GROUP BY 1
""",
)
def text_decontaminate_vs_benchmark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    8-gram with a held-out benchmark set — the standard guard against
    evaluation leakage in a pre-training corpus (the ``source``
    column's '{BENCHMARK_SOURCE}' partition plays the benchmark here).
    Output: (doc_id, n_shared_8grams) for contaminated docs only.

    Scale shape: inverted-index equi-join, never pairwise — the corpus
    explodes to (doc_id, gram) rows, the benchmark side reduces to its
    DISTINCT gram set (benchmark suites are small: the join's build
    side stays broadcastable at any corpus size), and one hash
    semi-style join + per-doc count finishes it. Grams join as raw
    strings for oracle exactness; at 100 TB you would pre-hash them to
    64-bit ints to cut shuffle width — same plan shape.
    """
    from ..functions.text import word_shingles_sql, words_sql

    prepare(spark)
    base = (
        spread(spark, table(spark, sf_dir, "documents"))
        .selectExpr("doc_id", "source", f"{words_sql('text')} AS ws")
        .filter(f"size(ws) >= {DECON_N}")
        .selectExpr(
            "doc_id", "source",
            f"{word_shingles_sql('ws', n=DECON_N)} AS gs",
        )
    )
    corpus = base.filter(F.col("source") != BENCHMARK_SOURCE).select(
        "doc_id", F.explode("gs").alias("g8")
    )
    bench = (
        base.filter(F.col("source") == BENCHMARK_SOURCE)
        .select(F.explode("gs").alias("g8"))
        .distinct()
    )
    return (
        corpus.join(bench, "g8")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared_8grams"))
    )


# --------------------------------------------------------------------------
#: Corpus-wide heavy hitters: the most frequent word bigrams. Feeds stop-
#: phrase lists (the df_cap guard in dedup_ngram_jaccard_capped) and
#: boilerplate detection. Tie-break on the bigram text makes the top-k
#: CUT deterministic, not just the ordering.
TOP_BIGRAMS_K = 20


@register(
    "text_top_bigrams",
    # r17 rotation OUT (second swap): ceded the slot to
    # retrieval_rrf_fusion after five driver-green rounds (r12–r16);
    # the textstats family keeps six other driver rows and this oracle
    # still runs under pytest at both scale factors via all_queries().
    driver_facing=False,
    order_by=["-n", "bigram"],
    oracle=f"""
WITH {{docwords}},
bi AS (
    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS bigram
    FROM docwords
    WHERE len(ws) >= 2
)
SELECT bigram, COUNT(*) AS n
FROM bi
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT {TOP_BIGRAMS_K}
""".format(docwords=DUCK_DOCWORDS),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K most frequent word bigrams across the corpus (count DESC,
    bigram ASC tie-break so the cut is unique). Scale shape: the explode
    parallelizes with the scan, the count is a partial-agg groupBy on the
    bigram key, and the final top-K plans as TakeOrderedAndProject (no
    global sort of the full frequency table) — the same two-stage shape
    at any corpus size. At 100 TB you'd add one pre-aggregation on
    (partition-local bigram) before the shuffle, which the partial agg
    already is."""
    from ..functions.text import words_sql

    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    bi = (
        docs.selectExpr(f"{words_sql('text')} AS ws")
        .filter("size(ws) >= 2")
        .selectExpr(
            "explode(transform(sequence(1, size(ws) - 1), "
            "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))) AS bigram"
        )
    )
    return (
        bi.groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(TOP_BIGRAMS_K)
    )


# --------------------------------------------------------------------------
#: PII scrubbing patterns — plain character classes + bounded repetition
#: only, so the semantics are identical under Java regex (Spark) and RE2
#: (DuckDB); no lookaround, no backreferences (RE2 has neither).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    "phone": (r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}", "[PHONE]"),
}


def _spark_pat(p: str) -> str:
    """Embed a regex in a Spark SQL string literal (backslashes escape)."""
    return p.replace("\\", "\\\\")


def pii_redact_sql(col: str = "text") -> str:
    """Spark SQL expression: redact email -> ip -> phone (in that order —
    each later pattern cannot match inside an earlier placeholder)."""
    e = col
    for pat, rep in PII_PATTERNS.values():
        e = f"regexp_replace({e}, '{_spark_pat(pat)}', '{rep}')"
    return e


def _duck_redact(col: str = "text") -> str:
    e = col
    for pat, rep in PII_PATTERNS.values():
        e = f"regexp_replace({e}, '{pat}', '{rep}', 'g')"
    return e


@register(
    "text_pii_redaction",
    driver_facing=False,  # r14 rotation (second swap): driver-green
    # r8-r13; slot ceded to lexical_tfidf_from_store. pytest oracle remains.
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["email"][0]}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["ip"][0]}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["phone"][0]}')) AS BIGINT) AS n_phones,
       {_duck_redact()} AS redacted
FROM documents
""",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: per-doc counts of email / IPv4 / phone
    matches (counted on the ORIGINAL text, each pattern independently)
    plus the redacted text with typed placeholders. Pure per-row regex
    work — parallelizes with the scan, no shuffle, no UDF; the patterns
    are the RE2-compatible subset so Spark and the oracle agree
    match-for-match. The synthetic corpus is PII-free (counts 0, text
    unchanged — still an exact differential); the semantics are proven on
    seeded fixtures in tests/test_docs_pipeline.py."""
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    sel = ["doc_id"]
    for name, (pat, _rep) in PII_PATTERNS.items():
        sel.append(
            f"CAST(size(regexp_extract_all(text, '{_spark_pat(pat)}', 0)) AS BIGINT)"
            f" AS n_{name}s"
        )
    sel.append(f"{pii_redact_sql()} AS redacted")
    return docs.selectExpr(*sel)


# --------------------------------------------------------------------------
#: Tokens per packed training sequence (concat-and-chop packing).
PACK_BUDGET = 64


@register(
    "text_pack_sequences",
    oracle=f"""
WITH {{docwords}},
tok AS (
    SELECT lang, doc_id, len(ws) AS n_tokens
    FROM docwords WHERE len(ws) >= 1
),
cum AS (
    SELECT lang, doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
    FROM tok
),
spans AS (
    SELECT lang, doc_id, cum_end - n_tokens AS cum_start, cum_end FROM cum
),
packed AS (
    SELECT lang, doc_id, cum_start, cum_end,
           unnest(generate_series(CAST(floor(cum_start / {PACK_BUDGET}) AS BIGINT),
                                  CAST(floor((cum_end - 1) / {PACK_BUDGET}) AS BIGINT)))
               AS pack_id
    FROM spans
)
SELECT lang, doc_id, pack_id,
       CAST(GREATEST(cum_start, pack_id * {PACK_BUDGET})
            - pack_id * {PACK_BUDGET} AS BIGINT) AS start_tok,
       CAST(LEAST(cum_end, (pack_id + 1) * {PACK_BUDGET})
            - GREATEST(cum_start, pack_id * {PACK_BUDGET}) AS BIGINT) AS n_tok
FROM packed
""".format(docwords=DUCK_DOCWORDS),
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing — the standard LLM-pretraining
    step: per language, documents are concatenated in doc_id order and
    chopped into fixed PACK_BUDGET-token training sequences; a document
    straddling a boundary contributes spans to BOTH packs. Output: one
    row per (doc, pack) span with the span's offset and length inside the
    pack, so every pack except a language's last sums to exactly
    PACK_BUDGET tokens and every token of every doc lands in exactly one
    span (both invariants pytest-pinned).

    Scale shape: one running-sum window per language partition (the only
    shuffle) + a metadata-sized sequence/explode for boundary spans —
    native expressions end to end, no UDF, no driver loop. Packing within
    a partition key (lang here; shard id at 100 TB) is what keeps the
    window parallel — a single global order would serialize, and training
    pipelines don't need one."""
    from ..functions.text import words_sql

    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = docs.selectExpr(
        "lang", "doc_id", f"size({words_sql('text')}) AS n_tokens"
    ).filter("n_tokens >= 1")
    cum = tok.withColumn(
        "cum_end", F.sum("n_tokens").over(w).cast("bigint")
    ).withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
    spans = cum.selectExpr(
        "lang",
        "doc_id",
        "cum_start",
        "cum_end",
        f"explode(sequence(CAST(floor(cum_start / {PACK_BUDGET}) AS BIGINT), "
        f"CAST(floor((cum_end - 1) / {PACK_BUDGET}) AS BIGINT))) AS pack_id",
    )
    return spans.selectExpr(
        "lang",
        "doc_id",
        "pack_id",
        f"CAST(greatest(cum_start, pack_id * {PACK_BUDGET}) "
        f"- pack_id * {PACK_BUDGET} AS BIGINT) AS start_tok",
        f"CAST(least(cum_end, (pack_id + 1) * {PACK_BUDGET}) "
        f"- greatest(cum_start, pack_id * {PACK_BUDGET}) AS BIGINT) AS n_tok",
    )


# --------------------------------------------------------------------------
@register(
    "text_word_rarity_scores",
    oracle="""
WITH docwords AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
    FROM documents
),
tokens AS (
    SELECT doc_id, unnest(ws) AS w FROM docwords
),
df_map AS (
    SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM tokens GROUP BY w
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(m.df) AS BIGINT) AS sum_df,
       CAST(MIN(m.df) AS BIGINT) AS rarest_df
FROM tokens t JOIN df_map m ON m.w = t.w
GROUP BY t.doc_id
""",
)
def text_word_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality signal: per document, the total and
    minimum DOCUMENT FREQUENCY of its words — the integer-exact core of
    an IDF/perplexity-style rarity score. (The score itself stays in
    integers deliberately: log()/pow() are not correctly-rounded across
    libms, so a cross-engine float score could differ in the last ulp;
    the consumer divides sum_df/n_tokens or applies log at the edge.)

    Two corpus passes, both inverted-index shaped: pass 1 aggregates
    per-word document frequency (explode -> distinct -> count, partial
    aggs throughout); pass 2 joins tokens back to the df map on the word
    — a hash equi-join whose build side is the vocabulary, orders of
    magnitude smaller than the corpus, and per-doc re-aggregation. At
    100 TB the vocabulary map is the only broadcast-or-shuffle state;
    no pairwise work anywhere."""
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    tokens = docs.select("doc_id", F.explode(words("text")).alias("w"))
    df_map = tokens.groupBy("w").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    return (
        tokens.join(df_map, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("df").cast("bigint").alias("sum_df"),
            F.min("df").cast("bigint").alias("rarest_df"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "text_idf_quality_scores",
    # r10 rotation: driver-facing as a rows-only row (no oracle — the float
    # log-domain output depends on ln(), which is not correctly-rounded
    # across libms, so a cross-engine HASH gate would flake on last-ulp
    # differences); the value gate remains the tolerance-based DuckDB
    # differential in tests/test_docs_pipeline.py.
)
def text_idf_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The log-domain consumer of :func:`text_word_rarity_scores`' exact
    integer core: per document, the sum and mean of ``ln(n_docs /
    df(w))`` over its words — the standard IDF rarity/quality signal a
    corpus pipeline actually thresholds on (high mean-IDF = rare-word
    soup, likely junk; near-zero = stopword soup).

    Same two inverted-index passes as the integer form (vocabulary df
    map is the only shuffle/broadcast state, never pairwise), plus one
    broadcast 1-row corpus count; the log arithmetic is all
    Catalyst/JVM. Emitted as doubles — consumers compare against
    thresholds, so last-ulp libm divergence is immaterial (which is
    also why this twin is not in the cross-engine hash gate)."""
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tokens = docs.select("doc_id", F.explode(words("text")).alias("w"))
    df_map = tokens.groupBy("w").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    return (
        tokens.join(df_map, "w")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.log(F.col("n_docs") / F.col("df"))).alias("idf_sum"),
            (
                F.sum(F.log(F.col("n_docs") / F.col("df"))) / F.count("*")
            ).alias("idf_mean"),
        )
    )


# --------------------------------------------------------------------------
#: Per-language token budget for greedy corpus selection. Constant across
#: scale factors on purpose: the selected fraction shrinks as the corpus
#: grows, which is exactly the production shape (the budget is set by the
#: training run, not the crawl size).
TOKEN_BUDGET_PER_LANG = 2000


@register(
    "corpus_select_token_budget",
    oracle=f"""
WITH {DUCK_DOCWORDS},
{_DUCK_QUALITY},
ranked AS (
    SELECT s.doc_id, d.lang, s.n_tokens, s.quality,
           CAST(SUM(CAST(s.n_tokens AS BIGINT)) OVER (
               PARTITION BY d.lang
               ORDER BY s.quality DESC, s.doc_id
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_tokens
    FROM scored s JOIN docwords d USING (doc_id)
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
       cum_tokens
FROM ranked
WHERE cum_tokens <= {TOKEN_BUDGET_PER_LANG}
""",
)
def corpus_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection — the data-mixing step after
    scoring: per language, greedily keep the highest-quality documents
    (quality DESC, doc_id tie-break) until the language's token budget
    is spent. The standard way a training mix is assembled once
    quality/dedup signals exist: budgets per language come from the run
    recipe; the crawl is bigger than the budget by construction.

    Semantics: greedy prefix — a document is kept iff the running token
    total INCLUDING it fits the budget. The prefix sum is monotone, so
    the first overflow ends the language's selection: cheap and
    deterministic. Best-fit packing variants that skip past an
    over-budget document belong to the packer
    (:func:`text_pack_sequences`), not the selector.

    Plan: quality is the same Catalyst expression as
    :func:`text_quality_scores` (already hash-green cross-engine); the
    cumulative sum is one window PARTITIONED BY lang — partition size
    is one language's corpus slice, the natural parallel unit. At
    extreme per-language cardinality the refinement is the
    rfm-scaled precedent: an approxQuantile threshold on quality picks
    the boundary bucket, the exact window runs only inside it; not
    implemented because the window here is already partitioned (the
    RFM case was a GLOBAL NTILE)."""
    prepare(spark)
    docs = spread(spark, table(spark, sf_dir, "documents"))
    ws = words("text")
    per_doc = docs.select(
        "doc_id",
        "lang",
        F.size(ws).alias("n_tokens"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias(
            "n_alpha"
        ),
        _stop_count(ws, "en").alias("n_stop"),
    ).filter(F.col("n_tokens") >= 1)
    mean_wlen = F.col("n_alpha").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    quality = (
        0.5 * F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
        + 0.3 * F.when(mean_wlen.between(3, 10), 1.0).otherwise(0.0)
        + 0.2 * F.least(F.lit(1.0), 5.0 * stop_ratio)
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("quality"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per_doc.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        quality.alias("quality"),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_LANG)
