"""Deterministic stratified sampling — reproducible corpus downsampling.

Every large-scale training-data pipeline downsamples (rebalance languages,
cap a dominant source, carve eval splits). Random sampling is the wrong
tool at 100 TB: rerunning changes the sample, engines disagree, and
adding data reshuffles previously-kept rows. The standard production
answer is HASH sampling: keep a row iff ``H(salt || key) % M < rate``.
The decision is a pure function of the row key, so the sample is stable
across reruns, engines, partitionings, AND incremental loads (new rows
don't flip old decisions) — and it needs no shuffle at all: the filter
evaluates per-row at the scan and pushes into the parquet reader's
row-group pipeline.

Per-stratum rates come as a literal map (lang -> per-mille keep rate),
the portable md5-derived hash (functions/text.py) makes the SAME rows
survive on Spark and the DuckDB oracle, and the salt isolates this hash
stream from every other doc_id-derived hash in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..functions.text import DUCK_H, portable_hash
from ..io import table
from ..plans.registry import register
from ..session import prepare

#: Per-mille keep rate per language: downsample the dominant language,
#: keep the tail languages at a higher rate — the usual rebalance shape.
SAMPLE_RATES = {"en": 200, "de": 700, "es": 700, "fr": 700, "zh": 700}
DEFAULT_RATE = 500
_SALT = "sample:"
_MOD = 1000


def _duck_rate_case() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(SAMPLE_RATES.items())
    )
    return f"CASE lang {whens} ELSE {DEFAULT_RATE} END"


@register(
    "sample_stratified_hash",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle=f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {DUCK_H.format(x=f"('{_SALT}' || CAST(doc_id AS VARCHAR))")} % {_MOD}
      < {_duck_rate_case()}
""",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample of ``documents``: keep a row iff
    the salted portable hash of its doc_id lands under its language's
    per-mille rate. Shuffle-free (per-row filter at the scan); identical
    row set on every engine, rerun, and partitioning."""
    prepare(spark)
    docs = table(spark, sf_dir, "documents")
    h = portable_hash(F.concat(F.lit(_SALT), F.col("doc_id").cast("string")))
    rate = F.lit(DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return docs.filter((h % _MOD) < rate).select(
        "doc_id", "lang", "source", "n_chars"
    )


#: Train/val/test per-mille boundaries: [0, 900) train, [900, 950) val,
#: [950, 1000) test — the standard 90/5/5 carve.
SPLIT_BOUNDS = (900, 950)
_SPLIT_SALT = "split:"


@register(
    "sample_train_val_test",
    # r10 rotation: took a window slot (VERDICT r9 next-round #1).
    # r17 rotation OUT: ceded the slot to lexical_tfidf_from_stream
    # (VERDICT r16 #5) after seven consecutive driver-green rounds
    # (r10–r16); the oracle below still runs under pytest at both
    # scale factors via all_queries().
    driver_facing=False,
    oracle=f"""
WITH h AS (
    SELECT doc_id, lang,
           {DUCK_H.format(x=f"('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR))")}
               % {_MOD} AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < {SPLIT_BOUNDS[0]} THEN 'train'
            WHEN bucket < {SPLIT_BOUNDS[1]} THEN 'val'
            ELSE 'test' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM h
GROUP BY 1, 2
""",
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: the salted portable hash
    of doc_id buckets every document into [0, 1000), carved 90/5/5. The
    same properties as the stratified sampler — stable across reruns,
    engines, partitionings, and incremental loads (a new document never
    flips an old one's split, the non-negotiable requirement for
    eval-set hygiene) — plus disjointness and exhaustiveness BY
    CONSTRUCTION (one bucket value, three non-overlapping ranges).
    Returns the per-(split, lang) census with id bounds; the per-row
    assignment is the same expression without the rollup, shuffle-free
    at any scale."""
    prepare(spark)
    docs = table(spark, sf_dir, "documents")
    h = portable_hash(
        F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))
    )
    bucket = h % _MOD
    split = (
        F.when(bucket < SPLIT_BOUNDS[0], "train")
        .when(bucket < SPLIT_BOUNDS[1], "val")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
    )


# --------------------------------------------------------------------------
#: Number of output shards for the deterministic corpus shuffle.
N_SHARDS = 16
_SHARD_SALT = "shard:"


@register(
    "corpus_shard_assignments",
    driver_facing=False,  # r12 rotation: driver-green r10+r11; sampling
    # family keeps sample_train_val_test + sample_lang_temperature rows.
    oracle=f"""
WITH h AS (
    SELECT doc_id,
           {DUCK_H.format(x=f"('{_SHARD_SALT}' || CAST(doc_id AS VARCHAR))")} AS hv
    FROM documents
)
SELECT doc_id,
       CAST(hv % {N_SHARDS} AS INT) AS shard_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY hv % {N_SHARDS}
                               ORDER BY hv, doc_id) AS BIGINT) AS pos_in_shard
FROM h
""",
)
def corpus_shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + sharding — the write layout
    step before training: every document gets a shard (salted portable
    hash mod N_SHARDS, so shards are balanced in expectation and stable
    under incremental loads) and a position inside the shard (ordered by
    the same hash — a pseudorandom permutation, so readers streaming a
    shard sequentially see data in shuffled order without any runtime
    randomness). Writing the actual files is
    ``df.repartition(N_SHARDS, "shard_id")`` + ``sortWithinPartitions``
    over exactly this assignment — one shuffle, the one a shard writer
    always pays. Engine/rerun/partitioning-independent: the assignment is
    a pure function of doc_id, pinned by the DuckDB oracle."""
    prepare(spark)
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    h = portable_hash(
        F.concat(F.lit(_SHARD_SALT), F.col("doc_id").cast("string"))
    )
    with_h = docs.select("doc_id", h.alias("hv"))
    w = Window.partitionBy(F.col("hv") % N_SHARDS).orderBy("hv", "doc_id")
    return with_h.select(
        "doc_id",
        (F.col("hv") % N_SHARDS).cast("int").alias("shard_id"),
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
    )


# --------------------------------------------------------------------------
#: Temperature for data-derived source mixing. T=2 is chosen deliberately:
#: the keep-rate becomes sqrt(n_min/n_s), and IEEE-754 sqrt/divide are
#: correctly rounded, so Spark and the DuckDB oracle derive BIT-IDENTICAL
#: per-mille rates from the same counts — no float-disagreement at the
#: floor() boundary. (A general-T variant would use pow(), which carries
#: no such guarantee across libm implementations.)
_TEMP_SALT = "temp:"


@register(
    "sample_lang_temperature",
    oracle=f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang
),
rates AS (
    SELECT lang, n_total,
           CAST(FLOOR(1000.0 * SQRT((SELECT MIN(n_total) FROM counts) * 1.0
                                    / n_total)) AS BIGINT) AS keep_permille
    FROM counts
),
kept AS (
    SELECT d.lang, d.doc_id
    FROM documents d JOIN rates r USING (lang)
    WHERE {DUCK_H.format(x=f"('{_TEMP_SALT}' || CAST(d.doc_id AS VARCHAR))")}
          % 1000 < r.keep_permille
),
census AS (
    SELECT lang, COUNT(*) AS n_kept,
           MIN(doc_id) AS min_kept_id, MAX(doc_id) AS max_kept_id
    FROM kept GROUP BY lang
)
SELECT r.lang, r.n_total, r.keep_permille,
       COALESCE(c.n_kept, 0) AS n_kept, c.min_kept_id, c.max_kept_id
FROM rates r LEFT JOIN census c USING (lang)
""",
)
def sample_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (the multinomial re-weighting every
    multilingual / multi-source LLM pipeline applies): with temperature
    T=2, the kept count per language is made proportional to
    sqrt(n_lang) — tail languages are up-weighted RELATIVE to the head by
    sampling the rarest language at rate 1.0 and every other at
    sqrt(n_min/n_lang). Rates are DERIVED FROM THE DATA (one column-pruned
    counting pass over `lang` only), then applied as the same
    shuffle-free salted-hash row filter as `sample_stratified_hash`, so
    the sample keeps all its stability properties. Returns the per-lang
    census (total, per-mille rate, kept count, kept-id bounds) — all
    integers, exactly comparable across engines.

    Scale: pass 1 aggregates one dictionary-encoded column (map-side
    partial agg); the 5-row rate map broadcasts back onto the scan, so
    the row filter adds zero shuffle at any corpus size.

    The rate map is a lazy ``localCheckpoint``: it feeds BOTH the
    kept-filter broadcast and the final census join, and without it each
    consumer re-runs the lang-counting pass (3 documents scans per run;
    2 with it). Caveats, all acceptable for a language-cardinality frame
    that rebuilds in seconds:

    1. FRESHNESS — the checkpoint materializes once per BUILT frame, so a
       caller that holds the returned frame across a source rewrite
       re-reads stale rates; rebuild it via the catalog.
    2. RELIABILITY — the checkpoint blocks have no lineage: executor loss
       between materialization and the census join's read fails the
       query instead of recomputing.
    3. ACCRUAL — each build checkpoints a fresh RDD, released only when
       the JVM Dataset is GC'd (``io.release_checkpoint`` releases
       eagerly)."""
    prepare(spark)
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    # the rate map is metadata-sized (one row per language): an
    # all-partition window over it is free and keeps the plan declarative
    rates = counts.withColumn(
        "n_min", F.min("n_total").over(Window.partitionBy())
    ).select(
        "lang",
        "n_total",
        F.floor(
            1000.0
            * F.sqrt(F.col("n_min").cast("double") / F.col("n_total").cast("double"))
        )
        .cast("bigint")
        .alias("keep_permille"),
    ).localCheckpoint(eager=False)  # lazy; caveats in the docstring
    h = portable_hash(F.concat(F.lit(_TEMP_SALT), F.col("doc_id").cast("string")))
    kept = (
        docs.select("lang", "doc_id")
        .join(F.broadcast(rates.select("lang", "keep_permille")), "lang")
        .filter((h % 1000) < F.col("keep_permille"))
    )
    census = kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_kept_id"),
        F.max("doc_id").alias("max_kept_id"),
    )
    # explicit broadcast: the checkpointed `rates` leaf carries no size
    # stats, so the planner would otherwise fall back to a sort-merge
    # join for this lang-cardinality (~5-row) combine
    return rates.join(F.broadcast(census), "lang", "left").select(
        "lang",
        "n_total",
        "keep_permille",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
        "min_kept_id",
        "max_kept_id",
    )
