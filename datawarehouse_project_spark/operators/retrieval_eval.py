"""Retrieval-quality evaluation: MRR / recall@k over the three hybrid
retrievers (BM25, unnormalized TF-IDF dot, their RRF fusion) against
deterministic corpus-derived qrels — the measurement half of the
LLM-pipeline retrieval family (VERDICT r18 #5).

Qrels are derived from the corpus itself, so the eval is reproducible
in any engine with no side-channel label file: a document is RELEVANT
to a query iff it contains at least ``EVAL_MIN_MATCH`` distinct query
terms (term-containment relevance — the standard boolean-match proxy
when no human judgments exist; every fixed query has >= 2 in-vocabulary
distinct terms, so the rule is non-degenerate for all of them).

Both metrics are emitted as integers so the DuckDB oracle matches
bit-for-bit (the registry's determinism discipline):

* ``rr_scaled``        = floor(1e6 / rank of the first relevant hit),
                         0 when the top-k list has no relevant doc —
                         sum/mean over queries gives (scaled) MRR@k;
* ``recall_at_k_scaled`` = floor(1e6 * hits_at_k / n_rel), 0 when the
                         query has no relevant docs.

Scale story (the reason this lives on the SERVED plans): the whole
eval is probe-proportional — the ranked lists come from the maintained
postings store via pushed ``In(w)`` probes (:func:`lexical_topk_served`
/ :func:`tfidf_dot_topk_served`), and the qrels themselves are computed
from the SAME probe (matched postings grouped per (query, doc)), so no
part of the plan scans corpus text or is corpus-wide except the
doc-count aggregate both scorers already need. Evaluating q queries
against a 100 TB corpus touches only the q queries' posting rows.

Reference parity note: the reference (MeshJoin.java, olap_queries.sql)
has no retrieval stack — this family is a north-star extension; the
eval operator completes it (retrievers without a quality measurement
are unfalsifiable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..session import prepare
from .retrieval import (
    LEXICAL_K,
    LEXICAL_QUERIES,
    MAX_PROBE_TERMS,
    _HYBRID_CTES,
    _probe_terms,
    _qterms,
    lexical_topk_served,
    rrf_fuse,
    served_postings,
    tfidf_dot_topk_served,
)

#: A doc is relevant to a query iff it contains >= this many DISTINCT
#: query terms. 2 keeps single-term matches (noise at corpus scale) out
#: while every fixed query (min 2 distinct in-vocab terms) can still
#: have relevant docs.
EVAL_MIN_MATCH = 2

#: Metric scale: floor(1e6 * metric) — six decimal digits, exact
#: cross-engine integer math (the repo-wide FLOOR-before-BIGINT recipe).
EVAL_SCALE = 1_000_000


def graded_qrels_from_postings(
    counts: DataFrame,
    queries: DataFrame,
    min_match: int = EVAL_MIN_MATCH,
    max_probe_terms: int = MAX_PROBE_TERMS,
) -> DataFrame:
    """Deterministic GRADED relevance ``(query_id, doc_id, gain)`` from
    the postings state: restrict the postings to the query TERMS
    (pushed ``In(w)`` literal — probe-proportional, same layout as the
    serving scorers), keep (query, doc) pairs matching >= ``min_match``
    distinct terms, gain = the distinct-match count (so a doc matching
    more of the query outranks a doc matching the minimum — the graded
    form nDCG reads; the binary qrels are this with the gain dropped)."""
    qterms = _qterms(queries)
    terms = _probe_terms(
        qterms, max_probe_terms, "graded_qrels_from_postings"
    )
    matched = counts.filter(F.col("w").isin(terms)).join(
        F.broadcast(qterms.select("query_id", "w").distinct()), "w"
    )
    return (
        matched.groupBy("query_id", "doc_id")
        .agg(F.count_distinct("w").cast("bigint").alias("gain"))
        .filter(F.col("gain") >= min_match)
    )


def qrels_from_postings(
    counts: DataFrame,
    queries: DataFrame,
    min_match: int = EVAL_MIN_MATCH,
    max_probe_terms: int = MAX_PROBE_TERMS,
) -> DataFrame:
    """Binary ``(query_id, doc_id)`` relevance pairs — the graded qrels
    with the gain dropped (one relevance definition across metrics)."""
    return graded_qrels_from_postings(
        counts, queries, min_match, max_probe_terms
    ).select("query_id", "doc_id")


def retrieval_metrics(
    lists: DataFrame, qrels: DataFrame
) -> DataFrame:
    """MRR / recall@k inputs per (retriever, query) from tagged ranked
    lists ``(retriever, query_id, doc_id, rnk)`` (already truncated to
    top-k) and ``(query_id, doc_id)`` qrels. Everything here is
    k-bounded per (retriever, query) — the frames are tiny regardless
    of corpus size.

    Denominator convention (ADVICE r19 #2): a (retriever, query) whose
    top-k list is EMPTY emits no row — it is excluded from, not zeroed
    into, any aggregate a consumer computes over the output. A list is
    empty only when the query matches ZERO postings (any match yields a
    ranked doc), and such a query also has no containment qrels, so no
    engine disagrees about it; but a mean over emitted rows still
    averages over fewer queries than were asked. Consumers averaging
    over a FIXED query set must left-join from that set and zero-fill
    (the oracle tail has the same shape, so parity is unaffected)."""
    rel = qrels.withColumn("rel", F.lit(1))
    nrel = qrels.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_rel")
    )
    hits = (
        lists.join(rel, ["query_id", "doc_id"], "left")
        .groupBy("retriever", "query_id")
        .agg(
            F.count("rel").cast("bigint").alias("hits_at_k"),
            F.coalesce(
                F.min(F.when(F.col("rel").isNotNull(), F.col("rnk"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("first_rel_rnk"),
        )
    )
    scale = float(EVAL_SCALE)
    return (
        hits.join(F.broadcast(nrel), "query_id", "left")
        .select(
            "retriever",
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0))
            .cast("bigint")
            .alias("n_rel"),
            "hits_at_k",
            "first_rel_rnk",
            F.when(
                F.col("first_rel_rnk") > 0,
                F.floor(
                    F.lit(scale)
                    / F.col("first_rel_rnk").cast("double")
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("rr_scaled"),
            F.when(
                F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
                F.floor(
                    F.lit(scale)
                    * F.col("hits_at_k").cast("double")
                    / F.col("n_rel").cast("double")
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("recall_at_k_scaled"),
        )
    )


def _materialize(df: DataFrame) -> DataFrame:
    """Execute a small frame ONCE and share the stored result across
    every plan subtree that references it (VERDICT r19 #1: Spark shares
    no subplans across a union, so without this each served leg ran once
    as its union branch and AGAIN inside the fusion — every probe
    executed twice). ``localCheckpoint(eager=True)`` is the right tool
    because every frame materialized here is bounded: the leg lists and
    their intersection are <= queries x k rows, and the qrels/gains
    frames are the per-(query, doc) AGGREGATE of the pushed probe (far
    smaller than the matched posting rows, and term-capped by the
    ``_probe_terms`` contract) — executor-local storage of a bounded
    frame in exchange for halving the probe work, at any corpus size.

    Cluster caveat (ADVICE r20 #3): ``localCheckpoint`` is a
    NON-RELIABLE checkpoint — the stored partitions live only on the
    executors that computed them, with the lineage truncated. On a real
    cluster, executor loss or dynamic-allocation decommissioning makes
    them unrecoverable and the consuming query fails (it cannot
    recompute). That is an acceptable trade for these bounded,
    seconds-to-rebuild eval frames (re-run the query); a deployment
    that must survive executor churn mid-query should use
    ``spark.sparkContext.setCheckpointDir(...)`` + ``checkpoint()`` (or
    persist to a reliable store) instead — same plan shape, higher
    write cost."""
    return df.localCheckpoint(eager=True)


def _materialize_many(*dfs: DataFrame) -> list[DataFrame]:
    """:func:`_materialize` a batch of frames CONCURRENTLY (one Spark
    job per frame, submitted from separate threads — Spark schedules
    them together like the subtrees of a single action would be).
    Measured reason (r20): eagerly checkpointing the frames one at a
    time serializes jobs that the pre-fix single-action plan ran
    overlapped, and on an idle box the serialization cost exceeded the
    saved duplicate work (sf10 A/B: 0.82x — SLOWER); submitting the
    checkpoints concurrently keeps both properties — each probe
    executes exactly once (cluster goodput at scale) AND the probes
    overlap in wall-clock (parity locally)."""
    if len(dfs) == 1:
        return [_materialize(dfs[0])]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # inheritable_thread_target (ADVICE r20 #2): under PySpark's pinned
    # thread mode, plain pool threads do NOT inherit the parent thread's
    # JVM-local properties — job group/description, scheduler pool — so
    # the checkpoint jobs would escape any cancellation group or FAIR
    # pool the harness set. The wrapper captures the parent's properties
    # at wrap time and applies them in the worker thread.
    target = inheritable_thread_target(_materialize)
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        return list(pool.map(target, dfs))


def _lists_and(
    counts: DataFrame,
    doclens: DataFrame,
    queries: DataFrame,
    k: int,
    extra: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Build the tagged three-retriever lists, materializing the two
    served legs — and optionally one caller-supplied frame (the eval
    rows' qrels/gains probe) — in ONE concurrent batch, so every probe
    executes exactly once and they overlap in wall-clock."""
    frames = [
        lexical_topk_served(counts, doclens, queries, k=k),
        tfidf_dot_topk_served(counts, doclens, queries, k=k),
    ]
    if extra is not None:
        frames.append(extra)
    out = _materialize_many(*frames)
    a, b = out[0], out[1]
    r = rrf_fuse(a, b, k=k)
    lists = (
        a.select(
            F.lit("bm25").alias("retriever"), "query_id", "doc_id", "rnk"
        )
        .unionByName(
            b.select(
                F.lit("tdot").alias("retriever"),
                "query_id",
                "doc_id",
                "rnk",
            )
        )
        .unionByName(
            r.select(
                F.lit("rrf").alias("retriever"),
                "query_id",
                "doc_id",
                "rnk",
            )
        )
    )
    return lists, (out[2] if extra is not None else None)


def eval_retrievers(
    counts: DataFrame,
    doclens: DataFrame,
    queries: DataFrame,
    k: int = LEXICAL_K,
) -> DataFrame:
    """The full eval composition over maintained state: serve all three
    retrievers from the same postings+doclens tables, derive qrels from
    the same probe, score MRR/recall@k per (retriever, query)."""
    # qrels feed two consumers (the hit join and the n_rel aggregate) —
    # materialize the per-(query, doc) aggregate once, in the same
    # concurrent batch as the two legs, instead of running its pushed
    # probe twice.
    lists, qrels = _lists_and(
        counts, doclens, queries, k,
        extra=qrels_from_postings(counts, queries),
    )
    return retrieval_metrics(lists, qrels)


#: The eval oracle: the hybrid retrievers' CTEs, then lists -> qrels ->
#: metrics in the same integer arithmetic as the DataFrame builder.
_EVAL_ORACLE = f"""
WITH {_HYBRID_CTES},
lists AS (
    SELECT 'bm25' AS retriever, query_id, doc_id,
           CAST(rnk_a AS BIGINT) AS rnk
    FROM bm25_ranked WHERE rnk_a <= {LEXICAL_K}
    UNION ALL
    SELECT 'tdot' AS retriever, query_id, doc_id,
           CAST(rnk_b AS BIGINT) AS rnk
    FROM tdot_ranked WHERE rnk_b <= {LEXICAL_K}
    UNION ALL
    SELECT 'rrf' AS retriever, query_id, doc_id, rnk
    FROM rrf_ranked WHERE rnk <= {LEXICAL_K}
),
qrels AS (
    SELECT query_id, doc_id
    FROM (
        SELECT q.query_id, p.doc_id, COUNT(DISTINCT q.w) AS matched
        FROM (SELECT DISTINCT query_id, w FROM qterms) q
        JOIN postings p ON p.w = q.w
        GROUP BY 1, 2
    )
    WHERE matched >= {EVAL_MIN_MATCH}
),
nrel AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
    FROM qrels GROUP BY 1
),
hits AS (
    SELECT l.retriever, l.query_id,
           CAST(COUNT(r.doc_id) AS BIGINT) AS hits_at_k,
           CAST(COALESCE(
               MIN(CASE WHEN r.doc_id IS NOT NULL THEN l.rnk END), 0
           ) AS BIGINT) AS first_rel_rnk
    FROM lists l
    LEFT JOIN qrels r
      ON r.query_id = l.query_id AND r.doc_id = l.doc_id
    GROUP BY 1, 2
)
SELECT h.retriever, h.query_id,
       CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
       h.hits_at_k, h.first_rel_rnk,
       CASE WHEN h.first_rel_rnk > 0
            THEN CAST(FLOOR(CAST({EVAL_SCALE} AS DOUBLE)
                 / CAST(h.first_rel_rnk AS DOUBLE)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS rr_scaled,
       CASE WHEN COALESCE(n.n_rel, 0) > 0
            THEN CAST(FLOOR(CAST({EVAL_SCALE} AS DOUBLE)
                 * CAST(h.hits_at_k AS DOUBLE)
                 / CAST(n.n_rel AS DOUBLE)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS recall_at_k_scaled
FROM hits h
LEFT JOIN nrel n ON n.query_id = h.query_id

"""


#: Scaled-integer DCG discounts floor(1e6 / log2(rank+1)) for ranks
#: 1..LEXICAL_K, computed ONCE here and baked as literals into BOTH
#: engines' SQL — cross-engine exactness by construction (no engine
#: evaluates a log at query time).
import math as _math

DISC_SCALED = {
    i: _math.floor(EVAL_SCALE / _math.log2(i + 1))
    for i in range(1, LEXICAL_K + 1)
}


def _disc_case_sql(col: str) -> str:
    """The discount lookup as one CASE expression over ``col`` — the
    same string builds the Spark expression and the oracle text."""
    whens = " ".join(
        f"WHEN {col} = {i} THEN CAST({v} AS BIGINT)"
        for i, v in DISC_SCALED.items()
    )
    return f"CASE {whens} ELSE CAST(0 AS BIGINT) END"


def ndcg_retrievers(
    counts: DataFrame,
    doclens: DataFrame,
    queries: DataFrame,
    k: int = LEXICAL_K,
) -> DataFrame:
    """nDCG@k per (retriever, query) with graded gains (= distinct
    matched query terms, >= EVAL_MIN_MATCH): DCG sums gain x the
    baked-literal discount over the served top-k list; IDCG sums the
    same gains in ideal order (gain DESC, doc_id — equal-gain order
    cannot move the sum); ndcg = floor(1e6 * DCG / IDCG). Integer
    gains x integer discounts -> exact integer DCG/IDCG in both
    engines; like the MRR row, every input is probe-proportional.

    ``k`` must not exceed ``LEXICAL_K``: the discount table is baked for
    ranks 1..LEXICAL_K, and a larger k would silently discount the tail
    to 0 instead of failing (ADVICE r19 #1) — so it fails here."""
    if k > LEXICAL_K:
        raise ValueError(
            f"ndcg_retrievers: k={k} exceeds the baked discount table "
            f"(ranks 1..{LEXICAL_K}) — extend DISC_SCALED or lower k"
        )
    from pyspark.sql import Window

    # gains feed two consumers (the DCG join and the ideal ranking) —
    # one probe execution, not two, concurrent with the two legs (same
    # reasoning as eval_retrievers).
    lists, gains = _lists_and(
        counts, doclens, queries, k,
        extra=graded_qrels_from_postings(counts, queries),
    )
    dcg = (
        lists.join(gains, ["query_id", "doc_id"], "left")
        .withColumn("gain0", F.coalesce(F.col("gain"), F.lit(0)))
        .withColumn("disc", F.expr(_disc_case_sql("rnk")))
        .groupBy("retriever", "query_id")
        .agg(
            F.sum(F.col("gain0") * F.col("disc"))
            .cast("bigint")
            .alias("dcg_scaled")
        )
    )
    iw = Window.partitionBy("query_id").orderBy(
        F.desc("gain"), F.asc("doc_id")
    )
    idcg = (
        gains.withColumn("irnk", F.row_number().over(iw).cast("bigint"))
        .filter(F.col("irnk") <= k)
        .withColumn("idisc", F.expr(_disc_case_sql("irnk")))
        .groupBy("query_id")
        .agg(
            F.sum(F.col("gain") * F.col("idisc"))
            .cast("bigint")
            .alias("idcg_scaled")
        )
    )
    return dcg.join(F.broadcast(idcg), "query_id", "left").select(
        "retriever",
        "query_id",
        "dcg_scaled",
        F.coalesce(F.col("idcg_scaled"), F.lit(0))
        .cast("bigint")
        .alias("idcg_scaled"),
        F.when(
            F.coalesce(F.col("idcg_scaled"), F.lit(0)) > 0,
            F.floor(
                F.lit(float(EVAL_SCALE))
                * F.col("dcg_scaled").cast("double")
                / F.col("idcg_scaled").cast("double")
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ndcg_at_k_scaled"),
    )


#: The nDCG oracle: gains, DCG and ideal DCG over the same scaled-integer
#: discount literals as the DataFrame builder.
_NDCG_ORACLE = f"""
WITH {_HYBRID_CTES},
lists AS (
    SELECT 'bm25' AS retriever, query_id, doc_id,
           CAST(rnk_a AS BIGINT) AS rnk
    FROM bm25_ranked WHERE rnk_a <= {LEXICAL_K}
    UNION ALL
    SELECT 'tdot' AS retriever, query_id, doc_id,
           CAST(rnk_b AS BIGINT) AS rnk
    FROM tdot_ranked WHERE rnk_b <= {LEXICAL_K}
    UNION ALL
    SELECT 'rrf' AS retriever, query_id, doc_id, rnk
    FROM rrf_ranked WHERE rnk <= {LEXICAL_K}
),
gains AS (
    SELECT query_id, doc_id, gain
    FROM (
        SELECT q.query_id, p.doc_id,
               CAST(COUNT(DISTINCT q.w) AS BIGINT) AS gain
        FROM (SELECT DISTINCT query_id, w FROM qterms) q
        JOIN postings p ON p.w = q.w
        GROUP BY 1, 2
    )
    WHERE gain >= {EVAL_MIN_MATCH}
),
dcg AS (
    SELECT l.retriever, l.query_id,
           CAST(SUM(COALESCE(g.gain, 0)
                * ({_disc_case_sql("l.rnk")})) AS BIGINT) AS dcg_scaled
    FROM lists l
    LEFT JOIN gains g
      ON g.query_id = l.query_id AND g.doc_id = l.doc_id
    GROUP BY 1, 2
),
ideal AS (
    SELECT query_id, gain,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY gain DESC, doc_id
           ) AS BIGINT) AS irnk
    FROM gains
),
idcg AS (
    SELECT query_id,
           CAST(SUM(gain * ({_disc_case_sql("irnk")})) AS BIGINT)
               AS idcg_scaled
    FROM ideal
    WHERE irnk <= {LEXICAL_K}
    GROUP BY 1
)
SELECT d.retriever, d.query_id, d.dcg_scaled,
       CAST(COALESCE(i.idcg_scaled, 0) AS BIGINT) AS idcg_scaled,
       CASE WHEN COALESCE(i.idcg_scaled, 0) > 0
            THEN CAST(FLOOR(CAST({EVAL_SCALE} AS DOUBLE)
                 * CAST(d.dcg_scaled AS DOUBLE)
                 / CAST(i.idcg_scaled AS DOUBLE)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS ndcg_at_k_scaled
FROM dcg d
LEFT JOIN idcg i ON i.query_id = d.query_id

"""


def leg_agreement(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = LEXICAL_K,
) -> DataFrame:
    """Rank agreement between two truncated ``(query_id, doc_id, rnk)``
    rankings — the diagnostic that tells you whether fusing them can
    help (RRF only adds value where the legs DISAGREE): per query,
    ``overlap_at_k`` (shared docs), Kendall concordant/discordant pair
    counts over the shared docs (ranks are distinct within a list, so
    no tie classes), and ``tau_scaled`` = floor(1e6*(C-D)/(C+D)).
    Everything is k-bounded per query (<= k shared docs -> <= k(k-1)/2
    pairs) — the self-join is over tiny frames regardless of corpus
    size.

    ``tau_scaled`` convention (VERDICT r19 #6): 0 is emitted BOTH for a
    query with zero comparable pairs (overlap <= 1, a 0/0) and for a
    perfectly balanced ranking (C == D) — consumers must read tau
    together with ``n_pairs``, which disambiguates (n_pairs == 0 means
    "no evidence", n_pairs > 0 with tau 0 means "measured, balanced").

    The shared-docs frame feeds three consumers (both sides of the pair
    self-join and the overlap count) — it is materialized once
    (:func:`_materialize`), so the two upstream rankings execute once
    each instead of three times."""
    a = ranked_a.filter(F.col("rnk") <= k).select(
        "query_id", "doc_id", F.col("rnk").alias("rnk_a")
    )
    b = ranked_b.filter(F.col("rnk") <= k).select(
        "query_id", "doc_id", F.col("rnk").alias("rnk_b")
    )
    shared = _materialize(a.join(b, ["query_id", "doc_id"]))
    s1 = shared.alias("s1")
    s2 = shared.alias("s2")
    pairs = s1.join(
        s2,
        (F.col("s1.query_id") == F.col("s2.query_id"))
        & (F.col("s1.doc_id") < F.col("s2.doc_id")),
    ).select(
        F.col("s1.query_id").alias("query_id"),
        (
            (F.col("s1.rnk_a") - F.col("s2.rnk_a"))
            * (F.col("s1.rnk_b") - F.col("s2.rnk_b"))
            > 0
        ).alias("conc"),
    )
    counts = pairs.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("conc"), 1).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
    )
    overlap = shared.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("overlap_at_k")
    )
    return (
        overlap.join(counts, "query_id", "left")
        .select(
            "query_id",
            "overlap_at_k",
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.coalesce(F.col("concordant"), F.lit(0))
            .cast("bigint")
            .alias("concordant"),
            (
                F.coalesce(F.col("n_pairs"), F.lit(0))
                - F.coalesce(F.col("concordant"), F.lit(0))
            )
            .cast("bigint")
            .alias("discordant"),
            F.when(
                F.coalesce(F.col("n_pairs"), F.lit(0)) > 0,
                F.floor(
                    F.lit(float(EVAL_SCALE))
                    * (
                        F.col("concordant").cast("double")
                        - (F.col("n_pairs") - F.col("concordant")).cast(
                            "double"
                        )
                    )
                    / F.col("n_pairs").cast("double")
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("tau_scaled"),
        )
    )


#: The leg-agreement oracle: overlap@k and Kendall-tau pair counts of
#: the two lexical legs.
_AGREE_ORACLE = f"""
WITH {_HYBRID_CTES},
shared AS (
    SELECT a.query_id, a.doc_id,
           CAST(a.rnk_a AS BIGINT) AS rnk_a,
           CAST(b.rnk_b AS BIGINT) AS rnk_b
    FROM (SELECT * FROM bm25_ranked WHERE rnk_a <= {LEXICAL_K}) a
    JOIN (SELECT * FROM tdot_ranked WHERE rnk_b <= {LEXICAL_K}) b
      ON a.query_id = b.query_id AND a.doc_id = b.doc_id
),
pairs AS (
    SELECT s1.query_id,
           CASE WHEN (s1.rnk_a - s2.rnk_a) * (s1.rnk_b - s2.rnk_b) > 0
                THEN 1 ELSE 0 END AS conc
    FROM shared s1
    JOIN shared s2
      ON s1.query_id = s2.query_id AND s1.doc_id < s2.doc_id
),
counts AS (
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS concordant
    FROM pairs GROUP BY 1
),
overlap AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS overlap_at_k
    FROM shared GROUP BY 1
)
SELECT o.query_id, o.overlap_at_k,
       CAST(COALESCE(c.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(c.concordant, 0) AS BIGINT) AS concordant,
       CAST(COALESCE(c.n_pairs, 0) - COALESCE(c.concordant, 0)
            AS BIGINT) AS discordant,
       CASE WHEN COALESCE(c.n_pairs, 0) > 0
            THEN CAST(FLOOR(CAST({EVAL_SCALE} AS DOUBLE)
                 * (CAST(c.concordant AS DOUBLE)
                    - CAST(c.n_pairs - c.concordant AS DOUBLE))
                 / CAST(c.n_pairs AS DOUBLE)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS tau_scaled
FROM overlap o
LEFT JOIN counts c ON c.query_id = o.query_id

"""


@register(
    "retrieval_leg_agreement",
    # r19: the fusion diagnostic — low overlap / low tau is the regime
    # where RRF earns its keep; per-query integer pair counts make the
    # oracle exact. Pytest-only (rotation candidate once proven).
    # tau_scaled = 0 is ambiguous alone (0/0 when n_pairs == 0, or a
    # measured balanced ranking) — read it with n_pairs (VERDICT r19 #6).
    oracle=_AGREE_ORACLE,
    driver_facing=False,
)
def retrieval_leg_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall-tau rank agreement + overlap@{LEXICAL_K} between the
    BM25 leg and the TF-IDF-dot leg per fixed query, both served from
    the maintained postings store."""
    prepare(spark)
    store = served_postings(spark, sf_dir)
    counts = store.counts(spark)
    doclens = store.doclens(spark)
    q = spark.createDataFrame(
        LEXICAL_QUERIES, "query_id bigint, qtext string"
    )
    return leg_agreement(
        lexical_topk_served(counts, doclens, q, k=LEXICAL_K),
        tfidf_dot_topk_served(counts, doclens, q, k=LEXICAL_K),
        k=LEXICAL_K,
    )


@register(
    "retrieval_eval_ndcg",
    # r19: graded-relevance companion of the MRR/recall row — same
    # qrels probe, same served lists, CASE-table discounts baked as
    # literals so neither engine evaluates a log at query time.
    # r20 rotation IN (VERDICT r19 #1): promoted after its pytest-only
    # proving round (driver-green recipe: full suite + plain-session
    # dress rehearsal before the swap; unpivot_store_priority ceded
    # after eight driver-green rounds r10-r19, pytest oracle remains)
    # and after the one-execution-per-leg materialization landed with
    # bit-identical oracle parity.
    oracle=_NDCG_ORACLE,
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{LEXICAL_K} per (retriever, query) for the three hybrid
    retrievers, graded gain = distinct matched query terms
    (>= {EVAL_MIN_MATCH}), served from the maintained postings store."""
    prepare(spark)
    store = served_postings(spark, sf_dir)
    q = spark.createDataFrame(
        LEXICAL_QUERIES, "query_id bigint, qtext string"
    )
    return ndcg_retrievers(
        store.counts(spark), store.doclens(spark), q, k=LEXICAL_K
    )


@register(
    "retrieval_eval_mrr_recall",
    # r19 (VERDICT r18 #5): the retrieval-quality eval row. Full DuckDB
    # oracle (integer ranks -> exact scaled-integer metrics); the RRF >=
    # each-leg divergence property is asserted on a planted fixture in
    # tests/test_retrieval_eval.py. ROTATED INTO the driver window the
    # same round per the r17/r18 recipe: full 722-green pytest round
    # with the row registered, then the plain-session dress rehearsal;
    # cms_word_count_estimates ceded after seven driver-green rounds
    # (r12-r18; its pytest oracle remains). The graded nDCG companion
    # followed in r20 (see retrieval_eval_ndcg's register comment).
    oracle=_EVAL_ORACLE,
)
def retrieval_eval_mrr_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MRR / recall@{LEXICAL_K} per (retriever, query) for the three
    hybrid retrievers over the fixed query set, qrels = >=2-distinct-
    term containment, everything served from the maintained postings
    store (probe-proportional; no corpus-text scan in the plan)."""
    prepare(spark)
    store = served_postings(spark, sf_dir)
    q = spark.createDataFrame(
        LEXICAL_QUERIES, "query_id bigint, qtext string"
    )
    return eval_retrievers(
        store.counts(spark), store.doclens(spark), q, k=LEXICAL_K
    )
