"""Sparse lexical (BM25-style) retrieval: scoring invariants and the
plan pins the module docstring claims. (The registered query's DuckDB
oracle differential — bit-exact scaled-integer scores — runs in
tests/test_oracle_parity.py at both scale factors.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.retrieval import (
    LEXICAL_K,
    lexical_topk,
    term_counts,
)


import pytest

# r22 fast-lane split, second pass (measured: the first fast lane still
# ran 16.5 min on this box — over the driver-timeout safety margin):
# this module's VALUE semantics are gated by the fast lane's sf0.001
# oracle-parity sweep; its deeper coverage runs in the slow lane
# (`pytest -m slow`, the round-end full sweep).
pytestmark = pytest.mark.slow


def _docs(spark, sf_dir):
    return table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())


def _topk(spark, sf_dir, queries, k=LEXICAL_K):
    q = spark.createDataFrame(queries, "query_id bigint, qtext string")
    return lexical_topk(_docs(spark, sf_dir), q, k=k)


def test_out_of_vocabulary_terms_contribute_nothing(spark, sf_dir):
    with_oov = _topk(spark, sf_dir, [(0, "dup row zzzznotaword")]).collect()
    without = _topk(spark, sf_dir, [(0, "dup row")]).collect()
    assert sorted((r.doc_id, r.score, r.rnk) for r in with_oov) == sorted(
        (r.doc_id, r.score, r.rnk) for r in without
    )


def test_query_term_frequency_multiplies(spark, sf_dir):
    """'dup dup' doubles every dup contribution relative to 'dup' —
    single-term queries make this exact (score is per-term contrib × qtf)."""
    single = {r.doc_id: r.score for r in _topk(spark, sf_dir, [(0, "dup")]).collect()}
    double = {r.doc_id: r.score for r in _topk(spark, sf_dir, [(0, "dup dup")]).collect()}
    assert set(single) == set(double)
    assert all(double[d] == 2 * single[d] for d in single)


def test_rank_is_dense_ordered_and_capped(spark, sf_dir):
    rows = _topk(spark, sf_dir, [(0, "hash join"), (1, "dup")]).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= LEXICAL_K
        # rank order == (score desc, doc_id asc)
        assert rs == sorted(rs, key=lambda r: (-r.score, r.doc_id))


def test_returned_docs_contain_a_query_term(spark, sf_dir):
    rows = _topk(spark, sf_dir, [(0, "dup")]).collect()
    assert rows, "query term 'dup' must match some documents"
    hits = {r.doc_id for r in rows}
    with_term = {
        r.doc_id
        for r in term_counts(_docs(spark, sf_dir))
        .filter(F.col("w") == "dup")
        .select("doc_id")
        .collect()
    }
    assert hits <= with_term


def test_plan_shape_windowgrouplimit_and_broadcasts(spark, sf_dir):
    """The two-stage top-k (partial per-partition limit before the
    query_id shuffle) and the broadcast inverted-index probe — the scale
    claims in the module docstring, pinned."""
    df = _topk(spark, sf_dir, [(0, "hash join agg")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # term restrict + qterms
    assert "CartesianProduct" not in plan  # stats joins as broadcast-1-row


def test_text_plan_is_probe_proportional(spark, sf_dir):
    """VERDICT r16 #2: the compute-from-text form is itself
    probe-proportional — the exploded tokens are broadcast-restricted to
    the query terms BEFORE any aggregate, dl rides the tokens (never a
    window over vocabulary-wide postings: no windowspecdefinition over
    doc_id), df rides the matched postings (window over w — probe-sized
    rows), and the plan's only full passes are the two corpus scans
    (matched branch + the projection-only stats branch)."""
    df = _topk(spark, sf_dir, [(0, "hash join agg")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(doc_id" not in plan  # no postings-wide dl sort
    assert "windowspecdefinition(w" in plan           # df over matched only
    assert "windowspecdefinition(query_id" in plan    # rank window remains
    assert plan.count("Scan parquet") == 2            # matched + stats, no dfm re-scan


def test_from_store_equals_from_text(spark, sf_correct_dir):
    """The maintained postings store must answer the retrieval query
    bit-for-bit like the compute-from-text form (shared oracle)."""
    from datawarehouse_project_spark.catalog import all_queries

    a = all_queries()["lexical_bm25_topk"](spark, sf_correct_dir).collect()
    b = all_queries()["lexical_bm25_from_store"](spark, sf_correct_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_from_store_plan_touches_no_corpus_text(spark, sf_correct_dir):
    from datawarehouse_project_spark.catalog import all_queries

    df = all_queries()["lexical_bm25_from_store"](spark, sf_correct_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan


def test_postings_rollup_is_batch_additive(spark, sf_dir, tmp_path):
    """tf is additive across batches: the even documents arrive in the
    first batch and again inside the whole corpus in the second, so
    each of their postings folds to twice its direct tf while the odd
    documents' postings fold to theirs."""
    from datawarehouse_project_spark.operators.incremental import (
        IncrementalRollup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    direct = sorted(map(tuple, term_counts(docs).collect()))
    want = sorted((d, w, tf * 2 if d % 2 == 0 else tf) for d, w, tf in direct)
    assert any(d % 2 == 0 for d, _, _ in direct)  # keys summed across batches
    assert any(d % 2 == 1 for d, _, _ in direct)

    roll = IncrementalRollup(
        str(tmp_path / "postings"), keys=["doc_id", "w"], sum_cols=["tf"]
    )
    roll.apply_batch(
        spark, term_counts(docs.filter(F.col("doc_id") % 2 == 0)), 0, "t"
    )
    roll.apply_batch(spark, term_counts(docs), 1, "t")
    counts = roll.read(spark).select(
        "doc_id", "w", F.col("sum_tf").cast("bigint").alias("tf")
    )
    folded = sorted(map(tuple, counts.collect()))
    assert folded == want


def test_served_postings_rebuild_on_source_rewrite(spark, tmp_path):
    from datawarehouse_project_spark.catalog import all_queries

    sf = str(tmp_path / "sfp")

    def write(docs):
        spark.createDataFrame(
            docs, "doc_id bigint, text string"
        ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    q = all_queries()["lexical_bm25_from_store"]
    write([(1, "dup key"), (2, "key row")])
    first = {(r.query_id, r.doc_id) for r in q(spark, sf).collect()}
    assert (0, 1) in first  # query 0 is "dup row detection"
    write([(7, "dup dup dup"), (8, "scan table")])
    second = {(r.query_id, r.doc_id) for r in q(spark, sf).collect()}
    assert (0, 7) in second and not any(d in (1, 2) for _, d in second)


# --------------------------------------------------------------------------
# TF-IDF sparse cosine pairs


def _pure_python_tfidf_pairs(postings, df_cap, threshold):
    """Independent reimplementation of the documented semantics (floor
    -scaled integer weights over the df-capped index, integer dot and
    norms, cosine from correctly-rounded sqrt/divide)."""
    import math
    from collections import defaultdict

    df = defaultdict(int)
    docs = set()
    for d, w, tf in postings:
        df[w] += 1
        docs.add(d)
    n = len(docs)
    vec = defaultdict(dict)
    for d, w, tf in postings:
        if df[w] <= df_cap:
            vec[d][w] = math.floor(100.0 * float(tf) * math.sqrt(float(n) / float(df[w])))
    out = {}
    ids = sorted(vec)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = set(vec[a]) & set(vec[b])
            if not shared:
                continue
            dot = sum(vec[a][w] * vec[b][w] for w in shared)
            na2 = sum(x * x for x in vec[a].values())
            nb2 = sum(x * x for x in vec[b].values())
            cos = float(dot) / (math.sqrt(float(na2)) * math.sqrt(float(nb2)))
            if cos >= threshold:
                out[(a, b)] = cos
    return out


def test_tfidf_cosine_matches_pure_python(spark):
    """Adversarial differential on a synthetic postings frame: random
    seeded corpora incl. a planted boilerplate term (df > cap, must
    vanish) and planted near-identical docs (must pair)."""
    import random

    from datawarehouse_project_spark.operators.retrieval import (
        TFIDF_DF_CAP,
        tfidf_cosine_pairs,
    )

    rng = random.Random(13)
    postings = []
    # 30 docs over a 40-term vocab, zipf-ish tf
    for d in range(30):
        terms = rng.sample(range(40), rng.randint(3, 10))
        for w in terms:
            postings.append((d, w, rng.randint(1, 4)))
    # planted near-dups: 100/101 share most terms
    for w, tf in [(50, 3), (51, 2), (52, 1), (53, 4)]:
        postings.append((100, w, tf))
        postings.append((101, w, tf))
    postings.append((100, 54, 1))
    # boilerplate term present in EVERY doc — df way over the cap
    for d in set(p[0] for p in postings):
        postings.append((d, 999, 5))
    counts = spark.createDataFrame(postings, "doc_id bigint, w bigint, tf bigint")
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in tfidf_cosine_pairs(counts, threshold=0.2, df_cap=TFIDF_DF_CAP).collect()
    }
    want = _pure_python_tfidf_pairs(postings, TFIDF_DF_CAP, 0.2)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])  # bit-exact, not approx
    assert (100, 101) in got and got[(100, 101)] > 0.9


def test_tfidf_registered_query_bounds(spark, sf_dir):
    from datawarehouse_project_spark.operators.retrieval import (
        TFIDF_THRESHOLD,
        lexical_tfidf_cosine_pairs,
    )

    rows = lexical_tfidf_cosine_pairs(spark, sf_dir).collect()
    assert rows, "fixture plants a near-dup cluster"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert TFIDF_THRESHOLD <= r.cosine <= 1.0 + 1e-12


def test_tfidf_plan_shape(spark, sf_dir):
    """The scale claims pinned: posting-list double-explode (Generate),
    NO pairs x norms join of any kind (norms ride inside the posting
    structs), and no cartesian anywhere (the 1-row n_docs frame rides
    a broadcast)."""
    from datawarehouse_project_spark.operators.retrieval import (
        lexical_tfidf_cosine_pairs,
    )

    plan = (
        lexical_tfidf_cosine_pairs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate explode(docs") == 2  # double-explode pairing
    assert "CartesianProduct" not in plan
    # norms ride inside the posting structs — no pairs x norms join
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan
    # the only nested-loop is the 1-row n_docs broadcast (BM25 idiom);
    # more would mean the weighted subtree is being replanned per consumer
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_tfidf_from_store_equals_from_text(spark, sf_correct_dir):
    """The maintained shingle-postings store must answer the pairs query
    bit-for-bit like the compute-from-text form (shared oracle)."""
    from datawarehouse_project_spark.catalog import all_queries

    a = all_queries()["lexical_tfidf_cosine_pairs"](
        spark, sf_correct_dir
    ).collect()
    b = all_queries()["lexical_tfidf_from_store"](
        spark, sf_correct_dir
    ).collect()
    assert len(a) > 0
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_tfidf_from_store_plan_touches_no_corpus_text(spark, sf_correct_dir):
    """The serving contract: the query plan reads only the (doc_id, w,
    sum_tf) state — no documents scan, no shingling expression."""
    from datawarehouse_project_spark.catalog import all_queries

    df = all_queries()["lexical_tfidf_from_store"](spark, sf_correct_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan


def test_served_shingles_rebuild_on_source_rewrite(spark, tmp_path):
    from datawarehouse_project_spark.catalog import all_queries

    sf = str(tmp_path / "sfs")

    def write(docs):
        spark.createDataFrame(
            docs, "doc_id bigint, text string"
        ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    q = all_queries()["lexical_tfidf_from_store"]
    # two docs sharing their 3-gram shingles exactly -> cosine 1.0
    write([(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
           (3, "zeta eta theta iota")])
    first = {(r.doc_a, r.doc_b) for r in q(spark, sf).collect()}
    assert (1, 2) in first
    write([(7, "one two three four"), (8, "one two three four"),
           (9, "five six seven eight")])
    second = {(r.doc_a, r.doc_b) for r in q(spark, sf).collect()}
    assert (7, 8) in second and (1, 2) not in second


def test_tfidf_envelope_guard_boundary(spark):
    """VERDICT r14 #5: outside the int64 envelope the failure mode
    depends on session confs the engine does not control — under
    Spark 4's ANSI default the job dies mid-task with an opaque
    ArithmeticException; under ansi=false it wraps SILENTLY (wrapped
    nrm2 → sqrt(negative)=NaN → the true cosine=1.0 pair just
    vanishes), diverging from DuckDB, which raises. ``checked=True``
    closes both: a descriptive pre-flight ValueError inside the edge,
    with the named mitigations (idf_cap / lower quantizer) restoring
    both the check and the right answer."""
    import duckdb
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import ArithmeticException

    from datawarehouse_project_spark.operators.retrieval import (
        tfidf_cosine_pairs,
        tfidf_weight_sql,
    )

    # two identical one-gram docs; a synthetic corpus-size of 1e14 docs
    # pushes wgt = floor(100·10·sqrt(1e14/2)) ≈ 7.07e9, wgt² ≈ 5e19 > 2⁶³
    counts = spark.createDataFrame(
        [(1, 42, 10), (2, 42, 10)], "doc_id bigint, w bigint, tf bigint"
    )
    n_docs = spark.createDataFrame([(10**14,)], "n_docs bigint")

    # unguarded under the ANSI default: an opaque runtime task failure
    with pytest.raises((ArithmeticException, Py4JJavaError)):
        tfidf_cosine_pairs(counts, n_docs=n_docs).collect()

    # unguarded under ansi=false: the SILENT wrap — wrapped nrm2 goes
    # negative, sqrt→NaN, and because Spark orders NaN ABOVE every
    # number the garbage pair sails through the >= threshold filter
    # with cosine=NaN (frames pin their plan at first access, so build
    # AFTER the conf)
    import math

    ansi_before = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        silent = tfidf_cosine_pairs(counts, n_docs=n_docs).collect()
        assert len(silent) == 1 and math.isnan(silent[0].cosine), silent
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi_before)

    # DuckDB on the same integer sum: loud out-of-range, never a wrap
    with pytest.raises(duckdb.OutOfRangeException):
        duckdb.sql(
            "SELECT CAST(SUM(w2) AS BIGINT) FROM (SELECT "
            "7071067811 * 7071067811 AS w2)"
        ).fetchall()

    # the guard closes both failure modes: a descriptive pre-flight
    # error naming the knobs, before any wrapping/dying job runs
    with pytest.raises(ValueError, match="envelope exceeded"):
        tfidf_cosine_pairs(counts, n_docs=n_docs, checked=True)

    # mitigation 1: cap the idf ratio — back inside, exact cosine 1.0
    got = tfidf_cosine_pairs(
        counts, n_docs=n_docs, checked=True, idf_cap=1000.0
    ).collect()
    assert [(r.doc_a, r.doc_b, r.cosine) for r in got] == [(1, 2, 1.0)]

    # mitigation 2: lower the quantizer — same effect
    got = tfidf_cosine_pairs(
        counts, n_docs=n_docs, checked=True, quantizer=1
    ).collect()
    assert [(r.doc_a, r.doc_b, r.cosine) for r in got] == [(1, 2, 1.0)]

    # default parameters regenerate the registered rows' shared formula
    # string byte-for-byte (the cross-engine hash-exactness contract)
    from datawarehouse_project_spark.operators.retrieval import TFIDF_WEIGHT

    assert tfidf_weight_sql() == TFIDF_WEIGHT


def test_tfidf_checked_is_noop_inside_envelope(spark, sf_dir):
    """checked=True on the registered fixture (deep inside the
    envelope) changes nothing — same pairs, same cosines."""
    from datawarehouse_project_spark.operators.retrieval import (
        shingle_counts,
        tfidf_cosine_pairs,
    )

    counts = shingle_counts(spark, sf_dir)
    base = sorted(map(tuple, tfidf_cosine_pairs(counts).collect()))
    checked = sorted(
        map(tuple, tfidf_cosine_pairs(counts, checked=True).collect())
    )
    assert base == checked and base


def test_tfidf_checked_survives_single_weight_overflow(spark):
    """Advisor r15: the checked=True pre-flight evaluates the weight in
    pure DOUBLE (tfidf_weight_sql(integer=False)), so even a SINGLE
    weight past int64 — where the integer formula's BIGINT cast would
    itself die with the opaque ANSI ArithmeticException the check
    exists to pre-empt — still yields the descriptive ValueError."""
    import pytest

    from datawarehouse_project_spark.operators.retrieval import (
        TFIDF_WEIGHT,
        tfidf_cosine_pairs,
        tfidf_weight_sql,
    )

    # one (doc, term) with tf=1e17, df=1, N=1 → weight = 1e19 > 2⁶³:
    # the cast alone overflows before any sum does
    counts = spark.createDataFrame(
        [(1, 7, 10**17)], "doc_id bigint, w bigint, tf bigint"
    )
    n_docs = spark.createDataFrame([(1,)], "n_docs bigint")
    with pytest.raises(ValueError, match="envelope exceeded"):
        tfidf_cosine_pairs(counts, n_docs=n_docs, checked=True)

    # the double form never touches an integer type (Spark's
    # FLOOR(double) returns BIGINT, so it uses the fmod floor) and
    # agrees with the integer form numerically inside the envelope
    dbl = tfidf_weight_sql(integer=False)
    assert "BIGINT" not in dbl and "FLOOR" not in dbl
    probe = spark.createDataFrame(
        [(3, 5, 20)], "tf bigint, df bigint, n_docs bigint"
    ).selectExpr(
        f"CAST({TFIDF_WEIGHT} AS DOUBLE) AS wi", f"{dbl} AS wd"
    ).collect()[0]
    assert probe.wi == probe.wd == 600.0  # floor(100*3*sqrt(4)) = 600


def test_served_plan_is_probe_proportional(spark, sf_correct_dir):
    """VERDICT r15 #3: the store-serving plan (lexical_topk_served) is
    probe-proportional — the query-term restriction reaches the parquet
    scan of the state as a pushed In(w, ...) filter, dl comes from the
    doc-length table instead of a window over the whole postings state
    (no windowspecdefinition over doc_id anywhere in the plan; the only
    window left is the per-query rank), and the two-table fold's states
    agree with each other (Σ postings tf per doc == dl)."""
    from datawarehouse_project_spark.catalog import all_queries
    from datawarehouse_project_spark.operators.retrieval import (
        served_postings,
    )

    df = all_queries()["lexical_bm25_from_store"](spark, sf_correct_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(w, [" in plan, plan[:2000]           # pushed term filter
    assert "windowspecdefinition(doc_id" not in plan  # no state-wide dl sort
    assert "windowspecdefinition(query_id" in plan    # rank window remains

    store = served_postings(spark, sf_correct_dir)
    from_postings = {
        (r.doc_id, r.dl)
        for r in store.counts(spark)
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("bigint").alias("dl"))
        .collect()
    }
    from_doclens = {
        (r.doc_id, r.dl) for r in store.doclens(spark).collect()
    }
    assert from_postings == from_doclens and from_postings


def test_served_probe_term_cap_is_loud(spark):
    """Advisor r16: the serving plan's driver-side term collect is
    bounded BY the contract check itself — a probe past max_probe_terms
    raises the descriptive contract error (and the limit() means the
    oversized set is never materialized first); at the boundary the
    probe serves normally."""
    import pytest

    from datawarehouse_project_spark.operators.retrieval import (
        lexical_topk_served,
    )

    counts = spark.createDataFrame(
        [(1, f"t{i}", 1) for i in range(8)], "doc_id bigint, w string, tf bigint"
    )
    doclens = spark.createDataFrame([(1, 8)], "doc_id bigint, dl bigint")
    six_terms = spark.createDataFrame(
        [(0, "t0 t1 t2 t3 t4 t5")], "query_id bigint, qtext string"
    )
    with pytest.raises(ValueError, match="broadcast-query"):
        lexical_topk_served(counts, doclens, six_terms, max_probe_terms=5)
    # exactly on the cap: served, not refused
    got = lexical_topk_served(
        counts, doclens, six_terms, max_probe_terms=6
    ).collect()
    assert [(r.query_id, r.doc_id) for r in got] == [(0, 1)]


# --------------------------------------------------------------------------
# RRF hybrid fusion


def test_rrf_fusion_handles_single_list_docs_and_diverging_ranks(spark):
    """Truncated-list semantics on a planted corpus: the two retrievers
    must genuinely disagree (BM25's length normalization demotes the
    long doc the unnormalized dot promotes), a doc present in only ONE
    top-k list still scores (NULL leg -> 0, not NULL), and rrf equals
    the hand-computed 1/(60+ra) + 1/(60+rb)."""
    from datawarehouse_project_spark.operators.retrieval import (
        lexical_topk,
        rrf_fuse,
        tfidf_dot_topk,
    )

    # doc 1: short, one 'dup' -> BM25 likes it (length norm)
    # doc 2: long, many 'dup' -> unnormalized dot likes it (tf piles up)
    docs = spark.createDataFrame(
        [
            (1, "dup pad"),
            (2, "dup dup dup dup " + " ".join(f"x{i}" for i in range(40))),
            (3, "other words entirely"),
        ],
        "doc_id bigint, text string",
    )
    q = spark.createDataFrame([(0, "dup")], "query_id bigint, qtext string")
    a = {r.doc_id: r.rnk for r in lexical_topk(docs, q, k=2).collect()}
    b = {r.doc_id: r.rnk for r in tfidf_dot_topk(docs, q, k=2).collect()}
    assert a == {1: 1, 2: 2}, a   # BM25: short doc first
    assert b == {2: 1, 1: 2}, b   # dot: high-tf doc first

    fused = {
        r.doc_id: (r.rrf_score, r.rnk)
        for r in rrf_fuse(
            lexical_topk(docs, q, k=2), tfidf_dot_topk(docs, q, k=1)
        ).collect()
    }
    # doc 1 appears only in the BM25 list (k=1 truncated the dot list)
    assert fused[1][0] == 1.0 / 61.0
    assert fused[2][0] == 1.0 / 62.0 + 1.0 / 61.0
    assert fused[2][1] == 1 and fused[1][1] == 2


def test_rrf_registered_query_covers_both_retrievers(spark, sf_dir):
    """Every fused row ranks within both legs' union; per-query output
    is exactly top-k with dense ranks; both legs contribute somewhere
    (the fixture corpus makes the rankings diverge)."""
    from datawarehouse_project_spark.catalog import all_queries
    from datawarehouse_project_spark.operators.retrieval import LEXICAL_K

    rows = all_queries()["retrieval_rrf_fusion"](spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= LEXICAL_K
        assert rs == sorted(rs, key=lambda r: (-r.rrf_score, r.doc_id))


def test_rrf_from_store_equals_text_form(spark, sf_correct_dir):
    """VERDICT r17 #4: the served fusion must answer bit-for-bit like
    the compute-from-text fusion (shared oracle) — the BM25 leg through
    lexical_topk_served and the dot leg through tfidf_dot_topk_served,
    both probing the SAME maintained postings + doclen state."""
    from datawarehouse_project_spark.catalog import all_queries

    a = all_queries()["retrieval_rrf_fusion"](spark, sf_correct_dir).collect()
    b = all_queries()["retrieval_rrf_from_store"](
        spark, sf_correct_dir
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_rrf_from_store_plan_touches_no_corpus_text(spark, sf_correct_dir):
    """Hybrid retrieval as a serving composition: no documents scan
    anywhere in the executed plan — both legs read the maintained
    state (the 4-corpus-scan text form becomes two pushed probes)."""
    from datawarehouse_project_spark.catalog import all_queries

    df = all_queries()["retrieval_rrf_from_store"](spark, sf_correct_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan


def test_dot_served_probe_term_cap_is_loud(spark):
    """The dot leg's serving probe shares the bounded term-collect
    contract (same _probe_terms head as lexical_topk_served): past the
    cap, a descriptive error naming THIS caller; at the cap, served."""
    import pytest

    from datawarehouse_project_spark.operators.retrieval import (
        tfidf_dot_topk_served,
    )

    counts = spark.createDataFrame(
        [(1, f"t{i}", 1) for i in range(8)], "doc_id bigint, w string, tf bigint"
    )
    doclens = spark.createDataFrame([(1, 8)], "doc_id bigint, dl bigint")
    six_terms = spark.createDataFrame(
        [(0, "t0 t1 t2 t3 t4 t5")], "query_id bigint, qtext string"
    )
    with pytest.raises(ValueError, match="tfidf_dot_topk_served"):
        tfidf_dot_topk_served(counts, doclens, six_terms, max_probe_terms=5)
    got = tfidf_dot_topk_served(
        counts, doclens, six_terms, max_probe_terms=6
    ).collect()
    assert [(r.query_id, r.doc_id) for r in got] == [(0, 1)]


def test_lexical_topk_duplicate_doc_ids_score_as_independent_docs(spark):
    """Advisor r17: pin the r17 contract change — the text form scores
    each input ROW as its own document (the old postings-fold form
    merged duplicate ids into one synthetic doc). With duplicate ids of
    DISTINCT text, corpus stats (n_docs, sum_dl, df) count the rows
    independently, and the final per-doc_id score is the SUM of what
    the same texts would score under distinct ids — so a non-PK caller
    has a regression signal, and the documents-PK contract stays
    documented behavior rather than silence."""
    from datawarehouse_project_spark.operators.retrieval import (
        lexical_topk,
    )

    q = spark.createDataFrame([(0, "dup")], "query_id bigint, qtext string")
    schema = "doc_id bigint, text string"
    # corpus A: all-distinct ids; corpus B: rows 10/11 share id 1
    texts = [(10, "dup pad"), (11, "dup dup filler words here"), (2, "dup")]
    a = {
        r.doc_id: r.score
        for r in lexical_topk(
            spark.createDataFrame(texts, schema), q, k=10
        ).collect()
    }
    b = {
        r.doc_id: r.score
        for r in lexical_topk(
            spark.createDataFrame(
                [(1, texts[0][1]), (1, texts[1][1]), (2, texts[2][1])], schema
            ),
            q,
            k=10,
        ).collect()
    }
    assert set(b) == {1, 2}
    assert b[1] == a[10] + a[11]
    assert b[2] == a[2]
