"""Streaming BM25 postings fold (VERDICT r13 #4): stream == batch over
the whole corpus, exactly-once under full replay, and tf additivity when
one document's rows arrive split across micro-batches."""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import functions as F

from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.retrieval import (
    LEXICAL_QUERIES,
    StreamingPostingsStore,
)


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane checks `lexical_bm25_from_stream` and
# `lexical_tfidf_from_stream` (one full-corpus fold) against their
# sf0.001 oracles; replay, split-document folds, restarts and compaction
# of the postings store are checked only here.
pytestmark = pytest.mark.slow


def _topk_set(df):
    return sorted((r.query_id, r.doc_id, r.score, r.rnk) for r in df.collect())


def test_streaming_postings_stream_equals_batch_and_replays(
    spark, sf_dir, tmp_path
):
    """availableNow micro-batches through StreamingPostingsStore: the
    served top-k converges to the batch operator's answer over the whole
    corpus, and re-running the stream (same app, fresh epoch ids 0..n)
    changes nothing — the ledger absorbs the replay."""
    from datawarehouse_project_spark.catalog import all_queries

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.withColumn("part", (F.col("doc_id") % 3).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    store = StreamingPostingsStore(str(tmp_path / "postings"))

    def run():
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: store.apply_batch(spark, bdf, batch_id=bid)
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    q = spark.createDataFrame(LEXICAL_QUERIES, "query_id bigint, qtext string")
    streamed = _topk_set(store.topk(spark, q))
    batch = _topk_set(all_queries()["lexical_bm25_topk"](spark, sf_dir))
    assert streamed == batch

    version = store.rollup.table.current_version()
    run()  # full replay — every epoch id re-delivered
    assert store.rollup.table.current_version() == version
    assert _topk_set(store.topk(spark, q)) == streamed


def test_streaming_postings_tf_additive_across_split_doc(spark, tmp_path):
    """One document's text arriving in two micro-batches folds to the
    same postings as the concatenated arrival — the additivity that
    makes the stream fold exact under any batching."""
    store = StreamingPostingsStore(str(tmp_path / "split"))
    b0 = spark.createDataFrame([(1, "dup row"), (2, "key")],
                               "doc_id bigint, text string")
    b1 = spark.createDataFrame([(1, "dup scan")], "doc_id bigint, text string")
    store.apply_batch(spark, b0, batch_id=0)
    store.apply_batch(spark, b1, batch_id=1)
    got = {
        (r.doc_id, r.w): r.tf for r in store.counts(spark).collect()
    }
    assert got[(1, "dup")] == 2  # summed across the two partial arrivals
    assert got[(1, "row")] == 1 and got[(1, "scan")] == 1
    assert got[(2, "key")] == 1


def test_streaming_postings_empty_store_is_loud(spark, tmp_path):
    import pytest

    store = StreamingPostingsStore(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="empty postings store"):
        store.counts(spark)


def test_streaming_shingle_store_serves_tfidf(spark, sf_dir, tmp_path):
    """The generalized fold (counts_fn=shingle_counts_of) streams the
    word-3-gram store; TF-IDF pairs served from the streamed state are
    bit-identical to the batch registered query, and replay is a
    no-op."""
    from datawarehouse_project_spark.catalog import all_queries
    from datawarehouse_project_spark.operators.retrieval import (
        shingle_counts_of,
        tfidf_cosine_pairs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.withColumn("part", (F.col("doc_id") % 3).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    store = StreamingPostingsStore(
        str(tmp_path / "shingles"), counts_fn=shingle_counts_of,
        with_doclen=False,  # TF-IDF serving never reads dl (advisor, r16)
    )

    def run():
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: store.apply_batch(spark, bdf, batch_id=bid)
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    streamed = sorted(
        (r.doc_a, r.doc_b, r.cosine)
        for r in tfidf_cosine_pairs(store.counts(spark)).collect()
    )
    batch = sorted(
        (r.doc_a, r.doc_b, r.cosine)
        for r in all_queries()["lexical_tfidf_cosine_pairs"](
            spark, sf_dir
        ).collect()
    )
    assert streamed == batch and len(streamed) > 0

    version = store.rollup.table.current_version()
    run()  # full replay
    assert store.rollup.table.current_version() == version

    # with_doclen=False really skips the second rollup: no doclen state
    # was ever written, and asking for it is loud, not a crash downstream
    import os

    import pytest

    assert not os.path.exists(str(tmp_path / "shingles" / "doclen"))
    with pytest.raises(ValueError, match="with_doclen"):
        store.doclens(spark)
    # rrf_topk guards the same contract AT ENTRY (VERDICT r18 #4): the
    # BM25 leg needs doc lengths, and the error names the knob instead
    # of failing inside lexical_topk_served on a missing table.
    q = spark.createDataFrame([(1, "x")], "query_id bigint, qtext string")
    with pytest.raises(ValueError, match="with_doclen=True"):
        store.rrf_topk(spark, q)


def test_registered_stream_row_equals_batch_and_reuses_memo(spark, sf_dir):
    """The r16 driver row: lexical_bm25_from_stream (a real availableNow
    fold through StreamingPostingsStore in a served root) answers
    identically to the compute-from-text operator, and a second call
    serves from the session's state without re-folding."""
    from datawarehouse_project_spark.catalog import all_queries
    from datawarehouse_project_spark.operators import retrieval as R

    qs = all_queries()
    first = _topk_set(qs["lexical_bm25_from_stream"](spark, sf_dir))
    batch = _topk_set(qs["lexical_bm25_topk"](spark, sf_dir))
    assert first == batch and first

    # state hit: same root, no rebuild
    def root():
        return R.served_stream_postings(spark, sf_dir).rollup.table.root

    root_before = root()
    again = _topk_set(qs["lexical_bm25_from_stream"](spark, sf_dir))
    assert again == first
    assert root() == root_before


def test_streaming_postings_restart_recovery(spark, sf_dir, tmp_path):
    """VERDICT r15 next-4: the exactly-once claim survives a RESTART,
    not just an in-session replay. The foreachBatch sink crashes AFTER
    the state commit of epoch 1 but BEFORE the checkpoint acks it — the
    classic at-least-once window — and a NEW SparkSession resuming on
    the same checkpoint_dir re-delivers that epoch. The rollup's
    (app_id, batch_id) ledger must absorb the re-delivery: final state
    version and served top-k equal an uninterrupted run's."""
    import pyspark.sql.types as T
    import pytest
    from pyspark.errors import StreamingQueryException

    from datawarehouse_project_spark.catalog import all_queries
    from datawarehouse_project_spark.io import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.withColumn("part", (F.col("doc_id") % 4).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    ckpt = str(tmp_path / "ckpt")
    store = StreamingPostingsStore(str(tmp_path / "postings"))

    crashed = {"fired": False}

    def poison(bdf, bid):
        store.apply_batch(spark, bdf, batch_id=bid)
        if bid == 1 and not crashed["fired"]:
            crashed["fired"] = True
            raise RuntimeError("injected crash after state commit")

    def run(sess, sink):
        (
            sess.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    with pytest.raises(StreamingQueryException):
        run(spark, poison)
    assert crashed["fired"]
    v_crash = store.rollup.table.current_version()

    # resume with a NEW session on the same checkpoint: epoch 1 is
    # re-delivered first (it never acked) — the ledger must make the
    # re-apply a no-op before epochs 2..3 fold normally
    spark2 = spark.newSession()
    run(
        spark2,
        lambda bdf, bid: store.apply_batch(spark2, bdf, batch_id=bid),
    )
    v_final = store.rollup.table.current_version()
    # epochs 0 and 1 committed pre-crash; only 2 and 3 commit post-resume
    assert v_final == v_crash + 2

    q = spark.createDataFrame(LEXICAL_QUERIES, "query_id bigint, qtext string")
    resumed = _topk_set(store.topk(spark, q))
    batch = _topk_set(all_queries()["lexical_bm25_topk"](spark, sf_dir))
    assert resumed == batch


def test_postings_restart_recovery_across_processes(spark, tmp_path):
    """VERDICT r16 #3: the strongest restart form — resume in a NEW
    PROCESS (fresh JVM) — extended from session windows to the stateful
    STORE family. Phase 1 crashes the foreachBatch sink after the state
    commit of epoch 1 (the unacked-epoch window); phase 2, a separate
    interpreter + JVM on the same checkpoint_dir, re-delivers that
    epoch: the on-disk (app_id, batch_id) ledger must absorb it — the
    re-applied fold returns the crash-time version unchanged — and the
    drained store must serve exactly what an uninterrupted single-batch
    fold over the same corpus serves."""
    import json
    import os
    import subprocess
    import sys

    docs = [
        (1, "dup row dup"),
        (2, "key row scan"),
        (3, "dup dup scan"),
        (4, "row key dup"),
        (5, "scan scan key"),
        (6, "dup key row"),
        (7, "row row row"),
        (8, "key dup scan"),
    ]
    src = str(tmp_path / "xsrc")
    (
        spark.createDataFrame(docs, "doc_id bigint, text string")
        .withColumn("part", (F.col("doc_id") % 4).cast("int"))
        .repartition(1)
        .write.partitionBy("part")
        .parquet(src)
    )
    ckpt = str(tmp_path / "xckpt")
    root = str(tmp_path / "xstore")
    out = str(tmp_path / "xlog.jsonl")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver = r"""
import json, sys
sys.path.insert(0, {repo!r})
import pyspark.sql.types as T
from pyspark.sql import SparkSession
from datawarehouse_project_spark.operators.retrieval import (
    StreamingPostingsStore,
)

mode, src, ckpt, root, out = sys.argv[1:6]
spark = (SparkSession.builder.master("local[4]")
         .appName("xproc-postings-" + mode)
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
store = StreamingPostingsStore(root)

def sink(bdf, bid):
    version = store.apply_batch(spark, bdf, batch_id=bid)
    with open(out, "a") as f:
        f.write(json.dumps({{"mode": mode, "bid": bid, "version": version}})
                + "\n")
    if mode == "crash" and bid == 1:
        raise RuntimeError("injected crash after state commit")

schema = T.StructType([T.StructField("doc_id", T.LongType()),
                       T.StructField("text", T.StringType())])
try:
    (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
     .parquet(src)
     .writeStream.foreachBatch(sink)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination())
    print("DRAINED")
except Exception as e:
    print("DIED:" + type(e).__name__)
if mode == "resume":
    q = spark.createDataFrame([(0, "dup"), (1, "row"), (2, "scan key")],
                              "query_id bigint, qtext string")
    rows = sorted([r.query_id, r.doc_id, r.score, r.rnk]
                  for r in store.topk(spark, q).collect())
    with open(out, "a") as f:
        f.write(json.dumps({{"mode": "served", "rows": rows}}) + "\n")
""".format(repo=repo)

    def phase(mode):
        return subprocess.run(
            [sys.executable, "-c", driver, mode, src, ckpt, root, out],
            capture_output=True, text=True, timeout=300,
        )

    p1 = phase("crash")
    assert "DIED:" in p1.stdout, (p1.stdout[-500:], p1.stderr[-500:])
    p2 = phase("resume")
    assert "DRAINED" in p2.stdout, (p2.stdout[-500:], p2.stderr[-500:])

    log = [json.loads(line) for line in open(out)]
    crash = {d["bid"]: d["version"] for d in log if d["mode"] == "crash"}
    resume = [d for d in log if d["mode"] == "resume"]
    assert set(crash) == {0, 1}  # epoch 1 committed, then the crash
    # the NEW process re-delivered the unacked epoch 1 FIRST, and the
    # on-disk ledger absorbed it: same version back, no extra commit
    assert resume[0]["bid"] == 1
    assert resume[0]["version"] == crash[1]
    # then the remaining epochs folded normally, one commit each
    assert [d["bid"] for d in resume] == [1, 2, 3]
    assert [d["version"] for d in resume[1:]] == [crash[1] + 1, crash[1] + 2]

    # the recovered store serves exactly what an uninterrupted fold does
    (served,) = [d["rows"] for d in log if d["mode"] == "served"]
    control = StreamingPostingsStore(str(tmp_path / "xctl"))
    control.apply_batch(
        spark,
        spark.createDataFrame(docs, "doc_id bigint, text string"),
        batch_id=0,
    )
    q = spark.createDataFrame(
        [(0, "dup"), (1, "row"), (2, "scan key")],
        "query_id bigint, qtext string",
    )
    want = sorted(
        [r.query_id, r.doc_id, r.score, r.rnk]
        for r in control.topk(spark, q).collect()
    )
    assert served == want and len(served) > 0


def test_postings_store_optimize_clusters_for_the_probe(spark, sf_dir, tmp_path):
    """Maintenance composition (r16): OPTIMIZE the postings state with
    cluster_key="w" and the probe-proportional serving plan's pushed
    In(w, ...) filter gets DISJOINT per-file term ranges to skip — the
    file-level pruning a probe over a many-commit streamed store needs
    at corpus scale. Rows, serving answer, and the replay ledger are
    all unchanged by the rewrite."""
    import os

    import pyarrow.parquet as pq

    from datawarehouse_project_spark.catalog import all_queries
    from datawarehouse_project_spark.io import table as load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = StreamingPostingsStore(str(tmp_path / "store"))
    # several commits so the pre-OPTIMIZE layout interleaves terms
    for i in range(3):
        store.apply_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), batch_id=i
        )
    q = spark.createDataFrame(LEXICAL_QUERIES, "query_id bigint, qtext string")
    before = _topk_set(store.topk(spark, q))
    assert before == _topk_set(all_queries()["lexical_bm25_topk"](spark, sf_dir))

    t = store.rollup.table
    t.compact(spark, target_files=4, cluster_key="w")

    # per-file w ranges disjoint => the pushed In(w) filter skips files
    files = sorted(
        e.path
        for e in os.scandir(t.current_path())
        if e.name.endswith(".parquet")
    )
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        wi = md.schema.names.index("w")
        ks = [
            (md.row_group(i).column(wi).statistics.min,
             md.row_group(i).column(wi).statistics.max)
            for i in range(md.num_row_groups)
        ]
        ranges.append((min(lo for lo, _ in ks), max(hi for _, hi in ks)))
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file term ranges overlap: {ranges}"

    # serving answer and ledger unchanged; a replayed epoch still absorbs
    assert _topk_set(store.topk(spark, q)) == before
    v = t.current_version()
    store.apply_batch(spark, docs.filter(F.col("doc_id") % 3 == 1), batch_id=1)
    assert t.current_version() == v


def test_torn_read_between_commits_is_benign(spark, tmp_path):
    """r16 review finding: the two-table fold is not atomic, so a read
    between the commits of one epoch must be BENIGN, not wrong. Commit
    order is doclen-first / postings-last, so in the torn state the
    half-applied batch's docs are invisible to the serving join (they
    never match postings) and no previously-served doc drops or sees an
    inconsistent df; the only tear is n_docs/sum_dl already counting
    the incoming docs (a bounded idf/avg-dl shift). Completing the
    epoch converges to the full answer."""
    store = StreamingPostingsStore(str(tmp_path / "torn"))
    b0 = spark.createDataFrame(
        [(1, "dup row dup"), (2, "key row")], "doc_id bigint, text string"
    )
    b1 = spark.createDataFrame(
        [(3, "dup dup dup scan")], "doc_id bigint, text string"
    )
    q = spark.createDataFrame([(0, "dup"), (1, "row")],
                              "query_id bigint, qtext string")
    store.apply_batch(spark, b0, batch_id=0)
    full0 = _topk_set(store.topk(spark, q))
    assert {d for _, d, _, _ in full0} == {1, 2}

    # simulate the torn state: epoch 1's doclen committed, postings not
    # (exactly what a crash between the two commits leaves behind)
    from datawarehouse_project_spark.operators.retrieval import term_counts

    c1 = term_counts(b1)
    store.doclen.apply_batch(
        spark,
        c1.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("tf")),
        batch_id=1,
        app_id="postings-stream",
    )
    torn = _topk_set(store.topk(spark, q))
    # no doc appears or vanishes: doc 3 is not served until its postings
    # commit, docs 1 and 2 are all still there with consistent tf/df/dl
    assert {(qid, d) for qid, d, _, _ in torn} == {
        (qid, d) for qid, d, _, _ in full0
    }

    # re-delivering the epoch (the resume path) completes it: the doclen
    # ledger absorbs its duplicate, the postings fold lands, and the
    # answer now includes doc 3 exactly as an uninterrupted run would
    store.apply_batch(spark, b1, batch_id=1)
    done = _topk_set(store.topk(spark, q))
    control = StreamingPostingsStore(str(tmp_path / "ctl"))
    control.apply_batch(spark, b0, batch_id=0)
    control.apply_batch(spark, b1, batch_id=1)
    assert done == _topk_set(control.topk(spark, q))
    assert any(d == 3 for _, d, _, _ in done)


def test_torn_read_update_batch_tear_is_bounded(spark, tmp_path):
    """Advisor r16: for a batch RE-TOUCHING an existing doc_id (split-doc
    micro-batching) the torn state is wider than the new-doc case — the
    touched doc serves with its UPDATED dl against its stale tf, an
    understated score for that doc only. In the torn state the corpus
    stats (n_docs, sum_dl) are already the POST-batch values (doclen is
    fully committed), so the sharp pins are against the COMPLETED
    answer: no doc appears or vanishes, untouched docs already serve
    their final scores, the touched doc alone understates (stale tf
    under the final dl/stats), and completing the epoch converges to an
    uninterrupted control."""
    from datawarehouse_project_spark.operators.retrieval import term_counts

    store = StreamingPostingsStore(str(tmp_path / "upd"))
    b0 = spark.createDataFrame(
        [(1, "dup row dup"), (2, "key row")], "doc_id bigint, text string"
    )
    # epoch 1 re-touches doc 1: two more "dup" tokens (dl 3 → 5)
    b1 = spark.createDataFrame([(1, "dup dup")], "doc_id bigint, text string")
    q = spark.createDataFrame(
        [(0, "dup"), (1, "row")], "query_id bigint, qtext string"
    )
    store.apply_batch(spark, b0, batch_id=0)
    full0 = {(qid, d): s for qid, d, s, _ in _topk_set(store.topk(spark, q))}

    # torn state: epoch 1's doclen committed, postings not
    c1 = term_counts(b1)
    store.doclen.apply_batch(
        spark,
        c1.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("tf")),
        batch_id=1,
        app_id="postings-stream",
    )
    torn = {(qid, d): s for qid, d, s, _ in _topk_set(store.topk(spark, q))}
    assert set(torn) == set(full0)  # no doc appears or vanishes

    # completing the epoch converges to the uninterrupted control
    store.apply_batch(spark, b1, batch_id=1)
    control = StreamingPostingsStore(str(tmp_path / "uctl"))
    control.apply_batch(spark, b0, batch_id=0)
    control.apply_batch(spark, b1, batch_id=1)
    done = _topk_set(store.topk(spark, q))
    assert done == _topk_set(control.topk(spark, q))
    final = {(qid, d): s for qid, d, s, _ in done}
    # untouched doc 2 already served its FINAL scores through the tear
    # (its tf/df/dl and the corpus stats were all post-batch values)
    assert torn[(1, 2)] == final[(1, 2)]
    assert torn[(1, 1)] == final[(1, 1)]  # doc 1's un-touched term too
    # the touched (doc, term): stale tf under the final dl/stats —
    # understated relative to the completed answer, the one-notch tear
    assert torn[(0, 1)] < final[(0, 1)]


def test_streamed_stores_rebuild_on_source_rewrite(spark, tmp_path):
    """Served-state lifecycle for BOTH streamed stores (the same
    rewrite-staleness contract every other store family carries): a
    rewritten documents source invalidates the entry's mtime token and
    the next query re-folds the stream over the new corpus."""
    from datawarehouse_project_spark.catalog import all_queries

    sf = str(tmp_path / "sfs")

    def write(docs):
        spark.createDataFrame(
            docs, "doc_id bigint, text string"
        ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    q = all_queries()["lexical_bm25_from_stream"]
    write([(1, "dup key"), (2, "key row")])
    first = {(r.query_id, r.doc_id) for r in q(spark, sf).collect()}
    assert (0, 1) in first  # query 0 is "dup row detection"
    write([(7, "dup dup dup"), (8, "scan table")])
    second = {(r.query_id, r.doc_id) for r in q(spark, sf).collect()}
    assert (0, 7) in second and not any(d in (1, 2) for _, d in second)


def test_tfidf_stream_row_equals_batch(spark, sf_dir):
    """The streamed shingle store answers the pairs query identically to
    the compute-from-text registered row (shared oracle)."""
    from datawarehouse_project_spark.catalog import all_queries

    qs = all_queries()
    streamed = sorted(
        map(tuple, qs["lexical_tfidf_from_stream"](spark, sf_dir).collect())
    )
    batch = sorted(
        map(tuple, qs["lexical_tfidf_cosine_pairs"](spark, sf_dir).collect())
    )
    assert streamed == batch and streamed
