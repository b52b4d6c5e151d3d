"""Persisted IVF+int8 index: serving-path parity with the inline
operator, batch-order independence, replay safety, and the index-scan
plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_project_spark.catalog import all_queries
from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.ann_index import IvfVectorIndex
from datawarehouse_project_spark.operators.similarity import N_QUERIES


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane checks the sf0.001 oracles of the similarity rows that
# read the served index (`served_vector_index`) and the IVF plan shapes;
# batch-order independence, replay, compaction, removal and centroid
# drift of the index are checked only here.
pytestmark = pytest.mark.slow


def _canon_topk(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.qdot, round(r.approx_dot, 12), r.rank)
        for r in df.collect()
    )


def _canon_index(df):
    return sorted(
        (r.vec_id, r.cluster_id, r.scale, tuple(r.qvec)) for r in df.collect()
    )


def test_index_query_equals_inline_operator(spark, sf_dir, tmp_path):
    """A full-corpus index must answer the standard query set with
    EXACTLY the inline similarity_ivf_quantized_topk rows (same integer
    dot products, same de-quantized ranking, same tie-breaks)."""
    emb = table(spark, sf_dir, "embeddings")
    idx = IvfVectorIndex(str(tmp_path / "ivf"))
    idx.add_batch(spark, emb, batch_id=0)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    got = _canon_topk(idx.query_topk(spark, queries))
    want = _canon_topk(
        all_queries()["similarity_ivf_quantized_topk"](spark, sf_dir)
    )
    assert got == want and len(got) > 0


def test_incremental_build_equals_one_shot(spark, sf_dir, tmp_path):
    """Appending the corpus in halves must produce the bit-identical
    index state as one add_batch of everything (fixed centroid literals
    make assignment batch-order independent), and replaying an applied
    batch must change nothing."""
    emb = table(spark, sf_dir, "embeddings")
    lo = emb.filter(F.col("vec_id") % 2 == 0)
    hi = emb.filter(F.col("vec_id") % 2 == 1)

    inc = IvfVectorIndex(str(tmp_path / "inc"))
    inc.add_batch(spark, lo, batch_id=0)
    inc.add_batch(spark, hi, batch_id=1)
    full = IvfVectorIndex(str(tmp_path / "full"))
    full.add_batch(spark, emb, batch_id=0)
    assert _canon_index(inc.read(spark)) == _canon_index(full.read(spark))

    before = inc.table.current_version()
    inc.add_batch(spark, hi, batch_id=1)  # replay
    assert inc.table.current_version() == before


def test_updated_vector_reassigns_last_wins(spark, sf_dir, tmp_path):
    """Re-adding a vec_id with a NEW embedding must replace its index
    row (assignment + payload recomputed) — upsert semantics."""
    emb = table(spark, sf_dir, "embeddings")
    idx = IvfVectorIndex(str(tmp_path / "upd"))
    idx.add_batch(spark, emb, batch_id=0)
    n = idx.read(spark).count()
    moved = emb.filter(F.col("vec_id") == 0).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    idx.add_batch(spark, moved, batch_id=1)
    after = idx.read(spark)
    assert after.count() == n
    row_new = after.filter(F.col("vec_id") == 0).first()
    expect = idx._index_rows(moved).first()
    assert row_new.cluster_id == expect.cluster_id
    assert list(row_new.qvec) == list(expect.qvec)


def test_query_scan_reads_index_not_embeddings(spark, sf_dir, tmp_path):
    """The serving point: the corpus side of the query plan scans the
    INDEX parquet (cluster_id/scale/qvec) — no embedding column, no
    assignment arithmetic over the corpus."""
    import re

    emb = table(spark, sf_dir, "embeddings")
    idx = IvfVectorIndex(str(tmp_path / "plan"))
    idx.add_batch(spark, emb, batch_id=0)
    q = idx.query_topk(spark, emb.filter(F.col("vec_id") < N_QUERIES))
    p = q._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan parquet [^\n]*ReadSchema: ([^\n]*)", p)
    index_scans = [s for s in scans if "qvec" in s]
    assert index_scans, p
    for s in index_scans:
        assert "embedding" not in s, s
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_streaming_embedding_ingest_foreachbatch(spark, sf_dir, tmp_path):
    """The index is foreachBatch-ready: micro-batched embedding ingest
    must converge to the one-shot build, and a full no-checkpoint replay
    (crash recovery worst case) must leave the index version and state
    unchanged — the same contract as the streaming LSH dedup store."""
    emb = table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "src")
    emb.withColumn("part", (F.col("vec_id") % 3).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)
    idx = IvfVectorIndex(str(tmp_path / "stream"))

    def run_stream():
        (
            spark.readStream.schema(
                spark.read.parquet(src).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: idx.add_batch(
                    spark, bdf.select("vec_id", "embedding"), batch_id=bid
                )
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_stream()
    one_shot = IvfVectorIndex(str(tmp_path / "oneshot"))
    one_shot.add_batch(spark, emb, batch_id=0)
    assert _canon_index(idx.read(spark)) == _canon_index(one_shot.read(spark))
    v = idx.table.current_version()
    run_stream()  # full replay, no checkpoint
    assert idx.table.current_version() == v
    assert _canon_index(idx.read(spark)) == _canon_index(one_shot.read(spark))


def test_remove_drops_vectors_from_results(spark, sf_dir, tmp_path):
    """Deleted vectors vanish from query answers (the takedown path),
    the removal is replay-safe, and remaining answers re-rank exactly as
    if the index had been built without the removed ids."""
    emb = table(spark, sf_dir, "embeddings")
    idx = IvfVectorIndex(str(tmp_path / "del"))
    idx.add_batch(spark, emb, batch_id=0)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    first = idx.query_topk(spark, queries)
    victims = {r.neighbor_id for r in first.filter(F.col("rank") == 1).collect()}
    victims_df = spark.createDataFrame(
        [(int(v),) for v in victims], "vec_id long"
    )
    v = idx.remove(spark, victims_df, batch_id=0)
    after = idx.query_topk(spark, queries)
    assert not (
        {r.neighbor_id for r in after.collect()} & victims
    ), "removed vectors still returned"
    # equivalent to an index never containing the victims
    clean = IvfVectorIndex(str(tmp_path / "clean"))
    clean.add_batch(
        spark,
        emb.join(victims_df, "vec_id", "left_anti"),
        batch_id=0,
    )
    assert _canon_topk(after) == _canon_topk(clean.query_topk(spark, queries))
    # replay of the same removal batch is absorbed
    assert idx.remove(spark, victims_df, batch_id=0) == v


def test_concurrent_index_writers_lose_no_vectors(spark, sf_dir, tmp_path):
    """Two writers race disjoint vector halves into one index: last-wins
    upsert retries on lost CAS, so the final index equals the one-shot
    build bit-for-bit."""
    import threading

    emb = table(spark, sf_dir, "embeddings")
    halves = {
        "A": emb.filter(F.col("vec_id") % 2 == 0).localCheckpoint(eager=True),
        "B": emb.filter(F.col("vec_id") % 2 == 1).localCheckpoint(eager=True),
    }
    root = str(tmp_path / "race")
    errors = []

    def writer(name):
        try:
            IvfVectorIndex(root).add_batch(
                spark, halves[name], batch_id=0, app_id=f"w{name}"
            )
        except Exception as exc:  # pragma: no cover
            errors.append((name, exc))

    threads = [threading.Thread(target=writer, args=(n,)) for n in ("A", "B")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    full = IvfVectorIndex(str(tmp_path / "full"))
    full.add_batch(spark, emb, batch_id=0)
    assert _canon_index(IvfVectorIndex(root).read(spark)) == _canon_index(
        full.read(spark)
    )


# ---------------------------------------------------------------------------
# Trained-quantizer build path (VERDICT r9 #4): IvfVectorIndex.build trains
# centroids from the corpus itself — no hand-supplied quantizer.


def test_build_trains_persists_and_reloads_centroids(spark, sf_dir, tmp_path):
    """build() must train a k-centroid quantizer from the corpus, persist
    it beside the table, and hand every FRESH handle on the root the
    identical quantizer (JSON round-trips float64 exactly via repr
    semantics), so later appends assign consistently."""
    from datawarehouse_project_spark.operators.similarity import DIM, K_IVF

    emb = table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "trained")
    idx = IvfVectorIndex.build(spark, emb, root)
    assert idx.centroids is not None
    assert len(idx.centroids) == K_IVF
    assert all(len(c) == DIM for c in idx.centroids)
    fresh = IvfVectorIndex(root)
    assert fresh.centroids == idx.centroids
    assert _canon_index(fresh._index_rows(emb)) == _canon_index(
        idx._index_rows(emb)
    )
    # the built index holds the whole corpus, assigned with the trained set
    assert _canon_index(idx.read(spark)) == _canon_index(idx._index_rows(emb))


def test_trained_build_is_input_order_independent(spark, sf_dir, tmp_path):
    """The hash-sample is keyed on vec_id, not on partitioning or row
    order — re-building from an arbitrarily repartitioned/reordered frame
    must yield the identical quantizer and identical index rows."""
    emb = table(spark, sf_dir, "embeddings")
    a = IvfVectorIndex.build(spark, emb, str(tmp_path / "a"))
    shuffled = emb.repartition(7).sortWithinPartitions(F.desc("vec_id"))
    b = IvfVectorIndex.build(spark, shuffled, str(tmp_path / "b"))
    assert a.centroids == b.centroids
    assert _canon_index(a.read(spark)) == _canon_index(b.read(spark))


def test_trained_index_recall_at_10_vs_brute_force(spark, sf_correct_dir, tmp_path):
    """Recall@10 of the trained-quantizer index against the exact
    brute-force cosine ground truth (the registered baseline operator).
    The floor is deliberately conservative — multi-probe P=2 of K=8
    trained cells; measured ~0.9+ on this corpus."""
    from datawarehouse_project_spark.operators.similarity import (
        similarity_ann_cosine_topk,
    )

    emb = table(spark, sf_correct_dir, "embeddings")
    idx = IvfVectorIndex.build(spark, emb, str(tmp_path / "rec"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    got = {
        (r.query_id, r.neighbor_id)
        for r in idx.query_topk(spark, queries).collect()
    }
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity_ann_cosine_topk(spark, sf_correct_dir).collect()
    }
    assert truth, "ground truth should be non-empty"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, recall


def test_compact_preserves_answers_and_replay(spark, sf_dir, tmp_path):
    """OPTIMIZE after scattered appends: same index rows, same query
    answers bit-for-bit, ledger intact (replaying a pre-compaction batch
    is still absorbed), fewer data files."""
    import glob

    emb = table(spark, sf_dir, "embeddings")
    idx = IvfVectorIndex(str(tmp_path / "cmp"))
    for b in range(4):
        idx.add_batch(spark, emb.filter(F.col("vec_id") % 4 == b), batch_id=b)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    before_rows = _canon_index(idx.read(spark))
    before_ans = _canon_topk(idx.query_topk(spark, queries))
    files_before = len(glob.glob(f"{idx.table.current_path()}/*.parquet"))
    v = idx.compact(spark, target_files=1)
    assert v is not None
    files_after = len(glob.glob(f"{idx.table.current_path()}/*.parquet"))
    assert files_after <= files_before
    assert files_after == 1
    assert _canon_index(idx.read(spark)) == before_rows
    assert _canon_topk(idx.query_topk(spark, queries)) == before_ans
    vv = idx.table.current_version()
    idx.add_batch(spark, emb.filter(F.col("vec_id") % 4 == 2), batch_id=2)
    assert idx.table.current_version() == vv  # replay absorbed post-compaction


def test_train_centroids_rejects_sample_smaller_than_k(spark):
    """Advisor r10: an empty or tiny embeddings frame must fail with a
    clear ValueError, not an opaque numpy indexing error (0 rows) or a
    silent sub-K centroid set (0 < n < k) that disagrees with the
    module's K_IVF/N_PROBES assumptions."""
    import pytest

    from datawarehouse_project_spark.operators.similarity import (
        train_centroids_from_df,
    )

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="IVF training needs >= k"):
        train_centroids_from_df(empty, k=8)

    tiny = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="got 3"):
        train_centroids_from_df(tiny, k=8)

    # Explicitly-clamped k still trains (the documented tiny-corpus path).
    cents = train_centroids_from_df(tiny, k=3)
    assert len(cents) == 3


def test_stored_binary_plan_has_no_corpus_side_quantization(spark, sf_dir):
    """The serving pin (mirrors the IVF no-embedding pin): in the stored
    hamming plan, the corpus side scans the INDEX parquet — ReadSchema
    carries w_lo/w_hi and NO embedding column; the only scans that read
    the float embedding column are the broadcast QUERY side (pushed
    vec_id < N_QUERIES filter). No cartesian surprises beyond the
    sanctioned broadcast-query cross join."""
    import re

    from datawarehouse_project_spark.catalog import all_queries

    q = all_queries()["similarity_binary_hamming_topk"](spark, sf_dir)
    p = q._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan parquet [^\n]*", p)
    word_scans = [s for s in scans if "w_lo" in s]
    assert word_scans, p
    for s in word_scans:
        assert "embedding" not in s, s
    emb_scans = [s for s in scans if "embedding" in s]
    assert emb_scans  # the query side exists...
    for s in emb_scans:  # ...and is the pushed-filter query slice only
        assert "LessThan(vec_id" in s, s
    assert "CartesianProduct" not in p

    # Rerank composition: candidate generation also reads stored words.
    q2 = all_queries()["similarity_binary_rerank_topk"](spark, sf_dir)
    p2 = q2._jdf.queryExecution().executedPlan().toString()
    scans2 = re.findall(r"FileScan parquet [^\n]*", p2)
    assert [s for s in scans2 if "w_lo" in s and "embedding" not in s], p2
    assert "CartesianProduct" not in p2


def test_stored_binary_ann_matches_duckdb(spark, sf_correct_dir):
    """The stored forms against DuckDB oracles that quantize the corpus
    in SQL (integer-exact sign words => identical answers)."""
    from datawarehouse_project_spark.catalog import all_oracle_sql, all_queries

    from tests.oracle_check import compare

    for name in (
        "similarity_binary_hamming_topk",
        "similarity_binary_rerank_topk",
    ):
        compare(
            all_queries()[name](spark, sf_correct_dir),
            all_oracle_sql()[name],
            sf_correct_dir,
        )


def test_funnel_candidates_respect_probed_cells(spark, sf_dir):
    """Every funnel result's neighbor must sit in one of its query's
    probed IVF cells — the cell restriction actually restricts (a
    regression here would mean the funnel silently degenerated to the
    whole-corpus hamming scan)."""
    from datawarehouse_project_spark.operators.similarity import (
        _ivf_cluster_expr,
        _ivf_probes_expr,
    )

    emb = table(spark, sf_dir, "embeddings")
    cells = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id", _ivf_cluster_expr(F.col("embedding")).alias("cell")
        ).collect()
    }
    probes = {
        r.vec_id: set(r.probes)
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            "vec_id", _ivf_probes_expr(F.col("embedding")).alias("probes")
        )
        .collect()
    }
    rows = all_queries()["similarity_ivf_binary_funnel_topk"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert cells[r.neighbor_id] in probes[r.query_id], r


def test_funnel_recall_pinned(spark, sf_correct_dir):
    """VERDICT r11 #8's gate: funnel recall vs the exact brute-force
    baseline AND overlap with similarity_ivf_quantized_topk. The funnel
    is bounded by (IVF pruning ∩ binary prefilter), so its floor sits
    under either single-stage path; measured on this corpus: 0.52 vs
    brute (equal to ivf_quantized's own 0.52) and 0.90 overlap with
    ivf_quantized at sf0.01. Floors are conservative halves."""
    aq = all_queries()
    fun = {
        (r.query_id, r.neighbor_id)
        for r in aq["similarity_ivf_binary_funnel_topk"](
            spark, sf_correct_dir
        ).collect()
    }
    brute = {
        (r.query_id, r.neighbor_id)
        for r in aq["similarity_ann_cosine_topk"](
            spark, sf_correct_dir
        ).collect()
    }
    ivfq = {
        (r.query_id, r.neighbor_id)
        for r in aq["similarity_ivf_quantized_topk"](
            spark, sf_correct_dir
        ).collect()
    }
    assert brute and ivfq
    assert len(fun & brute) / len(brute) >= 0.3
    assert len(fun & ivfq) / len(ivfq) >= 0.7


def test_funnel_plan_reads_index_columns_only(spark, sf_dir):
    """The 100 TB pin for the composed funnel: the corpus-side scan
    reads the INDEX parquet's (cluster_id, w_lo, w_hi) — never the
    float embedding or the int8 qvec payload; float scans are the
    pushed-filter query slice and the candidate_k point lookups. No
    cartesian product anywhere (cluster_id == probe is an equi key)."""
    import re

    q = all_queries()["similarity_ivf_binary_funnel_topk"](spark, sf_dir)
    p = q._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan parquet [^\n]*", p)
    index_scans = [s for s in scans if "w_lo" in s]
    assert index_scans, p
    for s in index_scans:
        assert "embedding" not in s and "qvec" not in s, s
    assert "CartesianProduct" not in p


def test_frozen_centroid_drift_contract(spark, tmp_path):
    """VERDICT r12 #7: the frozen-centroid contract, exercised. A batch
    from a SHIFTED distribution appended against frozen centroids (1)
    scatters across near-equidistant cells (none of the frozen centroids
    represents the new region, so assignment rides the noise) — visible
    in the cell-occupancy monitor as occupancy beyond probe reach; (2)
    measurably degrades recall for shifted queries — P=2 probes can't
    cover the scatter — but stays FAR above random (measured 0.505 vs
    0.0017 random; bounded, not corrupted); (3) is remedied by the
    offered retrain path (`retrained` — blue/green rebuild), whose
    quantizer gives the drifted region coherent cells (measured recall
    0.865)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(size=(300, 64))
    base[:, 32:] *= 0.05  # base mass lives in dims 0..31
    drift = rng.normal(size=(300, 64))
    drift[:, :32] *= 0.05  # drifted mass lives in dims 32..63
    drift[:, 40] += 4.0  # and is displaced along one axis
    allv = np.vstack([base, drift])
    allv = allv / np.linalg.norm(allv, axis=1, keepdims=True)  # dot == cosine

    def frame(lo, hi):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in allv[i]]) for i in range(lo, hi)],
            "vec_id bigint, embedding array<float>",
        )

    idx = IvfVectorIndex.build(spark, frame(0, 300), str(tmp_path / "frozen"))
    idx.add_batch(spark, frame(300, 600), batch_id=1)

    def drift_cell_sizes(index):
        rows = (
            index.read(spark)
            .filter(F.col("vec_id") >= 300)
            .groupBy("cluster_id")
            .count()
            .collect()
        )
        return sorted((r["count"] for r in rows), reverse=True)

    from datawarehouse_project_spark.operators.similarity import N_PROBES

    frozen_cells = drift_cell_sizes(idx)
    # the degradation mechanism: drifted mass scatters over MORE cells
    # than a query's N_PROBES can reach (measured: 7 cells vs P=2)
    assert len(frozen_cells) > N_PROBES + 1, frozen_cells

    # ground truth: exact top-10 by dot (== cosine on unit vectors)
    sims = allv @ allv.T
    np.fill_diagonal(sims, -np.inf)
    queries = frame(300, 320)
    truth = {
        (q, int(n))
        for q in range(300, 320)
        for n in np.argsort(-sims[q])[:10]
    }

    def recall(index):
        got = {
            (r.query_id, r.neighbor_id)
            for r in index.query_topk(spark, queries, top_k=10).collect()
        }
        return len(got & truth) / len(truth)

    frozen_recall = recall(idx)
    # degraded (retrained measures ~0.87) but bounded far above the
    # random floor of top_k/corpus = 10/600
    assert 0.3 <= frozen_recall <= 0.7, frozen_recall

    retr = idx.retrained(spark, frame(0, 600), str(tmp_path / "retrained"))
    retr_cells = drift_cell_sizes(retr)
    # the retrained quantizer gives the drifted region coherent cells
    # within probe reach, restoring recall
    retr_recall = recall(retr)
    assert retr_recall >= 0.8, retr_recall
    assert retr_recall >= frozen_recall + 0.2, (frozen_recall, retr_recall)
    assert len(retr_cells) <= N_PROBES + 1, retr_cells
    # blue/green: the original index is untouched and still serves
    assert drift_cell_sizes(idx) == frozen_cells


def test_drift_monitor_thresholds(spark, tmp_path):
    """VERDICT r13 #5: the registered cell-occupancy monitor trips on
    the drifted batch and stays quiet on in-distribution appends —
    thresholded on the same planted geometry as
    test_frozen_centroid_drift_contract."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(size=(600, 64))
    base[:, 32:] *= 0.05  # base mass lives in dims 0..31
    drift = rng.normal(size=(300, 64))
    drift[:, :32] *= 0.05  # drifted mass lives in dims 32..63
    drift[:, 40] += 4.0
    allv = np.vstack([base, drift])
    allv = allv / np.linalg.norm(allv, axis=1, keepdims=True)

    def frame(lo, hi):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in allv[i]]) for i in range(lo, hi)],
            "vec_id bigint, embedding array<float>",
        )

    # measured on this fixture: quiet tv = 0.05, drifted tv = 0.19 —
    # 0.1 sits between with ~2x margin on both sides
    THRESH = 0.1

    # quiet case: 300 more vectors from the SAME distribution
    quiet = IvfVectorIndex.build(spark, frame(0, 300), str(tmp_path / "quiet"))
    quiet.add_batch(spark, frame(300, 600), batch_id=1)
    qs = quiet.drift_stats(spark).collect()[0]
    assert qs.n_base == 300 and qs.n_cur == 600
    # tv_num is driver-side only (int64 envelope — advisor r14); the
    # frame exposes the float tv and the exact totals it derives from
    assert "tv_num" not in quiet.drift_stats(spark).columns
    assert 0.0 <= qs.tv <= 1.0
    assert qs.tv < THRESH, qs.tv

    # tripped case: the shifted batch scatters into new cells
    hot = IvfVectorIndex.build(spark, frame(0, 300), str(tmp_path / "hot"))
    hot.add_batch(spark, frame(600, 900), batch_id=1)
    hs = hot.drift_stats(spark).collect()[0]
    assert hs.tv > THRESH, hs.tv
    assert hs.tv > 2 * qs.tv  # clear separation, not a knife-edge

    # detail view zero-fills both sides and conserves mass
    det = hot.occupancy_drift(spark)
    sums = det.agg(
        F.sum("base_n").alias("b"), F.sum("cur_n").alias("c")
    ).collect()[0]
    assert (sums.b, sums.c) == (300, 600)


def test_drift_monitor_requires_baseline(spark, tmp_path):
    """Bare add_batch ingest (no build(), no explicit snapshot) gives a
    loud error, not a silently-empty baseline."""
    import pytest

    idx = IvfVectorIndex(str(tmp_path / "nobase"))
    # an index with NO committed batch errors loudly on occupancy reads
    # (advisor r14: was an opaque AttributeError on NoneType)
    with pytest.raises(ValueError, match="no batch applied"):
        idx.occupancy(spark)
    emb = table(spark, "/root/testdata/sf0.001", "embeddings").limit(20)
    idx.add_batch(spark, emb, batch_id=0)
    with pytest.raises(ValueError, match="occupancy baseline"):
        idx.occupancy_drift(spark)
    idx.snapshot_occupancy(spark)
    assert idx.drift_stats(spark).collect()[0].tv == 0.0
