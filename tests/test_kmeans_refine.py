"""Distributed Lloyd refinement (r13): full-corpus k-means passes in
Catalyst — assignment via the served argmin expression, update via
posexplode + partial-combining hash aggregate, driver state bounded at
K×dim rows per pass."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.similarity import (
    kmeans_inertia,
    kmeans_refine_distributed,
    train_centroids_from_df,
)


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# No fast-lane test reaches this code: no registered row passes
# `refine_iters`, so the refinement steps, the inertia bound and the
# persisted centroids are checked only here.
pytestmark = pytest.mark.slow


def _frame(spark, mat):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id bigint, embedding array<float>",
    )


def _numpy_lloyd_step(mat, cent):
    """One exact Lloyd pass with the same semantics (argmin, ties to
    lowest cid, empty clusters keep previous centroid)."""
    d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=-1)
    assign = d.argmin(axis=1)
    out = cent.copy()
    for j in range(len(cent)):
        members = mat[assign == j]
        if len(members):
            out[j] = members.mean(axis=0)
    return out


def test_refine_matches_numpy_reference(spark):
    """On well-separated clusters (no assignment ties to ride float
    noise), each distributed pass equals the exact numpy Lloyd step to
    float tolerance."""
    rng = np.random.RandomState(3)
    centers = rng.normal(scale=10.0, size=(4, 16))
    mat = np.vstack([c + rng.normal(scale=0.1, size=(25, 16)) for c in centers])
    mat = np.float64(np.float32(mat))  # round-trip through array<float>
    init = mat[:4].copy()
    # two sequential exact steps, each from the previous result
    want = _numpy_lloyd_step(mat, _numpy_lloyd_step(mat, init))
    got = kmeans_refine_distributed(
        _frame(spark, mat), [list(map(float, r)) for r in init], iters=2
    )
    assert np.allclose(np.array(got), want, atol=1e-9)


def test_refine_decreases_inertia_on_real_corpus(spark, sf_dir):
    """Refining the sample-trained quantizer over the full corpus must
    not increase the Lloyd objective, and each extra pass keeps it
    non-increasing (small float tolerance for partial-sum order)."""
    emb = table(spark, sf_dir, "embeddings")
    cent0 = train_centroids_from_df(emb)
    i0 = kmeans_inertia(emb, cent0)
    cent1 = kmeans_refine_distributed(emb, cent0, iters=1)
    i1 = kmeans_inertia(emb, cent1)
    cent2 = kmeans_refine_distributed(emb, cent1, iters=1)
    i2 = kmeans_inertia(emb, cent2)
    assert i1 <= i0 * (1 + 1e-12), (i0, i1)
    assert i2 <= i1 * (1 + 1e-12), (i1, i2)


def test_refine_empty_cluster_keeps_previous_centroid(spark):
    mat = np.array([[0.0, 0.0], [0.1, 0.0], [10.0, 10.0], [10.1, 10.0]])
    far = [1e6, 1e6]  # owns nothing
    got = kmeans_refine_distributed(
        _frame(spark, mat),
        [[0.0, 0.0], [10.0, 10.0], far],
        iters=3,
    )
    assert got[2] == far
    assert np.allclose(got[0], [0.05, 0.0])
    assert np.allclose(got[1], [10.05, 10.0])


def test_build_with_refinement_persists_and_serves(spark, sf_dir, tmp_path):
    """build(refine_iters=1) persists the REFINED centroids to the
    sidecar: a fresh handle reloads them identically, appends assign
    against them, and query answers stay self-consistent."""
    from datawarehouse_project_spark.operators.ann_index import IvfVectorIndex
    from datawarehouse_project_spark.operators.similarity import N_QUERIES

    emb = table(spark, sf_dir, "embeddings")
    idx = IvfVectorIndex.build(
        spark, emb, str(tmp_path / "ref"), refine_iters=1
    )
    reloaded = IvfVectorIndex(str(tmp_path / "ref"))
    assert reloaded.centroids == idx.centroids
    # refined != the raw sample-trained set (the pass did something)
    assert idx.centroids != train_centroids_from_df(emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    a = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in idx.query_topk(spark, queries).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in reloaded.query_topk(spark, queries).collect()
    )
    assert a == b and len(a) > 0


def test_refine_update_plan_partial_aggregates(spark, sf_dir):
    """The scale pin: the update aggregation plans map-side partial
    combine (two HashAggregates), so the shuffle carries ≤ K×dim
    partial rows per task regardless of corpus size."""
    from datawarehouse_project_spark.operators.similarity import (
        _ivf_cluster_expr,
        train_centroids_from_df,
    )

    emb = table(spark, sf_dir, "embeddings")
    cent = train_centroids_from_df(emb)
    agg = (
        emb.select(
            _ivf_cluster_expr(F.col("embedding"), cent).alias("cluster_id"),
            F.col("embedding"),
        )
        .select("cluster_id", F.posexplode(F.col("embedding")).alias("pos", "val"))
        .groupBy("cluster_id", "pos")
        .agg(F.sum(F.col("val").cast("double")).alias("s"), F.count("*").alias("n"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan
