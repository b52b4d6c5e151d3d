"""Edit-distance fuzzy join: losslessness vs the quadratic ground truth,
edge cases, and the pruning-ratio claim the module docstring makes.
(The registered query's DuckDB oracle differential runs in
tests/test_oracle_parity.py at both scale factors like every other
registry row.)"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from datawarehouse_project_spark.operators.fuzzy import (
    candidate_pairs,
    edit_distance_pairs,
)


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane checks the three `fuzzy_part_*` rows against their
# sf0.001 oracles; losslessness against the quadratic ground truth, the
# edge cases and the pruning ratio are checked only here.
pytestmark = pytest.mark.slow


def _brute(spark, rows, d):
    """Quadratic ground truth computed with the same JVM levenshtein."""
    df = spark.createDataFrame(rows, "id bigint, s string")
    a = df.select(F.col("id").alias("a_id"), F.col("s").alias("a_s"))
    b = df.select(F.col("id").alias("b_id"), F.col("s").alias("b_s"))
    return {
        (r.a_id, r.b_id, r.dist)
        for r in a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("dist", F.levenshtein("a_s", "b_s").cast("bigint"))
        .filter(F.col("dist") <= d)
        .collect()
    }


def _rand_strings(n, alphabet="abcd", lo=1, hi=14):
    """Deterministic pseudo-random short strings over a tiny alphabet —
    tiny alphabet + short lengths maximize near-miss pairs and boundary
    collisions, the regime where a lossy blocker would be caught."""
    out = []
    for i in range(n):
        h = hashlib.md5(f"fz{i}".encode()).hexdigest()
        ln = lo + int(h[:2], 16) % (hi - lo + 1)
        out.append(
            (i, "".join(alphabet[int(c, 16) % len(alphabet)] for c in h[2 : 2 + ln]))
        )
    return out


def test_matches_quadratic_on_adversarial_strings(spark):
    for d in (1, 2, 3):
        rows = _rand_strings(120)
        df = spark.createDataFrame(rows, "id bigint, s string")
        got = {
            (r.a_id, r.b_id, r.dist)
            for r in edit_distance_pairs(df, d=d).collect()
        }
        assert got == _brute(spark, rows, d), f"d={d}"


def test_edge_cases(spark):
    rows = [
        (1, "a"),  # shorter than d+1 chars
        (2, "b"),
        (3, ""),  # empty string: within d of every short string
        (4, "ab"),
        (5, "ab"),  # exact duplicate -> dist 0
        (6, None),  # null drops out entirely
        (7, "abcdefgh"),
    ]
    d = 2
    df = spark.createDataFrame(rows, "id bigint, s string")
    got = {
        (r.a_id, r.b_id, r.dist) for r in edit_distance_pairs(df, d=d).collect()
    }
    want = _brute(spark, [r for r in rows if r[1] is not None], d)
    # the quadratic truth here: every pair of strings with lev <= 2
    assert got == want
    assert (4, 5, 0) in got  # duplicates survive as dist-0 pairs
    assert all(6 not in (a, b) for a, b, _ in got)


def test_empty_string_pairs_only_reachable_ones(spark):
    # "" emits no segments (filtered), so pairs involving "" are found
    # via the OTHER string's segments matching "" as substring-side...
    # which cannot happen (substr of "" is ""). The pigeonhole side:
    # "" is always the shorter string and has no non-empty segment, so
    # the pair ("", x) with len(x) <= d must still be reported — via
    # the empty SEGMENT side being dropped this would be LOST unless
    # the quadratic truth says otherwise. This test pins the actual
    # contract on the adversarial case.
    rows = [(1, ""), (2, "a"), (3, "ab"), (4, "abc")]
    df = spark.createDataFrame(rows, "id bigint, s string")
    got = {
        (r.a_id, r.b_id, r.dist) for r in edit_distance_pairs(df, d=2).collect()
    }
    want = _brute(spark, rows, 2)
    assert got == want


def test_pruning_ratio_on_fixture(spark, sf_correct_dir):
    """The docstring's selectivity claim, measured: on the registered
    composite-description fixture the candidate set must be a small
    fraction of all pairs (bare short p_name leaves 2-4-char segments
    and collides ~26% of all pairs — measured r13; the composite string
    is the regime the algorithm is built for)."""
    src = (
        spark.read.parquet(f"{sf_correct_dir}/part.parquet")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            F.col("p_partkey").alias("id"),
            F.concat_ws(" ", "p_brand", "p_type", "p_name").alias("s"),
        )
    )
    n = src.count()
    n_cand = candidate_pairs(src, d=2).count()
    all_pairs = n * (n - 1) / 2
    # measured 0.096 at sf0.01 (1,909 of 19,900; the shared "Brand#xx "
    # prefix keys are the collision mass) vs 0.264 for bare p_name —
    # the bound guards against silently degrading to all-pairs.
    assert n_cand / all_pairs < 0.15, (n_cand, all_pairs)


def _brute_two(spark, rows_a, rows_b, d):
    a = spark.createDataFrame(rows_a, "id bigint, s string").select(
        F.col("id").alias("a_id"), F.col("s").alias("a_s")
    )
    b = spark.createDataFrame(rows_b, "id bigint, s string").select(
        F.col("id").alias("b_id"), F.col("s").alias("b_s")
    )
    return {
        (r.a_id, r.b_id, r.dist)
        for r in a.crossJoin(b)
        .withColumn("dist", F.levenshtein("a_s", "b_s").cast("bigint"))
        .filter(F.col("dist") <= d)
        .collect()
    }


def test_two_table_matches_quadratic_on_adversarial_strings(spark):
    """Record-linkage form vs brute force: both length orders, short
    strings (len <= d and <= 2d) on BOTH sides, duplicate values across
    tables, nulls."""
    from datawarehouse_project_spark.operators.fuzzy import edit_distance_join

    for d in (1, 2, 3):
        rows_a = _rand_strings(80) + [(900, "a"), (901, ""), (902, "abcd")]
        rows_b = [
            (i + 10_000, s) for i, s in _rand_strings(80, alphabet="abce")
        ] + [(903, "b"), (904, "abcd"), (905, None)]
        left = spark.createDataFrame(rows_a, "id bigint, s string")
        right = spark.createDataFrame(rows_b, "id bigint, s string")
        got = {
            (r.a_id, r.b_id, r.dist)
            for r in edit_distance_join(left, right, d=d).collect()
        }
        want = _brute_two(
            spark, rows_a, [r for r in rows_b if r[1] is not None], d
        )
        assert got == want, f"d={d}"
        assert all(905 not in (a, b) for a, b, _ in got)


def _hot_suffix_corpus():
    """A corpus whose blocking keys are adversarially skewed: every
    string ends with the same long boilerplate suffix, so the two
    segments that fall inside the suffix are hot keys (df = N), while
    the unique 16-char md5 head fills segment 0 with cold keys. Two
    planted near-dup classes (md5 heads keep everything else pairwise
    far, so the truth set is EXACTLY the planted pairs):

    * head-shared pairs — the two edits land at the very END (inside
      the hot suffix), so the cold head segment is untouched and still
      blocks the pair after the hot keys are dropped (recall KEPT);
    * head-edit pairs — the edits land in the head, so the only
      untouched segments are the hot suffix ones (recall LOST under
      the cap — the honest cost of the guard).
    """
    suffix = " PROMO BURNISHED COPPER plate 13"  # 32 boilerplate chars
    rows = []
    kept_pairs, lost_pairs = [], []
    for i in range(150):
        rows.append((i, hashlib.md5(f"filler{i}".encode()).hexdigest()[:16] + suffix))
    for j in range(8):
        a_id, b_id = 3000 + 2 * j, 3001 + 2 * j
        head = hashlib.md5(f"kept{j}".encode()).hexdigest()[:16]
        rows.append((a_id, head + suffix))
        rows.append((b_id, head + suffix[:-2] + "qq"))
        kept_pairs.append((a_id, b_id))
    for j in range(8):
        a_id, b_id = 4000 + 2 * j, 4001 + 2 * j
        head = hashlib.md5(f"lost{j}".encode()).hexdigest()[:14]
        rows.append((a_id, head + "aa" + suffix))
        rows.append((b_id, head + "bb" + suffix))
        lost_pairs.append((a_id, b_id))
    return rows, kept_pairs, lost_pairs


def test_seg_cap_recall_on_hot_suffix(spark):
    """The hot-segment guard's measured contract (VERDICT r13 #3): on a
    planted hot-suffix corpus the cap (a) shrinks the candidate set by
    an order of magnitude, (b) keeps every pair that still has a
    non-hot untouched segment, and (c) loses exactly the pairs whose
    only untouched segments are boilerplate — quantified, not vibes."""
    d = 2
    rows, kept_pairs, lost_pairs = _hot_suffix_corpus()
    df = spark.createDataFrame(rows, "id bigint, s string")
    s = df.select("id", "s")

    n_lossless = candidate_pairs(s, d).count()
    n_capped = candidate_pairs(s, d, seg_cap=20).count()
    assert n_capped < n_lossless / 10, (n_capped, n_lossless)

    truth = _brute(spark, rows, d)
    # the md5 heads guarantee the truth set is exactly the planted pairs
    assert {(a, b) for (a, b, _) in truth} == set(kept_pairs) | set(lost_pairs)
    got = {
        (r.a_id, r.b_id, r.dist)
        for r in edit_distance_pairs(df, d=d, seg_cap=20).collect()
    }
    assert got <= truth  # residual stays exact: no false positives ever
    kept = {(a, b) for (a, b, _) in got}
    for p in kept_pairs:  # cold untouched head segment -> survives
        assert p in kept, p
    lost = {(a, b) for (a, b, _) in truth} - kept
    assert lost == set(lost_pairs), lost
    # the module's recall statement, as a number on this fixture
    recall = len(kept) / (len(kept_pairs) + len(lost_pairs))
    assert recall == 0.5, recall


def test_seg_cap_none_is_default_and_lossless(spark):
    """Regression pin: the registered rows pass no cap, and seg_cap=None
    recovers every pair on the hot corpus (bit-identical to truth)."""
    d = 2
    rows, _, _ = _hot_suffix_corpus()
    df = spark.createDataFrame(rows, "id bigint, s string")
    truth = _brute(spark, rows, d)
    got = {
        (r.a_id, r.b_id, r.dist)
        for r in edit_distance_pairs(df, d=d).collect()
    }
    assert got == truth


def test_seg_cap_two_table_guard(spark):
    """The two-table form drops hot keys in BOTH blocking directions and
    keeps the cold-head pairs."""
    from datawarehouse_project_spark.operators.fuzzy import edit_distance_join

    d = 2
    rows, kept_pairs, _ = _hot_suffix_corpus()
    left = spark.createDataFrame(
        [r for r in rows if r[0] % 2 == 0], "id bigint, s string"
    )
    right = spark.createDataFrame(
        [r for r in rows if r[0] % 2 == 1], "id bigint, s string"
    )
    got = {
        (r.a_id, r.b_id)
        for r in edit_distance_join(left, right, d=d, seg_cap=20).collect()
    }
    # kept pairs are (even, odd) by construction and must survive
    for p in kept_pairs:
        assert p in got, p


def test_seg_cap_window_adds_no_exchange(spark):
    """The guard's no-extra-cost claim, pinned: the capped candidate
    plan has no MORE shuffles than the lossless one (the frequency
    window's hash partitioning on the join key is reused by the join)
    and no extra scan of the substring subtree."""
    rows, _, _ = _hot_suffix_corpus()
    s = spark.createDataFrame(rows, "id bigint, s string").select("id", "s")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    lossless = plan(candidate_pairs(s, 2))
    capped = plan(candidate_pairs(s, 2, seg_cap=20))
    assert capped.count("Exchange") <= lossless.count("Exchange")
    # the substring-side generator fan-out appears once per direction in
    # both plans — the guard must not replan that subtree
    assert capped.count("Generate explode(array(struct(la") == lossless.count(
        "Generate explode(array(struct(la"
    )
