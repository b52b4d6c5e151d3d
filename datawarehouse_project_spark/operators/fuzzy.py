"""Edit-distance fuzzy self-join via lossless segment blocking.

The entity-resolution primitive a training-data pipeline needs for
name/title/URL canonicalization: all pairs of strings within Levenshtein
distance ``d`` — WITHOUT the quadratic all-pairs comparison.

Algorithm (PassJoin family — Li, Deng, Feng, ICDE 2011, public): split
each string into ``d+1`` disjoint segments; by pigeonhole, any pair
within edit distance ``d`` leaves at least one segment of the shorter
string untouched, so that segment appears EXACTLY in the longer string,
at a start position shifted by at most ``d``. Candidate generation is
therefore an EQUI-join:

  * segment side: each string emits its ``d+1`` segments keyed
    ``(len, seg_idx, seg_text)`` — fan-out ``d+1`` per row;
  * substring side: each string enumerates, for every possible shorter
    length ``l ∈ [len-d, len]`` and segment index, the substrings at the
    ``≤ 2d+1`` start positions inside the shift window — fan-out
    ``O(d² · (2d+1))`` per row, a small constant for small ``d``.

Both fan-outs are data-independent constants; the join is a plain hash
equi-join on the 3-part key, and the exact ``levenshtein() ≤ d``
residual runs only on the candidate pairs. No pairwise work outside the
candidates — the same cost shape as the banded LSH dedup operators
(operators/dedup.py). Skew guard at scale: a very frequent segment
(shared brand prefix/suffix) makes a hot join key; ``seg_cap`` drops
blocking keys whose SEGMENT-side frequency exceeds the cap (the df-cap
pattern of ``dedup.ngram_jaccard_capped``). Killing the key on one side
kills its join output, so the per-key join product drops from
segfreq×subfreq (quadratic on a boilerplate key) to <= cap×subfreq
(linear), and the frequency is counted via a WINDOW over the segment
side (``skew.cap_hot_keys``) — whose partitioning on the join key is
exactly what the join needs next, so the guard adds NO extra scan or
exchange (plan-pinned in tests/test_fuzzy.py; an earlier
count-then-anti-join draft re-executed a blocking subtree).
The recall cost: a true pair is lost only when EVERY untouched segment
it could block on is popular (edits in the discriminative region while
only boilerplate stays intact). Measured on a planted hot-suffix corpus
in tests/test_fuzzy.py::test_seg_cap_recall_on_hot_suffix; wall-clock
evidence in scripts/bench_fuzzy_cap.py; default None keeps the
headline rows lossless, and the capped drop-set itself is
oracle-pinned cross-engine by ``fuzzy_part_desc_pairs_capped`` (the
DuckDB oracle replays the identical cap).

Everything is Catalyst expressions (substring/transform/sequence) — no
Python in the row path; ``F.levenshtein`` is a JVM built-in.

Reference parity note: the reference has no fuzzy matching anywhere
(its cleaning is exact-key based, MeshJoin.java:300-340); this module is
part of the LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from .skew import cap_hot_keys
from ..plans.registry import register
from ..session import prepare


def _seg_len(l, i, d: int):  # noqa: E741 - l is a Column
    """Length of 0-based segment ``i`` when a length-``l`` string is cut
    into ``d+1`` parts: base = l div (d+1), the first l mod (d+1)
    segments get one extra char."""
    base = (l / (d + 1)).cast("int")
    rem = l % (d + 1)
    return base + F.when(F.lit(i) < rem, 1).otherwise(0)


def _seg_start(l, i, d: int):  # noqa: E741
    """1-based start of segment ``i`` (SQL substring convention)."""
    base = (l / (d + 1)).cast("int")
    rem = l % (d + 1)
    return F.lit(i) * base + F.least(F.lit(i), rem) + 1


def _segment_side(s: DataFrame, d: int, id_alias: str) -> DataFrame:
    """Segment side of the blocking join: one scan, fan-out d+1 —
    ``(id_alias, l, i, seg)``. (Struct array built in one select, fields
    read in the NEXT select: a generator + same-select getField loses
    struct names — known Catalyst gotcha.)"""
    slen = s.withColumn("l", F.length("s"))
    L = F.col("l")
    return (
        slen.select(
            F.col("id").alias(id_alias),
            "l",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            F.col("s")
                            .substr(_seg_start(L, i, d), _seg_len(L, i, d))
                            .alias("seg"),
                        )
                        for i in range(d + 1)
                    ]
                )
            ).alias("x"),
        )
        .select(id_alias, "l", F.col("x.i").alias("i"), F.col("x.seg").alias("seg"))
        .filter(F.length("seg") > 0)
    )


def _substring_side(s: DataFrame, d: int, id_alias: str) -> DataFrame:
    """Substring side: one scan, constant fan-out — for each candidate
    shorter length la ∈ [l-d, l] and segment index i, the substrings at
    every start inside the ±d shift window, keyed like the segment
    side. Two chained generators (struct explode, then the position
    sequence) across separate selects."""
    slen = s.withColumn("l", F.length("s"))
    L = F.col("l")
    win_structs = []
    for delta in range(d + 1):  # la = l - delta
        for i in range(d + 1):
            la = L - delta
            ln = _seg_len(la, i, d)
            p = _seg_start(la, i, d)
            lo = F.greatest(p - d, F.lit(1))
            hi = F.least(p + d, L - ln + 1)
            win_structs.append(
                F.struct(
                    la.alias("la"),
                    F.lit(i).alias("i"),
                    ln.alias("ln"),
                    F.when((la >= 1) & (hi >= lo), F.sequence(lo, hi))
                    .otherwise(F.array().cast("array<int>"))
                    .alias("ps"),
                )
            )
    return (
        slen.select(
            F.col("id").alias(id_alias),
            "s",
            F.explode(F.array(*win_structs)).alias("w"),
        )
        .select(
            id_alias,
            "s",
            F.col("w.la").alias("l"),
            F.col("w.i").alias("i"),
            F.col("w.ln").alias("ln"),
            F.explode("w.ps").alias("pos"),
        )
        .select(
            id_alias,
            "l",
            "i",
            F.col("s").substr(F.col("pos"), F.col("ln")).alias("seg"),
        )
    )


def candidate_pairs(s: DataFrame, d: int, seg_cap: int | None = None) -> DataFrame:
    """The candidate set: distinct unordered ``(a_id, b_id)`` pairs
    sharing at least one ``(len, seg_idx, segment)`` key between the
    segment and substring sides. With ``seg_cap=None`` (default) this is
    LOSSLESS — a superset of all true pairs (pigeonhole); with a cap,
    keys hotter than ``seg_cap`` on the segment side are dropped (see
    module docstring for the recall contract). Exposed separately so
    tests can measure the pruning ratio the module docstring claims.
    ``s``: (id, s) with non-null strings."""
    slen = s.withColumn("l", F.length("s"))

    seg_side = _segment_side(s, d, "a_id")
    sub_side = _substring_side(s, d, "b_id")
    if seg_cap is not None:
        seg_side = cap_hot_keys(seg_side, ["l", "i", "seg"], seg_cap)
    main = (
        seg_side.join(sub_side, ["l", "i", "seg"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
    )

    # Pigeonhole needs d+1 NON-EMPTY segments, i.e. len ≥ d+1: for a
    # shorter string, ≤ d edits can touch every non-empty segment, so a
    # pair whose SHORTER side has len ≤ d can be missed by the segment
    # join (caught by the adversarial property test, r13). Those pairs
    # are a bounded class: the longer side then has len ≤ 2d (else the
    # length difference alone exceeds d). Pair the DISTINCT short values
    # (≤ |Σ|^d ∪ |Σ|^2d strings — a constant for real alphabets, tiny
    # in practice) via a broadcast nested-loop with the exact residual,
    # then expand values back to ids with equi-joins. Never touches
    # rows with len > 2d.
    short_a_vals = slen.filter(F.col("l") <= d).select("s").distinct()
    short_b_vals = (
        slen.filter(F.col("l") <= 2 * d)
        .select(F.col("s").alias("s_b"))
        .distinct()
    )
    val_pairs = (
        F.broadcast(short_a_vals)
        .crossJoin(short_b_vals)
        .filter(F.levenshtein("s", "s_b") <= d)
    )
    ids_a = slen.filter(F.col("l") <= d).select(F.col("id").alias("a_id"), "s")
    ids_b = slen.filter(F.col("l") <= 2 * d).select(
        F.col("id").alias("b_id"), F.col("s").alias("s_b")
    )
    short = (
        val_pairs.join(ids_a, "s")
        .join(ids_b, "s_b")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
    )

    return (
        main.unionByName(short)
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    d: int = 2,
    id_col: str = "id",
    s_col: str = "s",
    seg_cap: int | None = None,
) -> DataFrame:
    """All unordered pairs ``(a_id < b_id)`` with ``levenshtein ≤ d``,
    plus the exact distance. Lossless by default: candidate generation
    is a superset of the true pairs (pigeonhole), the residual filter is
    exact, so output equals the quadratic oracle's. ``seg_cap`` trades
    bounded recall loss for a hard hot-key bound (module docstring)."""
    s = df.select(F.col(id_col).alias("id"), F.col(s_col).alias("s")).filter(
        F.col("s").isNotNull()
    )
    cand = candidate_pairs(s, d, seg_cap=seg_cap)
    sa = s.select(F.col("id").alias("a_id"), F.col("s").alias("a_s"))
    sb = s.select(F.col("id").alias("b_id"), F.col("s").alias("b_s"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("dist", F.levenshtein("a_s", "b_s").cast("bigint"))
        .filter(F.col("dist") <= d)
        .select("a_id", "b_id", "dist")
    )


_FUZZY_D = 2


@register(
    "fuzzy_part_desc_pairs",
    # r13 rotation IN: pre-validated with the plain-session driver-sim
    # recipe before the swap (rfm_customer_segments ceded the slot)
    oracle=f"""
WITH s AS (
    SELECT p_partkey AS id, p_brand || ' ' || p_type || ' ' || p_name AS s
    FROM part WHERE p_partkey % 10 = 0
)
SELECT a.id AS a_id, b.id AS b_id,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM s a JOIN s b
  ON a.id < b.id AND levenshtein(a.s, b.s) <= {_FUZZY_D}
""",
)
def fuzzy_part_desc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate product descriptions (brand + type + name, the
    record-linkage composite key) within edit distance 2: the blocked
    PassJoin plan (segments ⨝ substrings, then the exact residual) on a
    deterministic 1/10 sample. The oracle is the quadratic theta join —
    correct at fixture scale; the engine plan is the one that survives
    the unsampled table. The composite string (21-30 chars) keeps
    segments ~7-10 chars — the selectivity regime the algorithm is
    built for (bare p_name at 7-12 chars leaves 2-4-char segments that
    collide half the corpus; measured in tests/test_fuzzy.py)."""
    prepare(spark)
    src = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            F.col("p_partkey").alias("id"),
            F.concat_ws(" ", "p_brand", "p_type", "p_name").alias("s"),
        )
    )
    return edit_distance_pairs(src, d=_FUZZY_D)


#: Segment-frequency cap for the registered CAPPED row: picked so the
#: guard BITES on the fixture (drops pairs blocked only by hot shared
#: type-words like "STANDARD" — 1 pair at sf0.01, more at sf0.1) while
#: the cold majority survives, so the oracle checks a non-vacuous
#: drop-set, not a no-op.
_FUZZY_SEG_CAP = 3


@register(
    "fuzzy_part_desc_pairs_capped",
    # r15 rotation IN on first registration: the capped semantics get a
    # driver-checked cross-engine row (events_value_histogram_percentiles
    # ceded; pre-validated value-identical at sf0.01+sf0.1 before the
    # swap).
    # VERDICT r14 #3: the cap is DETERMINISTIC (drop blocking keys whose
    # segment-side frequency exceeds the cap), so its drop-set is
    # cross-engine checkable — this oracle replays the ENTIRE capped
    # PassJoin in SQL: segment side (d+1 pigeonhole cuts, same
    # floor-div start/len arithmetic), the identical frequency cap via
    # QUALIFY over (l, i, seg), the substring side (length window
    # l-d..l × segment index × ±d shift positions), the capless
    # short-string path (shorter ≤ d vs ≤ 2d), least/greatest canon,
    # and the exact levenshtein residual. Integer-exact throughout.
    oracle=f"""
WITH s AS (
    SELECT p_partkey AS id, p_brand || ' ' || p_type || ' ' || p_name AS s
    FROM part WHERE p_partkey % 10 = 0
),
sl AS (SELECT id, s, CAST(length(s) AS INT) AS l FROM s),
seg AS (
    SELECT id, l, CAST(i AS INT) AS i,
           substr(s, CAST(i*(l//{_FUZZY_D + 1}) + least(i, l%{_FUZZY_D + 1}) + 1 AS INT),
                     CAST((l//{_FUZZY_D + 1}) + CASE WHEN i < l%{_FUZZY_D + 1} THEN 1 ELSE 0 END AS INT)) AS seg
    FROM sl, unnest(generate_series(0, {_FUZZY_D})) t(i)
    WHERE (l//{_FUZZY_D + 1}) + CASE WHEN i < l%{_FUZZY_D + 1} THEN 1 ELSE 0 END > 0
),
segok AS (
    SELECT id, l, i, seg FROM seg
    QUALIFY COUNT(*) OVER (PARTITION BY l, i, seg) <= {_FUZZY_SEG_CAP}
),
subq AS (
    SELECT id, s, l, CAST(l - delta AS INT) AS la, CAST(i AS INT) AS i,
           CAST(((l-delta)//{_FUZZY_D + 1})
                + CASE WHEN i < (l-delta)%{_FUZZY_D + 1} THEN 1 ELSE 0 END AS INT) AS ln,
           CAST(i*((l-delta)//{_FUZZY_D + 1})
                + least(i, (l-delta)%{_FUZZY_D + 1}) + 1 AS INT) AS p
    FROM sl, unnest(generate_series(0, {_FUZZY_D})) dd(delta),
         unnest(generate_series(0, {_FUZZY_D})) t(i)
    WHERE l - delta >= 1
),
sub AS (
    SELECT id, la AS l, i, substr(s, CAST(pos AS INT), ln) AS seg
    FROM (
        SELECT id, s, la, i, ln,
               unnest(generate_series(greatest(p-{_FUZZY_D}, 1),
                                      least(p+{_FUZZY_D}, l-ln+1))) AS pos
        FROM subq
    )
),
cand AS (
    SELECT DISTINCT least(a_id, b_id) AS a_id, greatest(a_id, b_id) AS b_id
    FROM (
        SELECT g.id AS a_id, u.id AS b_id
        FROM segok g JOIN sub u USING (l, i, seg)
        WHERE g.id <> u.id
        UNION ALL
        SELECT a.id, b.id
        FROM sl a JOIN sl b
          ON a.l <= {_FUZZY_D} AND b.l <= {2 * _FUZZY_D} AND a.id <> b.id
             AND levenshtein(a.s, b.s) <= {_FUZZY_D}
    )
)
SELECT c.a_id, c.b_id, CAST(levenshtein(sa.s, sb.s) AS BIGINT) AS dist
FROM cand c JOIN sl sa ON sa.id = c.a_id JOIN sl sb ON sb.id = c.b_id
WHERE levenshtein(sa.s, sb.s) <= {_FUZZY_D}
""",
)
def fuzzy_part_desc_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-segment-capped fuzzy self-join (``seg_cap`` —
    VERDICT r14 #3): same source and distance as
    :func:`fuzzy_part_desc_pairs`, with blocking keys hotter than
    ``_FUZZY_SEG_CAP`` on the segment side dropped before the equi-join.
    The guard's drop-set is deterministic, so the oracle applies the
    IDENTICAL cap in SQL and the driver's hash compare pins the capped
    semantics cross-engine — the recall trade stops being pinned only
    by self-run tests (tests/test_fuzzy.py measures the recall class;
    scripts/bench_fuzzy_cap.py the wall win)."""
    prepare(spark)
    src = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            F.col("p_partkey").alias("id"),
            F.concat_ws(" ", "p_brand", "p_type", "p_name").alias("s"),
        )
    )
    return edit_distance_pairs(src, d=_FUZZY_D, seg_cap=_FUZZY_SEG_CAP)


# --------------------------------------------------------------------------
# Two-table form: record linkage between DIFFERENT entity sets (dirty
# feed vs master table). Same lossless blocking, but either side of a
# pair can be the shorter string, so the segment⨝substring equi-join
# runs in BOTH directions; output keeps table roles (a_id from left,
# b_id from right) instead of the self-join's least/greatest canon.


def candidate_pairs_two_table(
    left: DataFrame,
    right: DataFrame,
    d: int,
    seg_cap: int | None = None,
) -> DataFrame:
    """Lossless candidates for the two-table join: distinct
    ``(a_id, b_id)`` with a_id from ``left``, b_id from ``right``.
    Direction 1 covers len(left) <= len(right) (left emits segments),
    direction 2 the reverse; equal lengths appear in both and dedup in
    the distinct. The short-string class (shorter side len <= d, where
    pigeonhole has no non-empty untouched segment) pairs DISTINCT
    values <= d against the other table's values <= 2d via a broadcast
    nested-loop, both directions, exactly like the self-join."""
    seg1, sub1 = _segment_side(left, d, "a_id"), _substring_side(right, d, "b_id")
    seg2, sub2 = _segment_side(right, d, "b_id"), _substring_side(left, d, "a_id")
    if seg_cap is not None:
        seg1 = cap_hot_keys(seg1, ["l", "i", "seg"], seg_cap)
        seg2 = cap_hot_keys(seg2, ["l", "i", "seg"], seg_cap)
    c1 = seg1.join(sub1, ["l", "i", "seg"]).select("a_id", "b_id")
    c2 = seg2.join(sub2, ["l", "i", "seg"]).select("a_id", "b_id")

    ll = left.withColumn("l", F.length("s"))
    rl = right.withColumn("l", F.length("s"))

    def _short(short_side, long_side, short_id, long_id):
        short_vals = short_side.filter(F.col("l") <= d).select("s").distinct()
        long_vals = (
            long_side.filter(F.col("l") <= 2 * d)
            .select(F.col("s").alias("s_o"))
            .distinct()
        )
        val_pairs = (
            F.broadcast(short_vals)
            .crossJoin(long_vals)
            .filter(F.levenshtein("s", "s_o") <= d)
        )
        ids_s = short_side.filter(F.col("l") <= d).select(
            F.col("id").alias(short_id), "s"
        )
        ids_o = long_side.filter(F.col("l") <= 2 * d).select(
            F.col("id").alias(long_id), F.col("s").alias("s_o")
        )
        return (
            val_pairs.join(ids_s, "s").join(ids_o, "s_o").select("a_id", "b_id")
        )

    short = _short(ll, rl, "a_id", "b_id").unionByName(
        _short(rl, ll, "b_id", "a_id")
    )
    return c1.unionByName(c2).unionByName(short).distinct()


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    d: int = 2,
    id_col: str = "id",
    s_col: str = "s",
    seg_cap: int | None = None,
) -> DataFrame:
    """All ``(a_id, b_id, dist)`` with a_id from ``left``, b_id from
    ``right`` and ``levenshtein <= d`` — the record-linkage form of
    :func:`edit_distance_pairs` (lossless blocking both directions by
    default, exact residual on candidates only; ``seg_cap`` as in the
    self-join)."""
    ls = left.select(F.col(id_col).alias("id"), F.col(s_col).alias("s")).filter(
        F.col("s").isNotNull()
    )
    rs = right.select(F.col(id_col).alias("id"), F.col(s_col).alias("s")).filter(
        F.col("s").isNotNull()
    )
    cand = candidate_pairs_two_table(ls, rs, d, seg_cap=seg_cap)
    sa = ls.select(F.col("id").alias("a_id"), F.col("s").alias("a_s"))
    sb = rs.select(F.col("id").alias("b_id"), F.col("s").alias("b_s"))
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("dist", F.levenshtein("a_s", "b_s").cast("bigint"))
        .filter(F.col("dist") <= d)
        .select("a_id", "b_id", "dist")
    )


@register(
    "fuzzy_part_link_pairs",
    # r14 rotation IN (VERDICT r13 #1); text_quality_scores ceded.
    oracle=f"""
WITH a AS (
    SELECT p_partkey AS id, p_brand || ' ' || p_type || ' ' || p_name AS s
    FROM part WHERE p_partkey % 10 = 0
),
b AS (
    SELECT p_partkey AS id, p_brand || ' ' || p_type || ' ' || p_name AS s
    FROM part WHERE p_partkey % 10 = 5
)
SELECT a.id AS a_id, b.id AS b_id,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM a JOIN b ON levenshtein(a.s, b.s) <= {_FUZZY_D}
""",
)
def fuzzy_part_link_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage between two disjoint part samples (1/10 each) on
    the brand+type+name composite within edit distance 2 — the
    two-table PassJoin plan; the oracle is the quadratic two-table
    theta join."""
    prepare(spark)

    def sample(rem: int) -> DataFrame:
        return (
            table(spark, sf_dir, "part")
            .filter(F.col("p_partkey") % 10 == rem)
            .select(
                F.col("p_partkey").alias("id"),
                F.concat_ws(" ", "p_brand", "p_type", "p_name").alias("s"),
            )
        )

    return edit_distance_join(sample(0), sample(5), d=_FUZZY_D)
