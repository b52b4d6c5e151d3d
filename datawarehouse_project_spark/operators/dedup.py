"""Deduplication operators for large-scale training-data pipelines.

Four families over the ``documents`` table, each a `queries()` entry with a
DuckDB oracle (exact-integer hashing via ``functions.text`` makes even
minhash/LSH oracle-checkable):

* exact            — md5 content hash, hash-groupBy (one shuffle on the hash)
* minhash + LSH    — 3-word-shingle minhash signatures computed per-row
                     (shuffle-free), banded into buckets, candidate pairs by
                     band-bucket equi-join
* simhash          — 64-bit frequency-weighted sign hash per doc, per-row,
                     near-dup pairs by block-split bucket join
* n-gram Jaccard   — exact overlap via a shingle inverted index (shuffle on
                     shingle), the verification stage after LSH candidates

Scale posture (100 TB of documents):
* signatures are embarrassingly parallel — no shuffle, no skew;
* the LSH pair join shuffles on (band, key): bucket sizes are bounded by
  collision probability, and a hot bucket means true near-dup clusters —
  AQE skew-join splits it;
* the inverted-index join's known hazard is ultra-common shingles
  (stop-phrase posting lists); ``ngram_jaccard_pairs`` takes a
  ``df_cap`` to drop shingles with document frequency above a cap —
  standard practice, and the HEADLINE registered query
  (``dedup_ngram_jaccard_capped``) runs with the cap so the one
  data-dependent blow-up is bounded; the exact form stays registered
  (non-headline) for small/clean corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    DUCK_DOCWORDS,
    MINHASH_COEFFS,
    P,
    SIMHASH64_BITS,
    duck_minhash_exprs,
    hash_array_sql,
    minhash_signature_sql,
    simhash64,
    word_gram_rows_sql,
    word_shingles_sql,
    words,
    words_sql,
)
from ..io import require_small, table
from .skew import hot_key_guard_sql
from ..session import prepare
from ..plans.registry import register

_K = len(MINHASH_COEFFS)
_MH_COLS = [f"mh{i}" for i in range(_K)]
#: LSH banding: bands of 2 rows => 4 bands from 8 minhashes. Band key packs
#: two minhash values into one BIGINT (each < P < 2^31).
_BANDS = _K // 2


def doc_shingle_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + tokenized words + distinct 3-gram shingles (docs >= 3
    words). The Spark twin of DUCK_DOCWORDS.

    The corpus is repartitioned before the per-row shingling: higher-order
    lambdas run interpreted (outside codegen), so per-doc cost dominates and
    parallelism is everything — a single small parquet file would otherwise
    pin the whole corpus to one core. At real scale the scan already splits;
    the repartition then just rebalances and stays cheap relative to the
    per-doc work it parallelizes.

    NOTE: consumers explode ``sgs``; ``session.prepare`` excludes the
    InferFiltersFromGenerate optimizer rule, which would otherwise clone
    this interpreted shingle expression into pushed-down filters and
    re-evaluate it 2+ times per row (measured 9.0s -> 0.6s at sf0.1).
    """
    prepare(spark)
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # SQL-text construction (same expression trees as words() /
    # word_shingles()): one parser call instead of a py4j round-trip per
    # Column node — this frame is rebuilt by every dedup query, so its
    # build latency is on the cold path of each of them.
    return (
        docs.selectExpr("*", f"{words_sql('text')} AS ws")
        .filter("size(ws) >= 3")
        .selectExpr("*", f"{word_shingles_sql('ws')} AS sgs")
    )


def signature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + k minhash columns; per-row computation, shuffle-free.

    Shingles are md5-hashed ONCE (``hash_array`` materialized as a column),
    then the k permutations are integer maps — k-fold less md5 work, the
    dominant cost of signature computation at corpus scale.
    """
    sh = doc_shingle_frame(spark, sf_dir).selectExpr(
        "doc_id", f"{hash_array_sql('sgs')} AS hsh"
    )
    return sh.selectExpr(
        "doc_id",
        *[
            f"{e} AS {n}"
            for e, n in zip(minhash_signature_sql("hsh"), _MH_COLS)
        ],
    )


_DUCK_SIG = f"""
{DUCK_DOCWORDS},
exploded AS (SELECT doc_id, unnest(sgs) AS sg FROM docshingles),
sig AS (
    SELECT doc_id,
           {", ".join(f"{e} AS mh{i}" for i, e in enumerate(duck_minhash_exprs()))}
    FROM exploded
    GROUP BY doc_id
)
"""


# --------------------------------------------------------------------------
@register(
    "dedup_exact_md5",
    headline=True,  # stays in bench.py; driver row rotated out r10 (green r≤9)
    driver_facing=False,
    oracle="""
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY 1
""",
)
def dedup_exact_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy; canonical row = lowest doc_id.
    At scale: one shuffle on a uniformly-distributed hash — no skew."""
    prepare(spark)
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("dup_count"),
    )


# --------------------------------------------------------------------------
@register(
    "dedup_minhash_signatures",
    driver_facing=False,  # signature listing: its integers feed (and are
    # transitively pinned by) the driver rows for the LSH pairs and
    # components; the slot goes to the SCD2 history
    oracle=f"WITH {_DUCK_SIG} SELECT doc_id, {', '.join(_MH_COLS)} FROM sig",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return signature_frame(spark, sf_dir)


# --------------------------------------------------------------------------
def _duck_bands() -> str:
    selects = [
        f"SELECT doc_id, {b} AS band, mh{2 * b} * {P} + mh{2 * b + 1} AS band_key FROM sig"
        for b in range(_BANDS)
    ]
    return " UNION ALL ".join(selects)


@register(
    "dedup_minhash_lsh_pairs",
    headline=True,
    driver_facing=False,  # r14 rotation (second swap): driver-green
    # r1-r13; slot ceded to similarity_index_drift_monitor. pytest oracle
    # remains; stays a bench headline.
    oracle=f"""
WITH {_DUCK_SIG},
bands AS ({_duck_bands()}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST({" + ".join(f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(_K))} AS BIGINT)
           AS n_matching_minhash
FROM cand c
JOIN sig sa ON c.doc_a = sa.doc_id
JOIN sig sb ON c.doc_b = sb.doc_id
""",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: band signatures -> bucket equi-join ->
    per-pair matching-minhash count (the cheap similarity estimate; exact
    verification is ``dedup_ngram_jaccard_pairs``).

    The full signature RIDES THROUGH the band explode (8 extra BIGINTs per
    band row), so the bucket join emits both sides' signatures and the
    match count needs NO join-back onto the signature frame. Both join
    inputs are the identical band frame shuffled on the identical (band,
    band_key) key, so Spark's ReuseExchange evaluates the md5-heavy
    signature computation ONCE (plan-asserted) — previously the sig frame
    ran 4x (two band sides + two match-count join-backs; measured cold
    3.5s -> 2.0s at sf0.1). The distinct lands on (doc_a, doc_b,
    n_matching_minhash), which equals per-pair distinct because the match
    count is a function of the pair. Wider shuffle rows for two fewer
    shuffles + 3 fewer sig evaluations — the standard trade, and at 100 TB
    the carried columns are bounded (8 ints) while a join-back would
    re-shuffle the whole signature table twice."""
    sig = signature_frame(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        *_MH_COLS,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col(f"mh{2 * b}") * F.lit(P) + F.col(f"mh{2 * b + 1}")
                        ).alias("band_key"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *_MH_COLS, "bk.band", "bk.band_key")
    a, b = bands.alias("a"), bands.alias("b")
    match_count = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(_K)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            match_count.cast("bigint").alias("n_matching_minhash"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
@register(
    "dedup_verified_near_dup",
    # r10 rotation: took a window slot (VERDICT r9 next-round #1).
    # r16 rotation OUT (driver-green r10–r15): ceded its slot to
    # lexical_bm25_from_stream; the oracle below still runs under pytest
    # at both scale factors via all_queries().
    driver_facing=False,
    oracle=f"""
WITH {_DUCK_SIG},
bands AS ({_duck_bands()}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.sgs, sb.sgs)) AS DOUBLE)
             / (len(sa.sgs) + len(sb.sgs) - len(list_intersect(sa.sgs, sb.sgs)))
             AS jaccard
    FROM cand c
    JOIN docshingles sa ON c.doc_a = sa.doc_id
    JOIN docshingles sb ON c.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.6
""",
)
def dedup_verified_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION two-stage near-dup pipeline as one query: MinHash-
    LSH candidate generation (bucket equi-join) followed by EXACT jaccard
    verification computed per candidate pair via array_intersect over the
    pair's own shingle sets — never a corpus-wide posting-list join. At
    scale the verify cost is O(candidates x avg shingle-set size), i.e.
    proportional to what LSH surfaced, not to the corpus; this is the
    shape that replaces both the uncapped jaccard baseline AND raw
    unverified LSH output in a real pipeline. Pytest-only exemplar: each
    stage separately holds a driver CORRECTNESS row
    (dedup_minhash_lsh_pairs, dedup_ngram_jaccard_capped)."""
    sh = doc_shingle_frame(spark, sf_dir).select("doc_id", "sgs")
    cand = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sgs").alias("sgs_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sgs").alias("sgs_b"))
    inter = F.size(F.array_intersect("sgs_a", "sgs_b"))
    jac = inter.cast("double") / (
        F.size("sgs_a") + F.size("sgs_b") - inter
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# --------------------------------------------------------------------------
# localCheckpoint block release lives in io.py (shared storage utility);
# kept under the historical private name for this module's callers.
from ..io import release_checkpoint as _release_checkpoint  # noqa: E402


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Min-label propagation to a fixpoint: every node's label converges
    to the smallest node id in its connected component — the dedup
    endgame that turns candidate PAIRS into CLUSTERS with a canonical
    representative (the component id) per cluster.

    ``nodes``: one column ``doc_id``; ``edges``: ``doc_a``/``doc_b``
    undirected. Each round is one shuffle (neighbor-min groupBy + label
    join); rounds needed = graph diameter. Near-dup graphs are
    shallow — LSH buckets produce clique-ish clusters, so diameter is
    small and bounded in practice; for adversarial billion-node chains
    the same primitive composes into large-star/small-star (alternating
    min-propagation variants, O(log n) rounds) without changing the
    per-round plan shape. Labels are ``localCheckpoint``'d per round —
    truncating logical-plan LINEAGE, not just caching data, so the
    per-round plan stays constant-size no matter how many rounds run —
    and the prior round's blocks are released; convergence is a count of
    changed labels (a metadata-cheap action, not a collect). The
    fixpoint (min id per component) is partitioning-independent, so the
    result is deterministic and oracle-checkable."""
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("component_id")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce("nbr_min", F.col("component_id")),
                ).alias("component_id"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component_id") != F.col("o.component_id"))
            .count()
        )
        _release_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            return labels
    _release_checkpoint(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "graph diameter exceeds the bound; raise max_iter or use "
        "connected_components_star (large-star/small-star, O(log^2 n) "
        "rounds proven, ~log n in practice) for deep chains"
    )


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the variant that handles graphs whose diameter would
    starve plain min-label propagation (a 1M-node chain needs 1M
    propagation rounds but only ~20 star rounds). Kiveris et al. prove
    O(log^2 n) rounds for this alternating form; in practice it behaves
    like ~log n, and ``max_iter=50`` is empirical headroom over that
    observed behavior, not a theoretical bound.

    Edge set is kept oriented ``(u, v)`` with ``u > v`` (no self loops,
    deduped). Per round:

    * **large-star**: every node ``u`` connects each STRICTLY LARGER
      neighbor to ``m = min(neighbors(u) + {u})`` — long chains fold onto
      local minima, roughly halving component depth;
    * **small-star**: every node ``u`` connects each smaller-or-equal
      neighbor (and itself) to its minimum neighbor — flattening local
      minima into stars.

    At the fixpoint the graph is a union of stars whose centers are the
    component minima, so the label of a non-center node is its unique
    neighbor and centers/isolated nodes label themselves. Every round is
    a constant number of shuffles (one groupBy-min + one equi-join per
    phase, plus the dedup distinct), state is the edge set itself (no
    driver-side graph), and convergence is detected by an
    order-independent checksum of the edge set — a metadata-cheap
    aggregate, not a collect. The per-round edge frame is
    ``localCheckpoint``'d: that truncates logical-plan LINEAGE (persist
    alone caches data but leaves the plan tree compounding geometrically,
    which OOMs the driver during analysis on deep graphs — exactly the
    shape this variant exists for), so the analyzed plan stays
    constant-size across rounds and the prior round's blocks are
    released eagerly. Same fixpoint as ``connected_components`` (min id
    per component), so the two are interchangeable under the driver's
    oracle; this one is the production default.
    """
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(frame: DataFrame):
        # Two independently-seeded order-free hash sums: a collision
        # between consecutive DISTINCT edge sets would need to fool both
        # 64-bit sums simultaneously (~2^-128), so early-termination on
        # a false fixpoint is out of the failure model.
        row = frame.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            F.sum(
                F.xxhash64(F.lit(0x5EED), "u", "v").cast("decimal(38,0)")
            ).alias("h2"),
        ).first()
        return (row["n"], row["h"], row["h2"])

    sig = _checksum(e)
    if sig[0] == 0:
        _release_checkpoint(e)
        return nodes.select("doc_id", F.col("doc_id").alias("component_id"))
    for _ in range(max_iter):
        # ---- large-star: (v, min(N(u) + {u})) for every neighbor v > u
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star on the (hi, lo)-oriented output: every smaller
        # neighbor v of u, and u itself, connects to u's minimum neighbor.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(
                mins2.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        )
        new_e = (
            small.select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = _checksum(new_e)
        _release_checkpoint(e)
        e = new_e
        if new_sig == sig:
            # fixpoint: stars centered at component minima. Checkpoint
            # the (output-sized) label frame so the edge blocks can be
            # released before returning.
            star = (
                e.groupBy("u")
                .agg(F.min("v").alias("component_id"))
                .localCheckpoint(eager=True)
            )
            _release_checkpoint(e)
            out = (
                nodes.join(
                    star.withColumnRenamed("u", "doc_id"), "doc_id", "left"
                )
                .select(
                    "doc_id",
                    F.coalesce("component_id", "doc_id").alias("component_id"),
                )
            )
            return out
        sig = new_sig
    _release_checkpoint(e)
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )


@register(
    "dedup_minhash_components",
    driver_facing=False,  # r10 rotation: driver-green r≤9, pytest oracle retained
    oracle=f"""
WITH RECURSIVE {_DUCK_SIG},
bands AS ({_duck_bands()}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM cand
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM cand
),
reach(doc_id, seen) AS (
    SELECT doc_id, doc_id AS seen FROM sig
    UNION
    SELECT r.doc_id, e.dst AS seen
    FROM reach r JOIN edges e ON e.src = r.seen
)
SELECT doc_id, MIN(seen) AS component_id
FROM reach
GROUP BY doc_id
""",
)
def dedup_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the MinHash-LSH candidate graph: each doc
    labeled with the smallest doc_id reachable through candidate pairs —
    the canonical representative a dedup pipeline keeps. Spark side runs
    alternating large-star/small-star rounds (connected_components_star,
    O(log^2 n) rounds proven, ~log n observed — safe even for deep candidate
    graphs); the oracle computes the same fixpoint as a DuckDB recursive
    CTE (transitive reachability, MIN over the reachable set)."""
    sig = signature_frame(spark, sf_dir)
    nodes = sig.select("doc_id")
    edges = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components_star(nodes, edges)


# --------------------------------------------------------------------------
#: Simhash near-dup search: emit pairs at hamming distance <= SIMHASH_HD_MAX.
SIMHASH_HD_MAX = 3
#: 64-bit simhash — the PRODUCTION layout (Manku et al. WWW'07, Google's
#: web-scale configuration): 64 sign bits, hamming <= 3, candidates from a
#: 4-block x 16-bit split. Candidate generation is the block-split: split
#: the b-bit value into HD_MAX+1 blocks; by pigeonhole any pair within
#: hamming distance HD_MAX agrees EXACTLY on at least one block, so an
#: equi-join on (block, block_value) has guaranteed 100% recall — unlike
#: probabilistic LSH banding — and exact bit_count(xor) verification
#: removes false positives. 16-bit block values give 65k buckets per
#: block, so bucket population is corpus/65536 per block at any scale.
_SH64_BLOCKS = SIMHASH_HD_MAX + 1
_SH64_BLOCK_BITS = SIMHASH64_BITS // _SH64_BLOCKS
_SH64_BLOCK_MASK = (1 << _SH64_BLOCK_BITS) - 1

_DUCK_SIMHASH64_BITS = " + ".join(
    f"(CASE WHEN list_sum(list_transform({'hwa' if j < 32 else 'hwb'}, "
    f"h -> CASE WHEN (h % {1 << (j % 32 + 1)}) >= {1 << j % 32} "
    f"THEN 1 ELSE -1 END)) >= 0 "
    f"THEN {-(1 << 63) if j == 63 else (1 << j)} ELSE 0 END)"
    for j in range(SIMHASH64_BITS)
)

#: md5 computed ONCE per word; two 60-bit values sliced from the digest
#: feed bits 0..31 (low) and 32..63 (high).
_DUCK_SIG64 = f"""
hashed AS (
    SELECT doc_id, list_transform(ws, w -> md5(w)) AS m5
    FROM docwords
    WHERE len(ws) >= 1
),
hh AS (
    SELECT doc_id,
           list_transform(m5, m -> ('0x' || substr(m, 1, 15))::BIGINT) AS hwa,
           list_transform(m5, m -> ('0x' || substr(m, 16, 15))::BIGINT) AS hwb
    FROM hashed
),
sig AS (SELECT doc_id, ({_DUCK_SIMHASH64_BITS})::BIGINT AS simhash_val FROM hh)
"""


def simhash64_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + 64-bit simhash (signed-BIGINT packing). Per-row expression,
    shuffle-free; md5 is materialized once per word and both 60-bit hash
    views are sliced from it (hex chars 1-15 and 16-30)."""
    prepare(spark)
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    h_lo = lambda m: F.conv(F.substring(m, 1, 15), 16, 10).cast("bigint")  # noqa: E731
    h_hi = lambda m: F.conv(F.substring(m, 16, 15), 16, 10).cast("bigint")  # noqa: E731
    return (
        docs.withColumn("ws", words("text"))
        .filter(F.size("ws") >= 1)
        .withColumn("m5", F.transform(F.col("ws"), lambda w: F.md5(w)))
        .withColumn("hwa", F.transform(F.col("m5"), h_lo))
        .withColumn("hwb", F.transform(F.col("m5"), h_hi))
        .select(
            "doc_id", simhash64(F.col("hwa"), F.col("hwb")).alias("simhash_val")
        )
    )


def _duck_sh64_blocks() -> str:
    selects = [
        f"SELECT doc_id, {j} AS block, "
        f"(simhash_val >> {j * _SH64_BLOCK_BITS}) & {_SH64_BLOCK_MASK} AS bval "
        "FROM sig"
        for j in range(_SH64_BLOCKS)
    ]
    return " UNION ALL ".join(selects)


@register(
    "dedup_simhash64_pairs",
    driver_facing=False,  # r14 rotation: driver-green r10-r13; slot ceded
    # to lexical_bm25_from_store. pytest oracle remains.
    oracle=f"""
WITH {DUCK_DOCWORDS},
{_DUCK_SIG64.strip().rstrip()},
blocks AS ({_duck_sh64_blocks()}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM blocks a JOIN blocks b
      ON a.block = b.block AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.simhash_val, sb.simhash_val)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON c.doc_a = sa.doc_id
JOIN sig sb ON c.doc_b = sb.doc_id
WHERE bit_count(xor(sa.simhash_val, sb.simhash_val)) <= {SIMHASH_HD_MAX}
""",
)
def dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash hamming neighbors (hamming <= SIMHASH_HD_MAX) — the
    PRODUCTION layout: 4 blocks x 16 bits, candidates from the (block,
    block_value) EQUI-join (pigeonhole guarantees 100% recall at hd <= 3),
    exact popcount on the signature xor verifies.

    Scale posture: the signature is per-row/shuffle-free; the candidate
    join shuffles on (block, bval). Bucket population is corpus_size /
    2^block_bits per block, so block WIDTH (and hence total simhash width
    = blocks x width) must grow with the corpus: 65,536 buckets per block
    keep candidate fan-out bounded on a 100 TB corpus, where a 16-bit
    signature (4x4-bit blocks) would degenerate into 16 giant buckets
    (measured at 50k docs: ~38 s for that layout vs ~7 s for this one,
    PERFORMANCE.md). A hot bucket then means a true near-dup cluster,
    which AQE skew-split handles like the minhash-LSH join above.
    Signed-BIGINT packing (bit 63 = -2^63) keeps the value, the xor and
    the popcount identical across Spark and DuckDB. No nested loop
    anywhere (plan-asserted)."""
    sig = simhash64_frame(spark, sf_dir)
    blocks = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("block"),
                        F.shiftright(F.col("simhash_val"), j * _SH64_BLOCK_BITS)
                        .bitwiseAND(F.lit(_SH64_BLOCK_MASK))
                        .alias("bval"),
                    )
                    for j in range(_SH64_BLOCKS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.block", "bk.bval")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash_val").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash_val").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(hamming <= SIMHASH_HD_MAX)
        .select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
    )


# --------------------------------------------------------------------------
#: Document-frequency cap for the headline jaccard: shingles appearing in
#: more than DF_CAP documents are dropped from the index on BOTH engines
#: (the standard stop-phrase guard — they carry no dedup signal and are
#: the quadratic term of the posting-list self-join).
DF_CAP = 10


def _shingle_pairs_sql(df_cap: int | None) -> str:
    """The CTEs both posting-list kernels share, over relation ``{docs}``,
    ending in ``pairs(d1, d2)``: every ordered pair of posting entries
    ``struct(doc_id, n_sg)`` that share a shingle.

    One exchange per key: the grams are hash-partitioned on ``sgh`` once,
    and the per-doc distinct, the df guard and the posting regroup all
    run on that partitioning; the post-cap shingle count ``n_sg`` is a
    COUNT window over ``doc_id`` that rides inside the posting structs,
    so no sizes aggregate or sizes join exists. A cap runs
    :func:`~.skew.hot_key_guard_sql`, so rows above it never reach a
    collect buffer."""
    if df_cap is None:
        kept = "SELECT doc_id, sgh FROM inv"
    else:
        kept = hot_key_guard_sql("inv", "doc_id, sgh", "sgh", df_cap)
    return f"""
grams AS (
    SELECT /*+ REPARTITION(sgh) */ doc_id, xxhash64(g) AS sgh
    FROM ({word_gram_rows_sql('{docs}')})
),
inv AS (SELECT DISTINCT doc_id, sgh FROM grams),
kept AS ({kept}),
sized AS (
    SELECT doc_id, sgh, count(*) OVER (PARTITION BY doc_id) AS n_sg FROM kept
),
posting AS (
    SELECT sgh, collect_list(struct(doc_id, n_sg)) AS docs
    FROM sized GROUP BY sgh
),
pairs AS (
    SELECT d1, explode(docs) AS d2
    FROM (SELECT explode(docs) AS d1, docs FROM posting)
)"""


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.6,
    df_cap: int | None = None,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs via a shingle inverted index.

    shuffle on shingle -> pair counts -> jaccard = shared/(|a|+|b|-shared).
    ``df_cap`` drops shingles whose document frequency exceeds the cap and
    computes jaccard over the REMAINING shingle universe (sizes recomputed
    post-cap) — the standard stop-phrase guard that bounds the self-join
    fan-out to df_cap per posting list at any corpus size. None = exact.

    A cap runs the df-first build (VERDICT r13 #2): a COUNT window over
    the shingle key filters rows above the cap BEFORE any list is
    collected — every collect buffer is bounded by df_cap entries
    instead of one buffer per shingle at its full (pre-cap) document
    frequency, while the window's spillable row buffer carries the hot
    keys safely. The window runs on the gram exchange.

    MEMORY SHAPE of the exact form (``df_cap=None``): collect_list
    materializes each shingle's FULL posting list in one aggregation
    buffer, so an ultra-common shingle is a single-key executor OOM —
    which is why the exact form is gated behind require_small at its
    registered entry point and is never the production path.

    The whole plan is one SQL statement (:func:`_shingle_pairs_sql`).
    Posting-list formulation: ONE groupBy on the shingle hash builds the
    inverted index as arrays, and pair counting explodes each posting
    list twice PARTITION-LOCALLY (Generate, codegen'd) — no self-join.
    The index is keyed on a 64-bit hash of the shingle, not the string:
    smaller shuffle rows, integer grouping. Collision risk is
    ~|shingles|^2 / 2^65 (~1e-10 here, still <1e-3 at a billion
    distinct shingles) and a collision only perturbs one pair's overlap
    count by 1. [History: SMJ string self-join 13.8s -> SHJ on xxhash64
    9.5s -> posting-list explode 1.3s at sf0.1.]
    """
    prepare(spark)
    return spark.sql(
        f"""WITH {_shingle_pairs_sql(df_cap)},
shared AS (
    SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b, d1.n_sg AS n_a,
           d2.n_sg AS n_b, count(*) AS shared
    FROM pairs WHERE d1.doc_id < d2.doc_id
    GROUP BY d1.doc_id, d2.doc_id, d1.n_sg, d2.n_sg
)
SELECT doc_a, doc_b, jaccard FROM (
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
    FROM shared
) WHERE jaccard >= CAST({threshold!r} AS DOUBLE)""",
        docs=table(spark, sf_dir, "documents"),
    )


@register(
    "dedup_ngram_jaccard_pairs",
    driver_facing=False,  # uncapped quadratic baseline; production path is dedup_ngram_jaccard_capped
    oracle=f"""
WITH {DUCK_DOCWORDS},
inv AS (SELECT doc_id, unnest(sgs) AS sg FROM docshingles),
sizes AS (SELECT doc_id, len(sgs) AS n_sg FROM docshingles),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM inv a JOIN inv b ON a.sg = b.sg AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(shared AS DOUBLE) / (sa.n_sg + sb.n_sg - shared) AS jaccard
FROM shared
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(shared AS DOUBLE) / (sa.n_sg + sb.n_sg - shared) >= 0.6
""",
)
def dedup_ngram_jaccard_pairs_q(
    spark: SparkSession, sf_dir: str, *, allow_large: bool = False
) -> DataFrame:
    """Exact (uncapped) jaccard — correct on any corpus but carries the
    posting-list quadratic hazard (time AND the collect_list buffer, see
    ngram_jaccard_pairs); kept registered as the ground-truth form.
    Refuses corpora above BASELINE_ROW_LIMIT unless ``allow_large=True``
    — use dedup_ngram_jaccard_capped at scale."""
    from .similarity import BASELINE_ROW_LIMIT

    if not allow_large:
        require_small(
            table(spark, sf_dir, "documents"),
            BASELINE_ROW_LIMIT,
            "dedup_ngram_jaccard_pairs",
        )
    return ngram_jaccard_pairs(spark, sf_dir, threshold=0.6, df_cap=None)


@register(
    "dedup_ngram_jaccard_capped",
    headline=True,
    oracle=f"""
WITH {DUCK_DOCWORDS},
inv AS (SELECT doc_id, unnest(sgs) AS sg FROM docshingles),
freq AS (
    SELECT sg FROM (SELECT sg, COUNT(*) AS df FROM inv GROUP BY 1)
    WHERE df <= {DF_CAP}
),
invc AS (SELECT i.doc_id, i.sg FROM inv i JOIN freq f USING (sg)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sg FROM invc GROUP BY 1),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM invc a JOIN invc b ON a.sg = b.sg AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(shared AS DOUBLE) / (sa.n_sg + sb.n_sg - shared) AS jaccard
FROM shared
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(shared AS DOUBLE) / (sa.n_sg + sb.n_sg - shared) >= 0.6
""",
)
def dedup_ngram_jaccard_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE near-dup path: document-frequency-capped jaccard. The cap
    (applied identically in the oracle) bounds every posting list to
    DF_CAP docs, so the self-join fan-out is <= DF_CAP(DF_CAP-1)/2 per
    shingle REGARDLESS of corpus size — the property that makes this the
    100 TB-safe registered form, with the guard-window bounded build
    (PERFORMANCE r14)."""
    return ngram_jaccard_pairs(spark, sf_dir, threshold=0.6, df_cap=DF_CAP)


# --------------------------------------------------------------------------
#: Containment threshold for the registered query: src shares >= 60% of
#: its (capped) shingles with dst. Lower than a near-dup jaccard bar on
#: purpose — containment catches ASYMMETRIC duplication jaccard misses.
CONTAINMENT_T = 0.6


def ngram_containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = CONTAINMENT_T,
    df_cap: int = DF_CAP,
) -> DataFrame:
    """DIRECTED near-dup: containment(src→dst) = |src ∩ dst| / |src| over
    the df-capped shingle universe — the asymmetric signal Jaccard
    dilutes away (a paragraph quoted inside a much longer document has
    tiny Jaccard but containment ≈ 1; the training-data failure mode is
    a benchmark question embedded in a web page). Same inverted-index /
    posting-list machinery and scale bound as the capped Jaccard: pair
    fan-out ≤ df_cap(df_cap−1)/2 per shingle at any corpus size; emits
    BOTH directions of each sharing pair so the consumer filters per
    side. Integer/integer division keeps the score bit-identical
    cross-engine. The cap runs the guard-window df-first build exactly
    as in :func:`ngram_jaccard_pairs`."""
    prepare(spark)
    return spark.sql(
        f"""WITH {_shingle_pairs_sql(df_cap)},
shared AS (
    SELECT d1.doc_id AS src_doc, d2.doc_id AS dst_doc, d1.n_sg AS n_src,
           count(*) AS shared
    FROM pairs WHERE d1.doc_id != d2.doc_id
    GROUP BY d1.doc_id, d2.doc_id, d1.n_sg
)
SELECT src_doc, dst_doc, n_src, containment FROM (
    SELECT src_doc, dst_doc, n_src,
           CAST(shared AS DOUBLE) / n_src AS containment
    FROM shared
) WHERE containment >= CAST({threshold!r} AS DOUBLE)""",
        docs=table(spark, sf_dir, "documents"),
    )


@register(
    "dedup_containment_pairs",
    # r12 rotation: promoted to the driver window (VERDICT r11 next-round #1).
    # r18 rotation OUT: ceded its slot to retrieval_rrf_from_store after
    # six driver-green rounds (r12-r17); the full DuckDB oracle keeps
    # running in pytest at sf0.1 + sf0.01 via tests/test_oracle_parity.py.
    driver_facing=False,
    oracle=f"""
WITH {DUCK_DOCWORDS},
inv AS (SELECT doc_id, unnest(sgs) AS sg FROM docshingles),
freq AS (
    SELECT sg FROM (SELECT sg, COUNT(*) AS df FROM inv GROUP BY 1)
    WHERE df <= {DF_CAP}
),
invc AS (SELECT i.doc_id, i.sg FROM inv i JOIN freq f USING (sg)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sg FROM invc GROUP BY 1),
shared AS (
    SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, COUNT(*) AS shared
    FROM invc a JOIN invc b ON a.sg = b.sg AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT s.src_doc, s.dst_doc, CAST(sz.n_sg AS BIGINT) AS n_src,
       CAST(s.shared AS DOUBLE) / sz.n_sg AS containment
FROM shared s JOIN sizes sz ON s.src_doc = sz.doc_id
WHERE CAST(s.shared AS DOUBLE) / sz.n_sg >= {CONTAINMENT_T}
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_containment_pairs(spark, sf_dir)


# --------------------------------------------------------------------------
def _duck_quality_scored() -> str:
    """The quality-scoring CTE chain (per_doc, scored) from textstats —
    shared so the keep-best oracle scores documents with the EXACT same
    arithmetic as ``text_quality_scores``."""
    from .textstats import _DUCK_QUALITY

    return _DUCK_QUALITY


@register(
    "dedup_keep_best_quality",
    driver_facing=False,  # r12 rotation: driver-green r≤11; dedup family
    # keeps five other driver rows. Slot ceded to the r10-crop promotions.
    oracle=lambda: f"""
WITH RECURSIVE {_DUCK_SIG},
bands AS ({_duck_bands()}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM cand
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM cand
),
reach(doc_id, seen) AS (
    SELECT doc_id, doc_id AS seen FROM sig
    UNION
    SELECT r.doc_id, e.dst AS seen
    FROM reach r JOIN edges e ON e.src = r.seen
),
comp AS (
    SELECT doc_id, MIN(seen) AS component_id FROM reach GROUP BY doc_id
),
{_duck_quality_scored()}
SELECT c.doc_id, c.component_id, s.quality,
       (ROW_NUMBER() OVER (PARTITION BY c.component_id
                           ORDER BY COALESCE(s.quality, -1.0) DESC,
                                    c.doc_id) = 1) AS kept
FROM comp c LEFT JOIN scored s ON c.doc_id = s.doc_id
""",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection by QUALITY, not by id: within every near-dup
    cluster (MinHash-LSH candidate graph -> connected components), keep
    the highest-quality member (``text_quality_scores``; doc_id breaks
    ties) — what a production dedup actually ships, since the smallest id
    is rarely the best copy. Output: every doc labeled with its
    component, its quality score, and the ``kept`` flag.

    Scale shape: the component labeling is the star-rounds operator
    (equi-joins + groupBys, constant per-round plan), quality scoring is
    per-row scan work, and the argmax is one row_number window
    partitioned by component_id — components are small (near-dup
    clusters), so the window never sees a skewed partition bigger than
    the largest cluster. No new shuffle class beyond what the pieces
    already pay."""
    from pyspark.sql import Window

    from .textstats import text_quality_scores

    comp = dedup_minhash_components(spark, sf_dir)
    q = text_quality_scores(spark, sf_dir).select("doc_id", "quality")
    j = comp.join(q, "doc_id", "left")
    w = Window.partitionBy("component_id").orderBy(
        F.desc(F.coalesce(F.col("quality"), F.lit(-1.0))), F.asc("doc_id")
    )
    return j.select(
        "doc_id",
        "component_id",
        "quality",
        (F.row_number().over(w) == 1).alias("kept"),
    )


# --------------------------------------------------------------------------
@register(
    "corpus_source_similarity",
    driver_facing=False,  # driver window is full; oracle-gated in pytest
    oracle=f"""
WITH {DUCK_DOCWORDS},
exploded AS (SELECT source, unnest(sgs) AS sg FROM docshingles),
ssig AS (
    SELECT source,
           {", ".join(f"{e} AS mh{i}" for i, e in enumerate(duck_minhash_exprs()))}
    FROM exploded GROUP BY source
),
est AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST({" + ".join(f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(_K))} AS BIGINT)
               AS n_matching_minhash
    FROM ssig a JOIN ssig b ON a.source < b.source
),
dist AS (SELECT DISTINCT source, sg FROM exploded),
sizes AS (SELECT source, COUNT(*) AS n FROM dist GROUP BY source),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
    FROM dist a JOIN dist b ON a.sg = b.sg AND a.source < b.source
    GROUP BY 1, 2
)
SELECT e.src_a, e.src_b, e.n_matching_minhash,
       CAST(e.n_matching_minhash AS DOUBLE) / {_K} AS est_jaccard,
       CAST(COALESCE(i.n_shared, 0) AS DOUBLE)
           / (sa.n + sb.n - COALESCE(i.n_shared, 0)) AS exact_jaccard
FROM est e
LEFT JOIN inter i ON e.src_a = i.src_a AND e.src_b = i.src_b
JOIN sizes sa ON e.src_a = sa.source
JOIN sizes sb ON e.src_b = sb.source
""",
)
def corpus_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level source-overlap analytics via MERGEABLE minhash: each
    source's signature is the elementwise MIN over its docs' per-shingle
    hashes — the sketch-algebra law sig(A ∪ B) = min(sig(A), sig(B)) that
    makes minhash a distributive aggregate (partial-agg collapses shards
    map-side; signatures of yesterday's corpus merge with today's batch
    without touching raw data). Output per source pair: the sketch
    estimate (matching components / k) NEXT TO the exact shingle-set
    Jaccard, so the estimate's error is visible in the result itself.

    Scale shape: the sketch side reduces the corpus to one k-int row per
    source (partial-agg, one exchange) and compares pairs of AGGREGATES —
    a broadcast theta-join over #sources rows, metadata-sized at any
    corpus size. The exact side is the expensive path the sketch replaces
    (distinct-shingle equi-join) — kept here as the in-result ground
    truth, droppable at 100 TB."""
    sh = doc_shingle_frame(spark, sf_dir).selectExpr(
        "source", f"explode({hash_array_sql('sgs')}) AS h"
    )
    ssig = sh.groupBy("source").agg(
        *[
            F.min((F.lit(a) * (F.col("h") % P) + F.lit(b)) % P).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )
    a, b = ssig.alias("a"), ssig.alias("b")
    match = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(_K)
    ).cast("bigint")
    est = a.join(
        F.broadcast(b), F.col("a.source") < F.col("b.source")
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        match.alias("n_matching_minhash"),
    )
    dist = (
        doc_shingle_frame(spark, sf_dir)
        .select("source", F.explode("sgs").alias("sg"))
        .distinct()
    )
    sizes = dist.groupBy("source").agg(F.count("*").alias("n"))
    da, db = dist.alias("da"), dist.alias("db")
    inter = (
        da.join(
            db,
            (F.col("da.sg") == F.col("db.sg"))
            & (F.col("da.source") < F.col("db.source")),
        )
        .groupBy(
            F.col("da.source").alias("src_a"), F.col("db.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        est.join(inter, ["src_a", "src_b"], "left")
        .join(sizes.selectExpr("source AS src_a", "n AS na"), "src_a")
        .join(sizes.selectExpr("source AS src_b", "n AS nb"), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_matching_minhash",
            (F.col("n_matching_minhash").cast("double") / _K).alias(
                "est_jaccard"
            ),
            (
                F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_shared"), F.lit(0)))
            ).alias("exact_jaccard"),
        )
    )
