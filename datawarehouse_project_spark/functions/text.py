"""Text / hashing expression library for the large-scale pipeline operators.

Everything is a native Column expression (higher-order array functions, no
Python UDFs, no explode unless an inverted index is the point), so per-doc
work stays inside whole-stage codegen and needs no shuffle.

Portability contract: every hash here is reproducible in ANSI SQL
(DuckDB oracle) —
    H(s) = first 15 hex chars of md5(s) as a BIGINT  (60 bits, positive)
Spark:   CAST(CONV(SUBSTRING(MD5(s),1,15),16,10) AS BIGINT)
DuckDB:  ('0x' || substr(md5(s),1,15))::BIGINT
so minhash signatures, simhash values, LSH band keys and fingerprints are
exact integers, identical across engines — and across cluster sizes, since
none of them depend on partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1: modulus for the hash-family arithmetic. Products
#: a*h stay < 2^62 — no BIGINT overflow on either engine.
P = 2147483647

#: Fixed (a, b) pairs for the minhash family h_i(x) = (a_i*x + b_i) mod P.
#: Arbitrary odd constants < P; hardcoded so signatures are stable across
#: versions and engines.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1103515245, 12345),
    (214013, 2531011),
    (69069, 362437),
    (1664525, 1013904223),
    (22695477, 1),
    (134775813, 1),
    (1588635695, 3611941),
    (1223106847, 9999999),
]


def portable_hash(c: Column) -> Column:
    """H(s): 60-bit positive BIGINT from md5 — identical in Spark & DuckDB."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def words(c: Column | str) -> Column:
    """Lowercased whitespace tokenization (array<string>)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.split(F.lower(F.trim(c)), r"\s+")


def word_shingles(ws: Column, n: int = 3) -> Column:
    """Distinct word n-grams as strings ('w1 w2 w3'), 1-based like DuckDB."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)]),
    )
    return F.array_distinct(grams)


def hash_array(items: Column) -> Column:
    """H(x) % P per array element. md5 is the expensive step in every
    hash-family operator — compute it ONCE per element (materialized via
    withColumn), then minhash permutations / simhash bits are cheap integer
    maps over these values."""
    return F.transform(items, lambda s: portable_hash(s) % P)


def words_sql(col: str = "text") -> str:
    """SQL-text form of :func:`words` — identical expression, built as a
    string so plan construction costs ONE parser call instead of a py4j
    round-trip per Column node (measured 3x faster builds on the
    signature frame; the py4j tax is driver-side latency every cold
    query pays)."""
    return f"split(lower(trim({col})), '\\\\s+')"


def word_shingles_sql(ws: str = "ws", n: int = 3) -> str:
    """SQL-text form of :func:`word_shingles` (same expression tree)."""
    parts = ", ".join(f"element_at({ws}, i + {j})" for j in range(n))
    return (
        f"array_distinct(transform(sequence(1, size({ws}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})))"
    )


def word_gram_rows_sql(src: str, n: int = 3) -> str:
    """A SELECT over relation ``src`` (``doc_id``, ``text``) giving one
    row ``(doc_id, g)`` per rolling (non-distinct) word n-gram of each
    row with >= n words. The grams come from an explode of
    ``sequence(0, size(ws) - n)`` and a ``ws[i]`` projection: a
    codegen'd Generate and projection, where the array form above runs
    an interpreted lambda per gram."""
    parts = ", ".join(f"ws[i + {j}]" if j else "ws[i]" for j in range(n))
    return (
        f"SELECT doc_id, concat_ws(' ', {parts}) AS g FROM ("
        f"SELECT doc_id, ws, explode(sequence(0, size(ws) - {n})) AS i FROM ("
        f"SELECT doc_id, {words_sql('text')} AS ws FROM {src}) "
        f"WHERE size(ws) >= {n})"
    )


def hash_array_sql(items: str = "sgs") -> str:
    """SQL-text form of :func:`hash_array` (same expression tree)."""
    return (
        f"transform({items}, s -> "
        f"cast(conv(substring(md5(s), 1, 15), 16, 10) AS bigint) % {P})"
    )


def minhash_signature_sql(hashed: str = "hsh") -> list[str]:
    """SQL-text form of :func:`minhash_signature` (same expression
    trees, same coefficient family — signatures are bit-identical)."""
    return [
        f"array_min(transform({hashed}, h -> ({a} * h + {b}) % {P}))"
        for a, b in MINHASH_COEFFS
    ]


def minhash_signature(hashed: Column) -> list[Column]:
    """k minhash values over pre-hashed shingles (see ``hash_array``);
    empty array -> NULLs (caller filters docs with too few tokens). Runs
    per-row, shuffle-free."""
    # NB: Spark higher-order lambdas must be unary — a second Python
    # parameter would be bound to the array index — so loop variables are
    # captured via a factory, not default args.
    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % P

    return [F.array_min(F.transform(hashed, perm(a, b))) for a, b in MINHASH_COEFFS]


#: 64-bit simhash: the PRODUCTION signature width (Manku et al., WWW'07 —
#: Google's web-scale layout). Bits 0..31 test the low word-hash, bits
#: 32..63 the high word-hash (two 60-bit values from one md5). The value
#: is the signed-BIGINT reinterpretation of the 64 bits: bit 63
#: contributes -2^63, so packing stays inside BIGINT on both engines
#: (max positive partial sum is exactly 2^63-1 — no overflow even under
#: Spark's ANSI arithmetic).
SIMHASH64_BITS = 64


def simhash64(hashed_lo: Column, hashed_hi: Column) -> Column:
    """Frequency-weighted 64-bit sign-hash over pre-hashed words.

    ``hashed_lo``/``hashed_hi`` are arrays of two independent 60-bit
    per-word hashes, hex chars 1-15 and 16-30 of one md5 per element
    (see ``portable_hash``). bit_j = 1 iff sum over words of (+1 if bit j'
    of the word-hash else -1) >= 0, with j' = j % 32 and the hash picked
    by j // 32. Integer arithmetic end-to-end => exact. The bit test is
    modulo-based ((h % 2^(j+1)) >= 2^j) rather than shift/AND so the
    identical expression runs on any ANSI engine."""

    def bit_sign(j: int):
        return lambda h: F.when(
            (h % F.lit(1 << (j + 1))) >= F.lit(1 << j), 1
        ).otherwise(-1)

    total = F.lit(0).cast("bigint")
    for j in range(SIMHASH64_BITS):
        src = hashed_lo if j < 32 else hashed_hi
        jj = j % 32
        contrib = F.aggregate(
            F.transform(src, bit_sign(jj)), F.lit(0), lambda acc, x: acc + x
        )
        term = F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j)
        total = total + F.when(contrib >= 0, term).otherwise(F.lit(0))
    return total.cast("bigint")


def rolling_fingerprint(ws: Column) -> Column:
    """Order-sensitive document fingerprint: left fold
    fp = (fp * 131 + H(word) mod P) mod P  over the word sequence.
    Distinguishes permutations, unlike set-based hashes."""
    return F.aggregate(
        ws,
        F.lit(0).cast("bigint"),
        lambda acc, w: (acc * 131 + (portable_hash(w) % P)) % P,
    )


# ---------------------------------------------------------------------------
# DuckDB-side templates for the same primitives (used by oracle strings).

DUCK_H = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def duck_minhash_exprs(shingle_col: str = "sg") -> list[str]:
    """Aggregate expressions: MIN((a*(H(sg)%P)+b)%P) per coefficient pair —
    for oracles that unnest shingles into rows."""
    h = DUCK_H.format(x=shingle_col)
    return [
        f"MIN(({a} * ({h} % {P}) + {b}) % {P})" for a, b in MINHASH_COEFFS
    ]


#: Document tokenization/shingling as DuckDB CTEs — the oracle twin of
#: words() / word_shingles() (3-grams, distinct, docs with >=3 words).
DUCK_DOCWORDS = """
docwords AS (
    SELECT doc_id, lang, source, n_chars, text,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
    FROM documents
),
docshingles AS (
    SELECT doc_id, lang, source, ws,
           list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sgs
    FROM docwords
    WHERE len(ws) >= 3
)
"""
