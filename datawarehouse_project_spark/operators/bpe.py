"""BPE merge-rule training — the tokenizer-building step of a training
pipeline.

Byte-pair encoding trains on the WORD-FREQUENCY table, not the raw
corpus: one corpus-wide aggregation produces (word, count), and every
merge round after that touches only that table — the asymmetry that
makes BPE tractable at 100 TB (the corpus pass is O(corpus) once; the
K merge rounds are O(vocabulary) each, and a real vocabulary is
10³–10⁷ rows no matter how big the corpus is).

The trainer is one lazy plan: the word table feeds a single-group
grouped map (``groupBy().applyInPandas``), and its Python worker runs
plain sequential BPE over the whole vocabulary, which that one worker
holds in memory. Per round it recounts the adjacent symbol pairs
weighted by word count, takes the max-count pair (deterministic
tie-break: count DESC, then pair ASC — pinned, because real BPE
implementations differ exactly here) and merges it greedily left to
right in every word ('aaa' under merge (a,a) becomes ['aa','a'] — the
standard greedy semantics). The stage emits either the merge rules or
each word's final segmentation, so building either row launches no
Spark job and a rewritten corpus retrains on the next execution.

No DuckDB oracle — the loop is genuinely iterative (the round-N input
depends on round-N-1's argmax), which SQL cannot state; the gate is a
golden differential against an independent pure-Python BPE in
tests/test_bpe.py, plus symbol-conservation invariants.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import words
from ..io import table
from ..plans.registry import register
from ..session import prepare

#: Merge rounds for the registered exemplar — enough to produce
#: multi-character subwords on the test corpora; the API takes any K.
N_MERGES = 12

#: End-of-word marker (the classic sentinel): distinguishes "t h e </w>"
#: from the prefix "t h e" inside "t h e m </w>", exactly as the
#: original BPE formulation does.
EOW = "</w>"


def word_freq_table(docs: DataFrame) -> DataFrame:
    """(word, count) over the corpus — the ONE corpus-wide pass."""
    return (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _trainer(n_merges: int):
    """Sequential BPE over a word table ``wf`` (word, n) as a function
    ``wf -> (rules, segs)``: the rules [(left, right,
    weighted_pair_count), ...] in training order, and each word's
    symbols after the last rule. Stops early if no adjacent pair
    remains. Built from closures so that a Python worker unpickles it
    without importing this package."""

    def merge(syms: list[str], left: str, right: str) -> list[str]:
        """Greedy left-to-right merge of adjacent (left, right)."""
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def train(wf: pd.DataFrame):
        segs = [list(w) + [EOW] for w in wf["word"]]
        counts = [int(n) for n in wf["n"]]
        rules = []
        for _ in range(n_merges):
            pairs = Counter()
            for syms, n in zip(segs, counts):
                for pair in zip(syms, syms[1:]):
                    pairs[pair] += n
            if not pairs:
                break
            (left, right), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            rules.append((left, right, c))
            segs = [merge(syms, left, right) for syms in segs]
        return rules, segs

    return train


def train_bpe_merges(docs: DataFrame, n_merges: int) -> DataFrame:
    """The ``n_merges`` learned merge rules as (rank, left, right,
    merged, pair_count) — what a tokenizer ships as its merges.txt."""
    train = _trainer(n_merges)

    def rules(wf: pd.DataFrame) -> pd.DataFrame:
        learned, _ = train(wf)
        return pd.DataFrame(
            {
                "rank": range(1, len(learned) + 1),
                "left": [left for left, _, _ in learned],
                "right": [right for _, right, _ in learned],
                "merged": [left + right for left, right, _ in learned],
                "pair_count": [c for _, _, c in learned],
            }
        )

    return word_freq_table(docs).groupBy().applyInPandas(
        rules,
        "rank int, left string, right string, merged string, pair_count long",
    )


def bpe_segment_words(docs: DataFrame, n_merges: int) -> DataFrame:
    """Every DISTINCT word with its subwords after ``n_merges`` learned
    merges: (word, subwords array). Segmentation costs O(vocabulary ×
    K), never O(corpus); the corpus only ever joins against this table
    by word."""
    train = _trainer(n_merges)

    def segments(wf: pd.DataFrame) -> pd.DataFrame:
        _, segs = train(wf)
        return pd.DataFrame({"word": wf["word"], "subwords": segs})

    return word_freq_table(docs).groupBy().applyInPandas(
        segments, "word string, subwords array<string>"
    )


@register("bpe_merge_rules")  # r12: promoted (rows-only gate). No oracle: the loop
# is genuinely iterative (round N consumes round N-1's argmax), which SQL
# cannot state — golden-differential-gated against a pure-Python BPE in
# tests/test_bpe.py instead
def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table of the corpus."""
    prepare(spark)
    return train_bpe_merges(table(spark, sf_dir, "documents"), N_MERGES)


@register("bpe_token_counts")  # r10 rotation: driver-facing as a rows-only
# row (no oracle: consumes the iterative trainer's rules); gated by the
# python-reference differential in tests/test_bpe.py
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the learned BPE: per document, the
    subword-token count before vs after merging (the compression a
    tokenizer buys). Plan: segment the VOCABULARY once, then one explode
    + equi-join of corpus words against the segmentation table and a
    per-doc re-aggregation — the corpus is never touched by the
    trainer."""
    prepare(spark)
    docs = table(spark, sf_dir, "documents")
    seg = bpe_segment_words(docs, N_MERGES).select(
        "word", F.size("subwords").alias("n_subwords")
    )
    doc_words = docs.select(
        "doc_id", F.explode(words("text")).alias("word")
    )
    return (
        doc_words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_subwords").cast("bigint").alias("n_bpe_tokens"),
            # chars+EOW per word is the untrained-token baseline
            F.sum(F.length("word") + F.lit(1))
            .cast("bigint")
            .alias("n_char_tokens"),
        )
    )
