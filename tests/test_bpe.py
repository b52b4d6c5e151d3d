"""BPE merge training: golden differential against an independent
pure-Python reference, greedy-merge semantics, and conservation
invariants."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from datawarehouse_project_spark.catalog import all_queries
from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.functions.text import words  # noqa: F401
from datawarehouse_project_spark.operators.bpe import (
    EOW,
    N_MERGES,
    train_bpe_merges,
)

# BPE has no DuckDB oracle (the trainer is iterative), so no oracle sweep
# checks its values: the golden differentials below are its only value
# gate. The ones that train over the test corpus run in the slow lane
# (`pytest -m slow`); the pure-Python batch selection and the one-row
# greedy-merge case run in the fast lane.


def _py_bpe(word_counts: dict[str, int], n_merges: int):
    """Independent reference: textbook BPE on a word-frequency table
    with (count DESC, pair ASC) tie-breaks and greedy left-to-right
    merging."""
    vocab = {
        tuple(list(w) + [EOW]): n for w, n in word_counts.items()
    }
    rules = []
    for _ in range(n_merges):
        counts = Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += n
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        rules.append((left, right, c))
        merged = left + right
        new_vocab = {}
        for syms, n in vocab.items():
            out, pend = [], None
            for s in syms:
                if pend is None:
                    pend = s
                elif pend == left and s == right:
                    out.append(merged)
                    pend = None
                else:
                    out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + n
        vocab = new_vocab
    return rules


def _word_counts(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return {
        r.word: r.n
        for r in docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .collect()
    }


@pytest.mark.slow
def test_bpe_matches_pure_python_reference(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    got = train_bpe_merges(spark, docs, N_MERGES)
    want = _py_bpe(_word_counts(spark, sf_dir), N_MERGES)
    assert got == want
    # multi-character subwords actually emerged
    assert any(len(left) > 1 or len(right) > 1 for left, right, _ in got)


@pytest.mark.slow
def test_bpe_registered_table_shape(spark, sf_dir):
    out = all_queries()["bpe_merge_rules"](spark, sf_dir).collect()
    assert len(out) == N_MERGES
    assert [r.rank for r in out] == list(range(1, N_MERGES + 1))
    for r in out:
        assert r.merged == r.left + r.right
        assert r.pair_count > 0
    # training order: a merged symbol can only appear in LATER rules
    seen = set()
    for r in out:
        assert (
            r.left in seen or len(r.left.replace(EOW, "x")) == 1
        ), r.left
        assert (
            r.right in seen or len(r.right.replace(EOW, "x")) == 1
        ), r.right
        seen.add(r.merged)


def test_bpe_greedy_merge_on_repeats(spark):
    """'aaaa' under merge (a,a): greedy left-to-right gives exactly
    ['aa','aa',EOW] — the overlap case every BPE implementation must
    pin down."""
    df = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    rules = train_bpe_merges(spark, df, 1)
    assert rules[0][:2] == ("a", "a") and rules[0][2] == 3
    rules2 = train_bpe_merges(spark, df, 2)
    # round 2 ties at count 1: ('aa','</w>') vs ('aa','aa') — the ASC
    # pair tie-break picks '</w>' ('<' sorts below 'a' in UTF-8)
    assert rules2[1][:2] == ("aa", EOW)


@pytest.mark.slow
def test_bpe_tokenize_matches_reference_segmentation(spark, sf_dir):
    """Segmenting the vocabulary with the learned rules must match the
    pure-Python application of the same rules word-for-word, and the
    per-doc token counts must shrink vs the character baseline."""
    from datawarehouse_project_spark.operators.bpe import (
        bpe_segment_words,
        train_bpe_merges,
    )

    docs = table(spark, sf_dir, "documents")
    rules = train_bpe_merges(spark, docs, N_MERGES)
    got = {
        r.word: tuple(r.subwords)
        for r in bpe_segment_words(spark, docs, rules).collect()
    }

    def apply_rules(word):
        syms = list(word) + [EOW]
        for left, right, _ in rules:
            out, pend = [], None
            for s in syms:
                if pend is None:
                    pend = s
                elif pend == left and s == right:
                    out.append(left + right)
                    pend = None
                else:
                    out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            syms = out
        return tuple(syms)

    assert set(got) == set(_word_counts(spark, sf_dir))
    for w, subwords in got.items():
        assert subwords == apply_rules(w), w
        assert "".join(subwords) == w + EOW  # conservation

    counts = all_queries()["bpe_token_counts"](spark, sf_dir).collect()
    assert len(counts) > 0
    total_bpe = sum(r.n_bpe_tokens for r in counts)
    total_chars = sum(r.n_char_tokens for r in counts)
    assert total_bpe < total_chars  # the merges actually compress
    for r in counts:
        assert r.n_words <= r.n_bpe_tokens <= r.n_char_tokens


def _py_bpe_batched(word_counts: dict[str, int], n_merges: int, m: int):
    """Independent reference for the BATCHED trainer: per pass, rank all
    pairs by (count DESC, pair ASC), greedily keep up to m pairwise
    symbol-disjoint pairs, apply them (order within a pass is immaterial
    for disjoint pairs), repeat."""
    vocab = {tuple(list(w) + [EOW]): n for w, n in word_counts.items()}
    rules = []
    while len(rules) < n_merges:
        want = min(m, n_merges - len(rules))
        counts = Counter()
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += n
        if not counts:
            break
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        used, batch = set(), []
        for (left, right), c in ranked:
            if left in used or right in used:
                continue
            used.update((left, right))
            batch.append((left, right, c))
            if len(batch) == want:
                break
        rules.extend(batch)
        for left, right, _ in batch:
            merged = left + right
            new_vocab = {}
            for syms, n in vocab.items():
                out, pend = [], None
                for s in syms:
                    if pend is None:
                        pend = s
                    elif pend == left and s == right:
                        out.append(merged)
                        pend = None
                    else:
                        out.append(pend)
                        pend = s
                if pend is not None:
                    out.append(pend)
                key = tuple(out)
                new_vocab[key] = new_vocab.get(key, 0) + n
            vocab = new_vocab
    return rules


@pytest.mark.slow
def test_bpe_batched_matches_batched_reference(spark, sf_dir):
    """The rules_per_pass=M trainer must equal the independent pure-Python
    implementation of the same batched selection, bit-for-bit — the same
    golden-differential gate the sequential form has."""
    docs = table(spark, sf_dir, "documents")
    wc = _word_counts(spark, sf_dir)
    for m in (2, 4):
        got = train_bpe_merges(spark, docs, N_MERGES, rules_per_pass=m)
        want = _py_bpe_batched(wc, N_MERGES, m)
        assert got == want, m


@pytest.mark.slow
def test_bpe_batched_m1_is_sequential(spark, sf_dir):
    """rules_per_pass=1 IS the sequential trainer (the default path the
    registered queries use): identical to the textbook reference."""
    docs = table(spark, sf_dir, "documents")
    got = train_bpe_merges(spark, docs, N_MERGES, rules_per_pass=1)
    assert got == _py_bpe(_word_counts(spark, sf_dir), N_MERGES)


@pytest.mark.slow
def test_bpe_batched_k48_in_quarter_rounds(spark, sf_dir):
    """The VERDICT r9 #6 acceptance: K=48 rules in <= K/4 Spark passes
    with rules_per_pass=4, valid counts, no duplicate merged symbol."""
    docs = table(spark, sf_dir, "documents")
    stats: dict = {}
    rules = train_bpe_merges(
        spark, docs, 48, rules_per_pass=4, stats=stats
    )
    assert len(rules) == 48
    assert stats["passes"] <= 12, stats
    assert len({left + right for left, right, _ in rules}) == 48
    assert all(c > 0 for _, _, c in rules)


def test_bpe_batch_selection_rejects_concatenation_collisions():
    """Advisor r10: a kept pair's MERGED symbol must also be treated as
    occupied. ('a','b') admitted => ('ab','c') and ('c','ab') must be
    rejected even though their operand symbols are disjoint from
    {'a','b'}, because applying ('a','b') first creates new 'ab'
    occurrences the later fold would merge (counts would no longer be
    exact pre-pass counts). Plain collisions still rejected; independent
    pairs still admitted; `want` still caps the batch."""
    from datawarehouse_project_spark.operators.bpe import select_disjoint_batch

    cands = [
        ("a", "b", 100),   # kept
        ("ab", "c", 90),   # rejected: left == 'a'+'b' of kept pair
        ("c", "ab", 85),   # rejected: right == 'a'+'b' of kept pair
        ("b", "d", 80),    # rejected: operand 'b' used
        ("x", "y", 70),    # kept (independent)
        ("w", "xy", 60),   # rejected: right == 'x'+'y'
        ("p", "q", 50),    # kept
        ("r", "s", 40),    # would be kept, but want=3 caps first
    ]
    assert select_disjoint_batch(cands, 3) == [
        ("a", "b", 100),
        ("x", "y", 70),
        ("p", "q", 50),
    ]
    # The concatenation itself occupies: a later pair whose operand IS a
    # kept pair's concatenation string from either side is rejected.
    assert select_disjoint_batch([("a", "b", 10), ("ab", "ab", 9)], 5) == [
        ("a", "b", 10)
    ]
    assert select_disjoint_batch([], 4) == []
