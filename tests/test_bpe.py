"""BPE merge training: golden differential against an independent
pure-Python reference, greedy-merge semantics, conservation invariants,
and the one-stage trainer's kept plans over a rewritten corpus."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datawarehouse_project_spark.catalog import all_queries
from datawarehouse_project_spark.functions.text import words
from datawarehouse_project_spark.io import session_state, table
from datawarehouse_project_spark.operators.bpe import (
    EOW,
    N_MERGES,
    bpe_segment_words,
    train_bpe_merges,
)

# BPE has no DuckDB oracle (the trainer is iterative), so no oracle sweep
# checks its values: the golden differentials below are its only value
# gate.


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


def _rules(df):
    """A rules frame as [(left, right, pair_count), ...] in rank order."""
    return [(r.left, r.right, r.pair_count) for r in df.orderBy("rank").collect()]


@pytest.mark.parametrize("k", [N_MERGES, 48])
def test_bpe_matches_pure_python_reference(spark, sf_dir, k):
    docs = table(spark, sf_dir, "documents")
    got = _rules(train_bpe_merges(docs, k))
    assert len(got) == k
    assert got == _py_bpe(_word_counts(spark, sf_dir), k)
    # multi-character subwords actually emerged
    assert any(len(left) > 1 or len(right) > 1 for left, right, _ in got)


def test_bpe_registered_table_shape(spark, sf_dir):
    out = all_queries()["bpe_merge_rules"](spark, sf_dir).orderBy("rank").collect()
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
    rules = _rules(train_bpe_merges(df, 1))
    assert rules == [("a", "a", 3)]
    assert bpe_segment_words(df, 1).collect()[0].subwords == ["aa", "aa", EOW]
    rules2 = _rules(train_bpe_merges(df, 2))
    # round 2 ties at count 1: ('aa','</w>') vs ('aa','aa') — the ASC
    # pair tie-break picks '</w>' ('<' sorts below 'a' in UTF-8)
    assert rules2[1][:2] == ("aa", EOW)


def test_bpe_tokenize_matches_reference_segmentation(spark, sf_dir):
    """Segmenting the vocabulary with the learned rules must match the
    pure-Python application of the same rules word-for-word, and the
    per-doc token counts must shrink vs the character baseline."""
    docs = table(spark, sf_dir, "documents")
    rules = _rules(train_bpe_merges(docs, N_MERGES))
    got = {
        r.word: tuple(r.subwords)
        for r in bpe_segment_words(docs, N_MERGES).collect()
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


def _rewrite_documents(sf: str, texts: list[str]) -> set[int]:
    """Replace the corpus behind ``sf`` with ``texts`` (same schema);
    returns the new corpus' doc ids."""
    path = f"{sf}/documents.parquet"
    docs = pq.read_table(path).slice(0, len(texts))
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(texts, pa.string())
    )
    pq.write_table(docs, f"{path}.tmp")
    os.replace(f"{path}.tmp", path)
    return set(docs.column("doc_id").to_pylist())


def test_bpe_rows_are_kept_plans_that_retrain_on_a_rewritten_corpus(spark, sf_copy):
    """Both rows build with no Spark job and are kept as prepared plans;
    a rewritten corpus retrains on the next request (the rules are those
    of the new corpus, not of the first build), and an empty corpus
    gives no rules and no token counts."""
    names = ["bpe_merge_rules", "bpe_token_counts"]
    builders = all_queries()
    for name in names:
        builders[name](spark, sf_copy)
    sc = spark.sparkContext
    sc.setJobGroup("bpe-build", "second builds")
    try:
        rules, counts = (builders[name](spark, sf_copy) for name in names)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("bpe-build") == []
    assert set(names) <= {
        e["name"]
        for e in session_state(spark).inventory()
        if e["kind"] == "plan" and e["sf_dir"] == sf_copy
    }
    before = _rules(rules)
    assert before == _py_bpe(_word_counts(spark, sf_copy), N_MERGES)
    assert len(counts.collect()) > 0

    doc_ids = _rewrite_documents(
        sf_copy, ["lower lowest newer newest", "wider wide low"] * 3
    )
    after = _rules(builders["bpe_merge_rules"](spark, sf_copy))
    assert after == _py_bpe(_word_counts(spark, sf_copy), N_MERGES)
    assert after != before
    counts = builders["bpe_token_counts"](spark, sf_copy).collect()
    assert {r.doc_id for r in counts} == doc_ids
    assert sorted(r.n_words for r in counts) == [3, 3, 3, 4, 4, 4]

    _rewrite_documents(sf_copy, [])
    assert builders["bpe_merge_rules"](spark, sf_copy).collect() == []
    assert builders["bpe_token_counts"](spark, sf_copy).collect() == []
