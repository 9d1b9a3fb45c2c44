"""Distributed BPE training/encoding vs the in-memory reference."""

import pytest
from pyspark.sql import functions as F

from faiss_spark.functions import bpe as B


def _word_counts(df):
    return {
        r["word"]: r["cnt"]
        for r in B.bpe_word_counts(df).collect()
    }


def test_bpe_train_sennrich_example(spark):
    """The canonical worked example (Sennrich et al. 2016 §3.2): corpus
    {low:5, lower:2, newest:6, widest:3} — the first merges must build
    'est</w>' from the most frequent pair chain."""
    rows = (
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6 + [("widest",)] * 3
    )
    df = spark.createDataFrame(rows, ["text"])
    merges = B.bpe_train(df, num_merges=4)
    got = [(m.left, m.right, m.pair_count) for m in merges]
    # e+s occurs 9 (newest 6 + widest 3), then es+t 9, then est+</w> 9,
    # then l+o 7 (low 5 + lower 2)
    assert got == [
        ("e", "s", 9),
        ("es", "t", 9),
        ("est", "</w>", 9),
        ("l", "o", 7),
    ]
    assert [m.rank for m in merges] == [0, 1, 2, 3]
    assert merges[2].merged == "est</w>"


def test_bpe_train_matches_reference_on_documents(tables):
    """Distributed trainer == pure-python reference, exactly, on real
    corpus word counts — same overlap counting, same (left, right)
    tie-break, same early stop."""
    docs = tables["documents"].filter(F.col("doc_id") < 150)
    wc = _word_counts(docs)
    expect = B.reference_bpe_train(wc, num_merges=25)
    got = B.bpe_train(docs, num_merges=25)
    assert [(m.left, m.right, m.pair_count) for m in got] == expect
    assert len(got) == 25  # real text should not early-stop at 25


def test_bpe_train_early_stop(spark):
    """Every pair unique -> min_pair_count=2 stops before num_merges."""
    df = spark.createDataFrame([("abcdefg",)], ["text"])
    merges = B.bpe_train(df, num_merges=10, min_pair_count=2)
    assert merges == []


def test_bpe_train_validates(spark):
    with pytest.raises(ValueError, match="num_merges"):
        B.bpe_train(spark.createDataFrame([("a",)], ["text"]), num_merges=-1)
    with pytest.raises(ValueError, match="corpus df"):
        B.bpe_train(None, num_merges=1)


def test_bpe_encode_reproduces_trained_vocab(tables):
    """Encoding the training words with the learned table must
    reproduce the trainer's final symbol state exactly (the
    ascending-rank replay argument in _encode_word's docstring)."""
    docs = tables["documents"].filter(F.col("doc_id") < 100)
    merges, vocab = B.bpe_train(docs, num_merges=20, return_vocab=True)
    ranks = {(m.left, m.right): m.rank for m in merges}
    trained = {tuple(r["symbols"]) for r in vocab.collect()}
    words = {r["word"] for r in B.bpe_word_counts(docs).collect()}
    encoded = {tuple(B._encode_word(w, ranks, B.END_OF_WORD)) for w in words}
    assert encoded == trained


def test_bpe_encode_dataframe(tables):
    """bpe_encode: per-doc token streams are the concatenation of
    per-word encodes, in document word order; counts line up."""
    docs = tables["documents"].filter(F.col("doc_id") < 60)
    merges = B.bpe_train(docs, num_merges=15)
    ranks = {(m.left, m.right): m.rank for m in merges}
    out = {
        r["id"]: (tuple(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in B.bpe_encode(docs, merges).collect()
    }
    src = {
        r["doc_id"]: r["w"]
        for r in docs.select(
            "doc_id", F.split(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " ").alias("w")
        ).collect()
    }
    assert set(out) == set(src)
    for did, words in src.items():
        expect = []
        for w in words:
            if w:
                expect.extend(B._encode_word(w, ranks, B.END_OF_WORD))
        assert out[did] == (tuple(expect), len(expect))
    # every document's encode ends at word boundaries: token count >= word count
    for did, words in src.items():
        assert out[did][1] >= len([w for w in words if w])


def test_merge_pair_expr_greedy_left_to_right(spark):
    """The JVM fold implements greedy non-overlapping BPE merging:
    'aaa' under (a,a) -> [aa, a], and (a,b) merges every occurrence."""
    sym = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "b", "c", "a", "b"],), ([],)], ["s"]
    )
    got_aa = [
        r[0] for r in sym.select(B.merge_pair_expr(F.col("s"), "a", "a")).collect()
    ]
    assert got_aa == [["aa", "a"], ["a", "b", "c", "a", "b"], []]
    got_ab = [
        r[0] for r in sym.select(B.merge_pair_expr(F.col("s"), "a", "b")).collect()
    ]
    assert got_ab == [["a", "a", "a"], ["ab", "c", "ab"], []]


def test_bpe_encode_plan_is_map_only(tables):
    """The encode is one mapInArrow over the scan — no exchange."""
    from tests.test_plans import plan

    docs = tables["documents"]
    merges = [B.BPEMerge(0, "t", "h", 10), B.BPEMerge(1, "th", "e", 5)]
    p = plan(B.bpe_encode(docs, merges))
    assert "Exchange" not in p, p
    assert "MapInArrow" in p, p
