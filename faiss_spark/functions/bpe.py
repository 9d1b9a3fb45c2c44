"""Distributed BPE tokenizer training and encoding.

The byte-pair-encoding merge-learning loop (Sennrich et al. 2016 —
"Neural Machine Translation of Rare Words with Subword Units"; the
GPT-2 tokenizer's training algorithm) lifted to Spark. Completes the
pipeline's tokenizer story: ``bigram_frequencies`` is one merge
iteration's counting step at the word level, ``bpe_token_count`` is a
regex proxy for an already-trained tokenizer — this module learns the
merge table itself and encodes with it.

Scale design (the part that matters at 100 TB):

* The corpus is touched ONCE — ``bpe_word_counts`` is one map-side-
  combined shuffle producing the (word, cnt) table. Classic BPE trains
  on word counts, not running text, so everything after is
  vocabulary-sized (≈10⁷ distinct words at web scale), not corpus-sized.
* Each merge iteration runs entirely on the word table: a codegen
  adjacent-pair explode weighted by cnt → ONE small map-side-combined
  shuffle keyed on the pair → the driver collects exactly ONE row (the
  argmax). The merge itself is a JVM ``aggregate`` fold over the symbol
  array (greedy left-to-right, the BPE convention) — no Python in the
  loop, no corpus re-scan, O(num_merges) driver rows total.
* The word table is localCheckpoint'ed per iteration so the plan stays
  flat instead of nesting ``num_merges`` fold expressions.
* ``bpe_encode`` applies a learned merge table to documents via ONE
  mapInArrow with the ranks dict broadcast and a per-task word memo —
  map-only, no shuffle.

Determinism: pair argmax ties break lexicographically on (left, right),
so the learned merge sequence is a pure function of the word counts —
pinned exactly against an in-memory reference implementation in tests
and in the ★bpe_train entry.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

#: end-of-word marker appended as its own symbol (Sennrich convention;
#: lets the tokenizer distinguish "est" in "newest" from "estimate")
END_OF_WORD = "</w>"


@dataclass
class BPEMerge:
    """One learned merge rule: at iteration ``rank``, the adjacent pair
    (left, right) — the corpus-wide most frequent — becomes one symbol."""

    rank: int
    left: str
    right: str
    pair_count: int

    @property
    def merged(self) -> str:
        return self.left + self.right


def bpe_word_counts(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """(word, cnt) over the whitespace-normalized corpus — the ONLY
    corpus-scale pass of BPE training: explode → one hash shuffle with
    map-side partial aggregation (the term_frequencies scale shape)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def merge_pair_expr(symbols: Column, left: str, right: str) -> Column:
    """Apply ONE merge rule to a symbol array in JVM codegen: a fold
    that replaces each greedy left-to-right (non-overlapping, the BPE
    convention) occurrence of adjacent (left, right) with the
    concatenated symbol. ``aggregate(acc, x)``: if the accumulator ends
    with ``left`` and x is ``right``, swap the tail for the merged
    symbol, else append x — so "aaa" under (a,a) folds to [aa, a]."""
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_symbols_expr(word: Column, end_of_word: str = END_OF_WORD) -> Column:
    """Initial BPE state of a word: its characters plus the end-of-word
    marker as a final symbol (``split(w, '')`` is per-char in Spark)."""
    return F.concat(F.split(word, ""), F.array(F.lit(end_of_word)))


def bpe_train(
    df: DataFrame | None,
    num_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    end_of_word: str = END_OF_WORD,
    words: DataFrame | None = None,
    return_vocab: bool = False,
):
    """Learn ``num_merges`` BPE merge rules from a corpus (or a
    pre-aggregated ``words`` (word, cnt) table). Returns the merge list
    (``BPEMerge``, rank order); with ``return_vocab=True`` also the
    final (symbols, cnt) word table.

    Stops early when the best remaining pair occurs fewer than
    ``min_pair_count`` times (a merge seen once generalizes to nothing).

    Per-iteration plan: adjacent pairs of each word's symbol array are
    built by a codegen transform (overlapping pairs counted, the
    Sennrich ``get_stats`` convention), exploded with the word count as
    weight, and reduced by ONE map-side-combined shuffle on the pair;
    the driver collects the single argmax row (ties broken on
    (left, right) ascending for a deterministic merge sequence), then
    one codegen fold rewrites the symbol arrays. localCheckpoint per
    iteration keeps the plan flat. Driver traffic over the whole
    training run: ``num_merges`` rows."""
    if words is None:
        if df is None:
            raise ValueError("provide a corpus df or a (word, cnt) table")
        words = bpe_word_counts(df, text_col=text_col)
    if num_merges < 0:
        raise ValueError(f"num_merges must be >= 0, got {num_merges}")

    sym = words.select(
        word_symbols_expr(F.col("word"), end_of_word).alias("symbols"),
        F.col("cnt").cast("bigint").alias("cnt"),
    ).localCheckpoint(eager=True)

    merges: list[BPEMerge] = []
    for rank in range(num_merges):
        pairs = F.when(
            F.size(F.col("symbols")) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("symbols")) - 1),
                lambda i: F.struct(
                    F.element_at(F.col("symbols"), i).alias("l"),
                    F.element_at(F.col("symbols"), i + F.lit(1)).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (
            sym.select(F.col("cnt"), F.explode(pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None or best["pc"] < min_pair_count:
            break
        merges.append(BPEMerge(rank, best["l"], best["r"], int(best["pc"])))
        sym = sym.select(
            merge_pair_expr(F.col("symbols"), best["l"], best["r"]).alias(
                "symbols"
            ),
            "cnt",
        ).localCheckpoint(eager=True)

    if return_vocab:
        return merges, sym
    return merges


def _encode_word(word: str, ranks: dict, eow: str) -> list:
    """Reference in-memory BPE encode of one word: repeatedly apply the
    lowest-ranked merge present (greedy left-to-right within a rank).
    Reproduces training exactly — a rule consuming a merged symbol is
    always learned AFTER the rule that created it, so ascending-rank
    application replays the training iterations."""
    syms = list(word) + [eow]
    while len(syms) >= 2:
        best = best_pair = None
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            r = ranks.get(p)
            if r is not None and (best is None or r < best):
                best, best_pair = r, p
        if best_pair is None:
            break
        left, right = best_pair
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def reference_bpe_train(
    word_counts: dict, num_merges: int, min_pair_count: int = 2,
    end_of_word: str = END_OF_WORD,
) -> list:
    """Pure-python reference trainer over an in-memory {word: count}
    dict — the oracle the distributed trainer is pinned against (same
    overlap-counting and (left, right) tie-break). Returns
    [(left, right, pair_count), ...] in rank order."""
    vocab = {tuple(list(w) + [end_of_word]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(num_merges):
        stats: dict = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + c
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (left, right), pc = best
        if pc < min_pair_count:
            break
        merges.append((left, right, pc))
        new_vocab: dict = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    end_of_word: str = END_OF_WORD,
) -> DataFrame:
    """Tokenize documents with a learned merge table: (id, bpe_tokens,
    n_bpe_tokens). ONE mapInArrow — the ranks dict (num_merges
    entries) is broadcast, encoded words are memoized per task (Zipf
    makes the memo hit rate high), no shuffle: the encode is map-only
    at any corpus scale."""
    spark = df.sparkSession
    ranks = {(m.left, m.right): m.rank for m in merges}
    bc = spark.sparkContext.broadcast(ranks)
    eow = end_of_word

    src = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        tokens(F.col(text_col)).alias("words"),
    )

    def encode(batches):
        import pyarrow as pa

        rk = bc.value
        memo: dict = {}
        for b in batches:
            toks_out = []
            for words in b.column(1).to_pylist():
                doc: list = []
                for w in words:
                    if w == "":
                        continue
                    got = memo.get(w)
                    if got is None:
                        got = memo[w] = _encode_word(w, rk, eow)
                    doc.extend(got)
                toks_out.append(doc)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pa.array(toks_out, pa.list_(pa.string())),
                    pa.array([len(t) for t in toks_out], pa.int32()),
                ],
                names=["id", "bpe_tokens", "n_bpe_tokens"],
            )

    return src.mapInArrow(
        encode, "id bigint, bpe_tokens array<string>, n_bpe_tokens int"
    )
