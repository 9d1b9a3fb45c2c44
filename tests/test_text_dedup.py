"""Text analysis + dedup operators vs DuckDB oracle on the documents table."""

import hashlib
import re
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.functions import text as T
from faiss_spark.operators import dedup as D
from tests.conftest import duck_set, rows_set

# --- oracle SQL fragments (mirrored in __spark_entry__.py) -----------------

DUCK_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
DUCK_TOKS = f"string_split({DUCK_NORM}, ' ')"


def duck_shingles(n=3):
    return (
        f"CASE WHEN len({DUCK_TOKS}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({DUCK_TOKS}) - {n - 2}), "
        f"i -> array_to_string(({DUCK_TOKS})[i:i+{n - 1}], ' '))) "
        f"ELSE [array_to_string({DUCK_TOKS}, ' ')] END"
    )


def test_fingerprint_matches_duckdb(tables, oracle):
    got = rows_set(
        tables["documents"].select(
            "doc_id", T.fingerprint(F.col("text")).alias("fp")
        )
    )
    expect = duck_set(oracle, f"SELECT doc_id, md5({DUCK_NORM}) AS fp FROM documents")
    assert got == expect


def test_token_count_matches_duckdb(tables, oracle):
    got = rows_set(
        tables["documents"].select(
            "doc_id", T.token_count(F.col("text")).alias("ntok")
        )
    )
    expect = duck_set(
        oracle, f"SELECT doc_id, len({DUCK_TOKS}) AS ntok FROM documents"
    )
    assert got == expect


# edge documents for the shingle twin: empty, whitespace-only, a leading
# tab, fewer than n tokens, repeated grams, multi-byte text (no \v or
# NBSP: DuckDB's \s and trim() treat those differently from Java's)
EDGE_DOCS = [
    "", " ", "\t", "  \n ", "\tleading tab then words here", "one",
    "two words", "a b a b a b a b", "x  y\n z ", "Héllo wörld ñ 日本 語",
    "a b c d e f g", "end with space ",
]


def test_shingles_match_duckdb(tables, oracle, spark):
    """Same shingle sets as the DuckDB twin for n in {1, 2, 3, 5}, on the
    documents table and on edge documents; NULL text gives [""]."""
    import pyarrow as pa

    edge = [(10_000 + i, t) for i, t in enumerate(EDGE_DOCS)]
    oracle.register("edge_docs", pa.table({
        "doc_id": pa.array([i for i, _ in edge], pa.int64()),
        "text": pa.array([t for _, t in edge]),
    }))
    docs = tables["documents"].select("doc_id", "text").unionByName(
        spark.createDataFrame(edge + [(20_000, None)], "doc_id bigint, text string")
    )
    for n in (1, 2, 3, 5):
        got = {
            (r["doc_id"], tuple(sorted(r["sh"])))
            for r in docs.select(
                "doc_id", T.shingles(F.col("text"), n).alias("sh")
            ).collect()
        }
        expect = {
            (r[0], tuple(sorted(r[1])))
            for r in oracle.execute(
                f"SELECT doc_id, {duck_shingles(n)} AS sh FROM documents "
                f"UNION ALL SELECT doc_id, {duck_shingles(n)} FROM edge_docs"
            ).fetchall()
        } | {(20_000, ("",))}
        assert got == expect, n
        # distinct per document
        assert all(len(sh) == len(set(sh)) for _, sh in got)


def test_exact_dedup_counts(tables, oracle):
    got = rows_set(D.exact_dedup(tables["documents"]))
    expect = duck_set(
        oracle,
        f"""
        SELECT md5({DUCK_NORM}) AS fingerprint, count(*) AS n_docs,
               min(doc_id) AS rep_id
        FROM documents GROUP BY 1 HAVING count(*) >= 2
        """,
    )
    assert got == expect
    # dedup_keep_first drops exactly (total - distinct) rows
    total = tables["documents"].count()
    kept = D.dedup_keep_first(tables["documents"]).count()
    distinct = oracle.execute(
        f"SELECT count(DISTINCT md5({DUCK_NORM})) FROM documents"
    ).fetchone()[0]
    assert kept == distinct <= total


def test_exact_dedup_finds_planted_dups(tables):
    base = tables["documents"]
    planted = base.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    groups = D.exact_dedup(base.unionByName(planted)).collect()
    assert len(groups) == 5
    assert all(g["n_docs"] == 2 for g in groups)
    assert sorted(g["rep_id"] for g in groups) == [0, 1, 2, 3, 4]


def test_minhash_lsh_finds_exact_dups(tables):
    """Exact duplicates have identical signatures -> must appear as pairs
    with jaccard == 1.0. The small-SF corpus has no exact dups, so plant
    some: copy 20 docs with shifted ids."""
    base = tables["documents"]
    offset = 1_000_000
    planted = base.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + offset
    )
    docs = base.unionByName(planted)
    dup_groups = D.exact_dedup(docs).collect()
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(docs, threshold=0.99).collect()
    }
    # for each exact-dup group, every pair within it must be found
    from itertools import combinations

    fp_ids = {}
    fps = docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    ).collect()
    for r in fps:
        fp_ids.setdefault(r["fp"], []).append(r["doc_id"])
    n_groups = 0
    for g in dup_groups:
        ids = sorted(fp_ids[g["fingerprint"]])
        assert len(ids) == g["n_docs"]
        n_groups += 1
        for a, b in combinations(ids, 2):
            assert pairs.get((a, b)) == pytest.approx(1.0)
    assert n_groups > 0, "testdata should contain exact dups"


def _py_shingles(text, n=3):
    """Python twin of functions.text.shingles (Spark's trim strips spaces
    only; Java's \\s is [ \\t\\n\\x0B\\f\\r])."""
    if text is None:
        return {""}
    toks = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower().strip(" ")).split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _py_minhash_lsh_pairs(docs, threshold, num_hashes=12, num_bands=4, n=3):
    """hashlib reference of minhash_lsh_pairs: min md5(i|s) signatures,
    md5 band keys, bucket-mates verified by exact Jaccard."""
    rows = num_hashes // num_bands
    sh = {i: _py_shingles(t, n) for i, t in docs}
    buckets = {}
    for i, s in sh.items():
        mh = [min(hashlib.md5(f"{h}|{g}".encode()).hexdigest() for g in s)
              for h in range(num_hashes)]
        for b in range(num_bands):
            key = hashlib.md5("".join(mh[b * rows:(b + 1) * rows]).encode())
            buckets.setdefault(key.hexdigest(), set()).add(i)
    out = {}
    for ids in buckets.values():
        for a, b in combinations(sorted(ids), 2):
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if j >= threshold:
                out[(a, b)] = j
    return out


def _zipf_corpus(seed=11, n_docs=240, vocab=400):
    """Zipf word documents plus planted near-duplicates at a spread of
    word-substitution rates (so some pairs straddle the threshold and
    some are missed by the bands), short docs and a repeated-gram doc."""
    rng = np.random.default_rng(seed)
    words = np.array([f"w{i}" for i in range(vocab)])
    p = 1.0 / np.arange(1, vocab + 1)
    p /= p.sum()
    docs = [rng.choice(vocab, int(rng.integers(12, 60)), p=p) for _ in range(n_docs)]
    for k, src in enumerate(rng.choice(n_docs, n_docs // 4, replace=False).tolist()):
        w = docs[src].copy()
        hit = rng.random(len(w)) < (0.0, 0.03, 0.08, 0.15, 0.3)[k % 5]
        w[hit] = rng.choice(vocab, int(hit.sum()), p=p)
        docs.append(w)
    texts = [" ".join(words[d].tolist()) for d in docs]
    texts += ["w1", "w1 w2", "W1  w2", "w3 w4 w3 w4 w3 w4", ""]
    order = rng.permutation(len(texts))
    return [(int(i), texts[j]) for i, j in enumerate(order)]


def test_minhash_lsh_pairs_match_python_reference(spark):
    """minhash_lsh_pairs == the hashlib reference on a seeded Zipf corpus
    with planted near-duplicates; the executed plan computes the band
    table in one MapInArrow (no SortAggregate), and the call leaves at
    most one persisted RDD behind (its shingle checkpoint)."""
    docs = _zipf_corpus()
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    want = _py_minhash_lsh_pairs(docs, threshold=0.5)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    pairs = D.minhash_lsh_pairs(df, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert len(want) > 20
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert got[k] == pytest.approx(v)
    final = pairs._jdf.queryExecution().executedPlan().toString().split(
        "Initial Plan")[0]
    assert final.count("MapInArrow") == 1
    assert "SortAggregate" not in final


def test_minhash_lsh_pairs_large_duplicate_cluster(spark):
    """Clusters of identical documents put every member in the same bucket
    of every band: 1,200 copies of one page and 800 empty or NULL docs
    (shingle set [""]) yield every within-cluster pair once, at jaccard 1,
    and nothing across clusters."""
    page = "the same boilerplate footer on every page of the site"
    texts = [page] * 1200 + [""] * 400 + [None] * 400 + ["a b c d", "e f g h"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = (
        D.minhash_lsh_pairs(df, threshold=0.5)
        .agg(F.count("*").alias("n"), F.min("jaccard").alias("lo"),
             F.sum(((F.col("id_a") < 1200) != (F.col("id_b") < 1200)).cast("int"))
             .alias("cross"))
        .first()
    )
    assert got["n"] == 1200 * 1199 // 2 + 800 * 799 // 2
    assert got["lo"] == 1.0 and got["cross"] == 0


def test_minhash_signatures_match_python_reference(spark):
    docs = _zipf_corpus(seed=5, n_docs=40)
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["id"]: r["mh"] for r in D.minhash_signatures(df).collect()}
    want = {
        i: [min(hashlib.md5(f"{h}|{g}".encode()).hexdigest()
                for g in _py_shingles(t)) for h in range(12)]
        for i, t in docs
    }
    assert got == want


def test_ngram_jaccard_matches_minhash_verified_jaccard(tables):
    """Both operators compute the same exact jaccard for shared pairs."""
    docs = tables["documents"].limit(200)
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    # LSH pairs ⊆ exact pairs, with identical jaccard values
    for k, v in lsh.items():
        assert exact[k] == pytest.approx(v)


def test_lang_id_and_quality_deterministic(tables):
    feats = tables["documents"].select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang_pred"),
        T.quality_score(F.col("text")).alias("q"),
    )
    rows = feats.collect()
    assert all(r["lang_pred"] in ("en", "es", "de", "fr", "und") for r in rows)
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_embedding_neardup_symmetric_ordering(tables):
    pairs = D.embedding_neardup_pairs(tables["embeddings"], threshold=0.9)
    rows = pairs.collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(r["cosine"] >= 0.9 for r in rows)


def test_dedup_components_chains_and_singletons(spark):
    """A path a-b-c collapses into one group labeled min(a,b,c); disjoint
    pairs stay separate; transitivity does NOT leak across components."""
    from faiss_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["rep_id"] for r in dedup_components(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_dedup_components_match_union_find(spark):
    """Random forest-plus-cycles graph with long chains (many rounds):
    labels equal a union-find reference's component minima; max_iter
    caps the rounds."""
    from faiss_spark.operators.dedup import dedup_components

    rng = np.random.default_rng(4)
    edges = [(i, i + 1) for i in range(0, 30)]  # a 31-node path
    edges += [tuple(sorted(rng.choice(np.arange(100, 220), 2, replace=False).tolist()))
              for _ in range(90)]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["id"]: r["rep_id"] for r in dedup_components(pairs, max_iter=40).collect()}
    assert got == want
    # one round only: every node adopts its neighbourhood minimum
    one = {r["id"]: r["rep_id"] for r in dedup_components(pairs, max_iter=1).collect()}
    assert one[30] == 29 and one[0] == 0
    # no rounds: every node is its own representative
    zero = {r["id"]: r["rep_id"] for r in dedup_components(pairs, max_iter=0).collect()}
    assert zero == {x: x for x in want}


def test_dedup_components_on_minhash_pairs(tables):
    """End-to-end: every pair's two ids land in the same component, and
    every rep is the min id of its group."""
    from faiss_spark.operators.dedup import dedup_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(tables["documents"])
    labels = {r["id"]: r["rep_id"] for r in dedup_components(pairs).collect()}
    for r in pairs.collect():
        assert labels[r["id_a"]] == labels[r["id_b"]]
    for node, rep in labels.items():
        assert rep <= node
        assert labels[rep] == rep


def test_ngram_jaccard_max_df_pruned_subset_with_exact_values(tables):
    """The df-capped path may only DROP pairs (candidate pruning), never
    change a surviving pair's jaccard — values verify on full shingle
    sets. With a generous cap on this corpus it finds every exact pair."""
    from faiss_spark.operators.dedup import ngram_jaccard_pairs

    docs = tables["documents"]
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_df=3).collect()
    }
    assert set(pruned) <= set(exact)
    for pair, j in pruned.items():
        assert exact[pair] == j
    generous = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_df=10**6).collect()
    }
    assert generous == exact


def test_filter_corpus_predicates_hold(tables):
    """Every surviving row satisfies all three gate predicates, and the
    gate is a pure filter (no rows invented)."""
    from faiss_spark.functions.text import filter_corpus

    docs = tables["documents"]
    kept = filter_corpus(docs, min_quality=0.5, min_tokens=8, max_tokens=512).collect()
    assert 0 < len(kept) <= docs.count()
    for r in kept:
        assert r["quality"] >= 0.5
        assert 8 <= r["ntok"] <= 512
        assert r["lang_pred"] == "en"
    ids = {r["doc_id"] for r in kept}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert ids <= all_ids


def test_pii_features_counts(spark):
    from faiss_spark.functions.text import pii_features

    df = spark.createDataFrame(
        [
            (1, "contact Bob.Smith+x@example.org or https://a.b/c now"),
            (2, "call (415) 555-0199 x2 or +1 650 555 0100"),
            (3, "nothing here"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: (r["p"]["n_emails"], r["p"]["n_urls"], r["p"]["n_phones"])
        for r in df.select("doc_id", pii_features(F.col("text")).alias("p")).collect()
    }
    assert rows[1] == (1, 1, 0)
    assert rows[2][2] == 2  # two ≥7-digit runs after separator removal
    assert rows[3] == (0, 0, 0)


def test_decontaminate_flags_benchmark_members(tables, spark):
    """Docs IN the benchmark slice are maximally contaminated (they share
    all their shingles); the broadcast plan never shuffles the corpus by
    content."""
    from faiss_spark.operators.dedup import decontaminate

    docs = tables["documents"]
    bench = docs.filter(F.col("doc_id") < 10)
    res = decontaminate(docs, bench, n=3, min_hits=1)
    flagged = {r["doc_id"] for r in res.filter("contaminated").collect()}
    assert set(range(10)) <= flagged
    clean = res.filter(~F.col("contaminated")).count()
    assert clean > 0  # most of the corpus is unrelated to the benchmark
    p = res._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in p


def test_repetition_features(spark):
    from faiss_spark.functions.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "all words here differ fully"),
            (3, "x"),             # shorter than n -> 0
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: (r["r"]["rep_2"], r["r"]["rep_3"])
        for r in df.select(
            "doc_id", repetition_features(F.col("text")).alias("r")
        ).collect()
    }
    assert rows[1][0] == pytest.approx(3 / 5)  # 5 bigrams, 2 distinct
    assert rows[2] == (0.0, 0.0)
    assert rows[3] == (0.0, 0.0)


# ======================================================== substring spans


def test_duplicated_spans_finds_shared_substring(spark):
    from faiss_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "prefix text the quick brown fox jumps over the lazy dog tail"),
            (3, "completely different content with no repeats whatsoever here"),
            (4, "short doc"),
        ],
        ["doc_id", "text"],
    )
    rows = duplicated_spans(docs, n=8).collect()
    # the 9-token shared sentence yields 2 duplicated 8-token windows,
    # each present in both docs
    assert len(rows) == 4
    assert {r["doc_id"] for r in rows} == {1, 2}
    # corpus-wide first occurrence (doc 1) is kept, doc 2's are removable
    assert all(r["keep"] == (r["doc_id"] == 1) for r in rows)
    assert all(r["n_occurrences"] == 2 for r in rows)


def test_span_dedup_stats_short_docs_zero(spark):
    from faiss_spark.operators.dedup import span_dedup_stats

    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "a b c d e f g h i j")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in span_dedup_stats(docs, n=8).collect()}
    assert got[1]["n_spans"] == 0 and got[1]["dup_frac"] == 0.0
    assert got[2]["n_spans"] == 3 and got[2]["n_dup_spans"] == 0


def test_span_dedup_self_repeat_within_doc(spark):
    from faiss_spark.operators.dedup import duplicated_spans

    text = "x1 x2 x3 x4 " * 4  # the 4-token unit repeats 4 times
    docs = spark.createDataFrame([(1, text.strip())], ["doc_id", "text"])
    rows = duplicated_spans(docs, n=4).collect()
    # windows at stride-4 positions share content; exactly one keep per
    # distinct span hash
    keeps = [r for r in rows if r["keep"]]
    hashes = {r["span_hash"] for r in rows}
    assert len(keeps) == len(hashes)
    assert all(r["n_occurrences"] >= 2 for r in rows)


def test_remove_duplicated_spans_rewrites_keep_first(spark):
    from faiss_spark.operators.dedup import remove_duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "prefix text the quick brown fox jumps over the lazy dog tail"),
            (3, "unique content here"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=8).collect()}
    # doc 1 holds the first occurrences: untouched
    assert got[1]["n_tokens_removed"] == 0
    assert got[1]["text"].startswith("the quick brown fox")
    # doc 2 loses the 9 duplicated tokens, keeps its unique affixes
    assert got[2]["text"] == "prefix text tail"
    assert got[2]["n_tokens_removed"] == 9
    assert got[3]["n_tokens_removed"] == 0


def test_remove_duplicated_spans_total_removal(spark):
    from faiss_spark.operators.dedup import remove_duplicated_spans

    text = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=8).collect()}
    assert got[1]["text"] == text and got[1]["n_tokens_removed"] == 0
    assert got[2]["text"] == "" and got[2]["n_tokens_removed"] == 8


def test_bigram_frequencies(spark):
    from faiss_spark.functions.text import bigram_frequencies

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox the quick dog"),
            (2, "the quick start"),
            (3, "single"),
        ],
        ["doc_id", "text"],
    )
    got = {r["pair"]: (r["tf"], r["df"]) for r in bigram_frequencies(docs).collect()}
    assert got["the quick"] == (3, 2)
    assert got["quick brown"] == (1, 1)
    assert got["fox the"] == (1, 1)
    # single-token docs produce no pairs
    assert not any(p.startswith("single") for p in got)


def test_span_hash_fn_xxhash64_agrees_with_md5(spark, tables):
    """The 8-byte xxhash64 span key (the narrow-shuffle scale path) must
    reach identical duplicate decisions as md5 on a collision-free
    corpus — same (doc_id, pos, n_occurrences, keep) rows, same stats,
    same rewrite."""
    from faiss_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
        span_dedup_stats,
    )

    docs = tables["documents"]
    proj = ["doc_id", "pos", "n_occurrences", "keep"]
    a = {tuple(r[c] for c in proj) for r in duplicated_spans(docs, n=8).collect()}
    b = {
        tuple(r[c] for c in proj)
        for r in duplicated_spans(docs, n=8, hash_fn="xxhash64").collect()
    }
    assert a == b and a  # non-empty: the corpus has duplicated spans
    sa = sorted(map(tuple, span_dedup_stats(docs, n=8).collect()))
    sb = sorted(
        map(tuple, span_dedup_stats(docs, n=8, hash_fn="xxhash64").collect())
    )
    assert sa == sb
    ra = sorted(map(tuple, remove_duplicated_spans(docs, n=8).collect()))
    rb = sorted(
        map(
            tuple,
            remove_duplicated_spans(docs, n=8, hash_fn="xxhash64").collect(),
        )
    )
    assert ra == rb


def test_span_hash_fn_validates(spark):
    import pytest as _pytest

    from faiss_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="hash_fn"):
        duplicated_spans(docs, n=2, hash_fn="sha1")


def test_span_hot_hash_prefilter_identical(tables):
    """prefilter='hot_hash' must change the plan, not the answer: the
    count-only pass finds exactly the hashes reaching min_count, so the
    positional join keeps exactly the duplicated windows with their
    exact counts — identical rows for both hash_fn spellings and for
    the stats/rewrite forms, through both the broadcast path and the
    size-guard shuffle-join fallback."""
    import warnings

    from faiss_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
        span_dedup_stats,
    )

    docs = tables["documents"].filter(F.col("doc_id") < 300)
    for hash_fn in ("md5", "xxhash64"):
        a = {tuple(r) for r in duplicated_spans(docs, n=8, hash_fn=hash_fn).collect()}
        b = {
            tuple(r)
            for r in duplicated_spans(
                docs, n=8, hash_fn=hash_fn, prefilter="hot_hash"
            ).collect()
        }
        assert a == b and len(a) > 0
    # max_broadcast_mb=0 forces the fallback; result must not change
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        c = {
            tuple(r)
            for r in duplicated_spans(
                docs, n=8, prefilter="hot_hash", max_broadcast_mb=0
            ).collect()
        }
    assert c == {
        tuple(r) for r in duplicated_spans(docs, n=8).collect()
    }
    sa = {tuple(r) for r in span_dedup_stats(docs, n=8).collect()}
    sb = {
        tuple(r)
        for r in span_dedup_stats(docs, n=8, prefilter="hot_hash").collect()
    }
    assert sa == sb
    ra = {tuple(r) for r in remove_duplicated_spans(docs, n=8).collect()}
    rb = {
        tuple(r)
        for r in remove_duplicated_spans(
            docs, n=8, prefilter="hot_hash"
        ).collect()
    }
    assert ra == rb


def test_span_hot_hash_plan_broadcasts(tables):
    """The prefilter's positional join is a broadcast hash join (the
    wide exchange then carries only duplicated windows)."""
    from faiss_spark.operators.dedup import duplicated_spans
    from tests.test_plans import plan

    docs = tables["documents"].filter(F.col("doc_id") < 300)
    p = plan(
        duplicated_spans(docs, n=8, prefilter="hot_hash"), mode="simple"
    )
    assert "BroadcastHashJoin" in p, p


# ===================================================== gopher quality rules


def test_gopher_quality_flags_line_rules(spark):
    """Bullet/ellipsis line rules on a real multi-line fixture (the
    synthetic corpus has no newlines, so these rules are pinned here)."""
    from faiss_spark.functions.text import gopher_quality_flags

    df = spark.createDataFrame(
        [
            (1, "- one\n* two\n• three\nplain"),        # 3/4 bullets
            (2, "ends here...\nand this one…\nnot this"),  # 2/3 ellipsis
            (3, "# tag # tag ... done"),                 # symbols
        ],
        "doc_id bigint, text string",
    )
    g = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", gopher_quality_flags(F.col("text")).alias("g")
        ).collect()
    }
    assert g[1]["bullet_frac"] == pytest.approx(0.75)
    assert g[1]["ellipsis_frac"] == 0.0
    assert g[2]["ellipsis_frac"] == pytest.approx(2 / 3, abs=1e-6)
    assert g[2]["bullet_frac"] == 0.0
    # '#' twice + '...' once over 6 tokens ('#' and '...' count as words)
    assert g[3]["symbol_word_ratio"] == pytest.approx(3 / 6)


def test_gopher_quality_passes_conjunction(spark):
    """A document engineered to satisfy every published threshold passes;
    single-rule violations (too short / no stopwords) fail."""
    from faiss_spark.functions.text import gopher_quality_flags

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with energy and"] * 6
    )  # 66 words, all alpha, mean len in [3,10], >=2 stopwords
    short = "the cat sat with that hat"  # < 50 words
    nostop = " ".join(["zebra"] * 60)  # no gopher stopwords
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, nostop)], "doc_id bigint, text string"
    )
    g = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", gopher_quality_flags(F.col("text")).alias("g")
        ).collect()
    }
    assert g[1]["passes"] is True
    assert g[2]["passes"] is False and g[2]["n_words"] < 50
    assert g[3]["passes"] is False and g[3]["stop_hits"] == 0


def test_ngram_char_fracs_match_python(spark):
    """top_ngram_char_frac / dup_ngram_char_frac vs a pure-python
    reference on deterministic pseudo-random word docs — pins the
    sorted-fold implementation (tie-break = lexicographically smallest
    top gram) against the naive counter."""
    import random
    from collections import Counter

    from faiss_spark.functions.text import (
        dup_ngram_char_frac,
        top_ngram_char_frac,
    )

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(20)
    ]

    def ref(text: str, n: int) -> tuple:
        toks = text.split(" ") if text else [""]
        grams = [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ] if len(toks) >= n else []
        nl = max(len(text), 1)
        if not grams:
            return 0.0, 0.0
        cnt = Counter(grams)
        # max count, ties -> lexicographically smallest
        best = min(
            (g for g in cnt if cnt[g] == max(cnt.values()))
        )
        top = round(min(1.0, cnt[best] * len(best) / nl), 6)
        dup = round(
            min(
                1.0,
                sum(c * len(g) for g, c in cnt.items() if c >= 2) / nl,
            ),
            6,
        )
        return top, dup

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    for n in (2, 3):
        rows = {
            r["doc_id"]: (r["t"], r["d"])
            for r in df.select(
                "doc_id",
                top_ngram_char_frac(F.col("text"), n).alias("t"),
                dup_ngram_char_frac(F.col("text"), n).alias("d"),
            ).collect()
        }
        for i, text in docs:
            assert rows[i] == pytest.approx(ref(text, n), abs=1e-9), (
                n,
                i,
                text,
            )


# ------------------------------------------------------- line-level dedup --


def test_line_dedup_keep_first_across_corpus(spark):
    """CCNet line dedup: repeated lines survive only at their first
    (doc_id, line_no) occurrence; documents are reassembled in order."""
    docs = [
        (1, "alpha\nshared line\nbeta"),
        (2, "shared line\ngamma\nshared line"),
        (3, "delta"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in D.line_dedup(df, sep="\n", normalize=False).collect()
    }
    assert out[1]["text"] == "alpha\nshared line\nbeta"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
    # doc 2 loses BOTH copies (first occurrence lives in doc 1)
    assert out[2]["text"] == "gamma"
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (3, 1)
    assert out[3]["text"] == "delta"


def test_line_dedup_normalize_and_original_bytes(spark):
    """normalize=True fingerprints the casefolded/collapsed line, but the
    KEPT text is the original bytes of the first occurrence."""
    docs = [
        (1, "Hello   World\nunique one"),
        (2, "hello world\nunique two"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in D.line_dedup(df).collect()}
    assert out[1]["text"] == "Hello   World\nunique one"  # original bytes
    assert out[2]["text"] == "unique two"  # normalized twin dropped
    # without normalization the two spellings are distinct
    raw = {
        r["doc_id"]: r["n_kept"]
        for r in D.line_dedup(df, normalize=False).collect()
    }
    assert raw == {1: 2, 2: 2}


def test_line_dedup_min_chars_exempts_short_lines(spark):
    """Lines under min_chars are structural (blank separators, bullets)
    and are kept unconditionally — never deduped, never counted absent."""
    docs = [(1, "a\n\nlong line here"), (2, "a\n\nlong line here\n")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r for r in D.line_dedup(df, min_chars=2).collect()
    }
    # the empty line and the 1-char "a" line survive in BOTH docs
    assert out[1]["text"] == "a\n\nlong line here"
    # long line deduped; the two empty lines (mid + trailing) both kept
    assert out[2]["text"] == "a\n\n"
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (4, 3)


def test_line_dedup_total_removal_yields_empty_doc(spark):
    docs = [(1, "only line"), (2, "only line")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in D.line_dedup(df).collect()}
    assert out[1]["text"] == "only line"
    assert out[2]["text"] == ""
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (1, 0)


def test_line_dedup_validates(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        D.line_dedup(df, sep="")
    with pytest.raises(ValueError):
        D.line_dedup(df, min_chars=-1)


def test_dedup_keep_best_highest_score_then_smallest_id(spark):
    """keep_best keeps the max-score doc per fingerprint (smallest id on
    ties); keep_first keeps the smallest id regardless of score."""
    docs = [
        (1, "Same  Text", 2.0),
        (2, "same text", 9.0),   # best copy of the group
        (3, "SAME TEXT", 9.0),   # score tie -> id 2 wins
        (4, "unique", 1.0),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, score double")
    best = {r["doc_id"] for r in D.dedup_keep_best(df, F.col("score")).collect()}
    assert best == {2, 4}
    first = {r["doc_id"] for r in D.dedup_keep_first(df).collect()}
    assert first == {1, 4}
    # score expression (not a column) works too: longest original text
    longest = {
        r["doc_id"]
        for r in D.dedup_keep_best(df, F.length("text")).collect()
    }
    assert longest == {1, 4}  # "Same  Text" is the longest spelling


# ------------------------------------------- span-level decontamination --


def test_decontaminate_spans_interval_union(spark):
    """Coverage is the UNION of matched [pos, pos+n) windows — overlapping
    windows must not double-count tokens."""
    # benchmark holds "a b c d e f": every 3-window of it
    bench = spark.createDataFrame(
        [(100, "a b c d e f")], "doc_id bigint, text string"
    )
    corpus = spark.createDataFrame(
        [
            # "a b c d e" contains two overlapping matched 3-windows
            # [0,3) and [1,4) and [2,5) -> union covers all 5 tokens
            (1, "a b c d e x y z w q"),
            # one isolated match [4,7)
            (2, "p q r s b c d t u v"),
            (3, "no overlap at all here wow"),
            (4, "a b"),  # shorter than n -> no windows
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in D.decontaminate_spans(corpus, bench, n=3).collect()
    }
    assert got[1]["n_contam_windows"] == 3
    assert got[1]["covered_tokens"] == 5
    assert got[1]["contam_frac"] == pytest.approx(0.5)
    assert got[2]["n_contam_windows"] == 1
    assert got[2]["covered_tokens"] == 3
    assert got[3]["covered_tokens"] == 0 and got[3]["contam_frac"] == 0.0
    assert (got[4]["n_windows"], got[4]["covered_tokens"]) == (0, 0)


def test_decontaminate_spans_matches_python_reference(tables):
    """Exact agreement with a brute-force python twin on real corpus data
    (benchmark = the doc_id<25 slice), both hash functions."""
    docs = tables["documents"]
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    n = 5
    import re as _re

    def toks(t):
        return _re.sub(r"\s+", " ", t.strip().lower()).split(" ")

    bench_windows = set()
    for i, t in rows:
        if i < 25:
            w = toks(t)
            for j in range(len(w) - n + 1):
                bench_windows.add(" ".join(w[j : j + n]))

    expect = {}
    for i, t in rows:
        w = toks(t)
        hits = [
            j
            for j in range(max(len(w) - n + 1, 0))
            if " ".join(w[j : j + n]) in bench_windows
        ]
        cov, end = 0, -1
        for p in hits:
            cov += max(0, p + n - max(p, end))
            end = max(end, p + n)
        expect[i] = (len(hits), cov)

    bench = docs.filter(F.col("doc_id") < 25)
    for hf in ("md5", "xxhash64"):
        got = {
            r["doc_id"]: (r["n_contam_windows"], r["covered_tokens"])
            for r in D.decontaminate_spans(docs, bench, n=n, hash_fn=hf).collect()
        }
        assert got == expect, hf


def test_decontaminate_spans_validates(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        D.decontaminate_spans(df, df, n=0)
    with pytest.raises(ValueError):
        D.decontaminate_spans(df, df, hash_fn="crc")


def test_dedup_against_cross_corpus(spark):
    """Cross-corpus exact dedup: a 'new dump' doc survives iff its
    fingerprint is unseen in the reference; within-new duplicates are
    untouched; all input columns survive; plan is a single anti join
    with the reference reduced to distinct fingerprints."""
    from faiss_spark.operators.dedup import dedup_against

    ref = spark.createDataFrame(
        [(0, "shared text one"), (1, "ref only text")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "shared text one"),        # dup of ref -> dropped
            (11, "SHARED   text one "),     # normalized dup of ref -> dropped
            (12, "brand new text"),         # unseen -> kept
            (13, "brand new text"),         # within-new dup -> KEPT (policy)
            (14, "ref only text"),          # dup of ref -> dropped
        ],
        "doc_id bigint, text string",
    )
    out = dedup_against(new, ref)
    assert sorted(r["doc_id"] for r in out.collect()) == [12, 13]
    assert out.columns == new.columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_dedup_against_ref_text_col(spark):
    from faiss_spark.operators.dedup import dedup_against

    ref = spark.createDataFrame(
        [(0, "shared text one")], "rid bigint, body string"
    )
    new = spark.createDataFrame(
        [(1, "shared text one"), (2, "other")], "doc_id bigint, text string"
    )
    out = dedup_against(new, ref, ref_text_col="body")
    assert [r["doc_id"] for r in out.collect()] == [2]


def test_perplexity_buckets_ccnet(spark, tables):
    """CCNet head/middle/tail terciles: buckets are monotone in bpc
    within each language (max head bpc <= min middle bpc <= ... ), every
    doc gets exactly one bucket, and the approx (100 TB) mode emits the
    same schema with monotone buckets too."""
    from faiss_spark.functions.text import perplexity_buckets

    docs = tables["documents"]
    out = perplexity_buckets(docs, exact=True).localCheckpoint()
    assert out.count() == docs.filter("length(text) >= 3").count()
    order = {"head": 0, "middle": 1, "tail": 2}
    rows = out.collect()
    assert set(r["bucket"] for r in rows) <= set(order)
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append((r["bpc"], r["bucket"]))
    for lang, vals in by_lang.items():
        for bpc, bucket in vals:
            for bpc2, bucket2 in vals:
                if order[bucket] < order[bucket2]:
                    assert bpc <= bpc2, (lang, bpc, bucket, bpc2, bucket2)
    approx = perplexity_buckets(docs, exact=False)
    assert approx.columns == out.columns
    arows = approx.collect()
    a_by_lang = {}
    for r in arows:
        a_by_lang.setdefault(r["lang"], []).append((r["bpc"], r["bucket"]))
    for lang, vals in a_by_lang.items():
        for bpc, bucket in vals:
            for bpc2, bucket2 in vals:
                if order[bucket] < order[bucket2]:
                    assert bpc <= bpc2
