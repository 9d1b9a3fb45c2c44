"""Deduplication operators for LLM training-data pipelines.

Four tiers, cheapest to richest, all shuffle-disciplined for 100 TB:

  exact        md5-fingerprint groupBy — one shuffle on a 32-byte key.
               (Reference analogue: IndexIVFFlatDedup, which stores each
               distinct vector once and multiplies ids at result time —
               faiss/IndexIVFFlat.h:56-60.)
  ngram        n-gram Jaccard similarity via token-postings self-join —
               exact pairwise Jaccard, for verification and small corpora.
  minhash-LSH  shingle → H seeded minhashes → banded bucket join → verify.
               The scale path: candidate generation touches only docs that
               share a band bucket (the IndexBinaryHash prefix-bucket
               pattern, faiss/IndexBinaryHash.h:26-83).
  embedding    cosine near-duplicate pairs over the embeddings table
               (brute range-search here; IVF-bucketed at scale).

Each operator has a byte-exact DuckDB oracle. Text features, shingles,
candidate joins and verification are JVM-side SQL expressions; MinHash
hashing runs in the numpy MD5 kernel (kernels.md5_min_digests) inside one
mapInArrow, byte-exact with the SQL form min(md5(i|s)) and so with the
DuckDB twin; the embedding pairers use the numpy distance kernels.
Minhashes are *hex strings* (md5), not ints: lexicographic MIN over hex
strings is identical in every engine, which sidesteps cross-engine
integer-hash mismatches entirely.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from faiss_spark import kernels as K
from faiss_spark.functions.text import fingerprint, shingles
from faiss_spark.operators.knn import range_search

# LSH defaults: 12 hashes = 4 bands × 3 rows → s-curve threshold ≈ 0.63
NUM_HASHES = 12
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
SHINGLE_N = 3


def _fan_out(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a CPU-bound source across cores ONLY when it
    scans as fewer splits than the parallelism (the knn.py fan-out guard,
    VERDICT r13 #2): a bench-scale single-file table spreads its md5/
    signature work, while a 100 TB table that already scans as thousands
    of splits skips the gratuitous full shuffle of raw text."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < par:
        return df.repartition(par, key)
    return df


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint.

    Returns (fingerprint, n_docs, rep_id) for groups with ≥2 docs;
    rep_id = smallest id (the representative to keep). One shuffle on the
    md5 key; partial aggregation is map-side."""
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).cast("bigint").alias("id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("rep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Cross-corpus exact dedup: drop every document of ``df`` whose
    normalized-text fingerprint already exists in ``reference`` — the
    snapshot-update pattern of crawl pipelines (FineWeb/RefinedWeb dedup
    each new dump AGAINST the union of previous dumps rather than
    re-deduplicating the whole accumulated corpus; CCNet likewise hashes
    new shards against stored hash sets). Within-``df`` duplicates are
    NOT touched — compose with ``dedup_keep_first`` for that.

    Shape at 100 TB: the reference side reduces to its DISTINCT
    fingerprints (map-side-combinable aggregate — one narrow shuffle of
    hash keys, never the reference text), then a LEFT ANTI hash join
    against df's fingerprints. The anti join broadcasts when the
    distinct-fingerprint table fits (Catalyst/AQE decide from its size —
    the common case when deduping one dump against a stored hash table),
    else degrades to a shuffle join of keys only; df's text rides the
    join untouched, the reference's text never leaves its scan. Returns
    ``df``'s rows (all columns) minus the already-seen documents."""
    fp = fingerprint(F.col(text_col))
    ref_fp = (
        reference.select(
            fingerprint(F.col(ref_text_col or text_col)).alias("__fp")
        )
        .distinct()
    )
    return (
        df.withColumn("__fp", fp)
        .join(ref_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def dedup_keep_first(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The actual dedup transform: keep the smallest-id doc per exact
    fingerprint (IndexIVFFlatDedup semantics: one stored representative,
    reference faiss/IndexIVFFlat.h:56-60)."""
    ranked = df.withColumn("__fp", fingerprint(F.col(text_col))).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
        ),
    )
    return ranked.filter(F.col("__rn") == 1).drop("__fp", "__rn")


def dedup_keep_best(
    df: DataFrame,
    score_col,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked exact dedup: keep the HIGHEST-scoring doc per
    fingerprint, smallest id breaking ties — the FineWeb/RefinedWeb
    policy where near-identical crawls differ in boilerplate and the
    cleanest copy should represent the group (keep_first keeps the
    oldest instead). ``score_col`` is a Column expression (e.g.
    ``quality_score(F.col("text"))`` or an existing column); it is
    evaluated once per row, map-side.

    Scale shape: identical to dedup_keep_first — one row_number window
    over the fingerprint, which Spark's WindowGroupLimit rewrites into
    a per-map-task partial top-1 before the exchange, so a 10⁹-copy
    boilerplate group ships ≤ one row per map task, not 10⁹ rows."""
    ranked = (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("__score", score_col)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__fp").orderBy(
                    F.col("__score").desc(), F.col(id_col).asc()
                )
            ),
        )
    )
    return ranked.filter(F.col("__rn") == 1).drop("__fp", "__score", "__rn")


def _minhash_array(sh_col, num_hashes: int = NUM_HASHES):
    """All H minhashes in ONE SQL expression: array(i -> min(md5(i|s))).

    The per-row form ``streaming.neardup_stream`` uses (one stateful
    operator per query rules out an aggregate), and the independent JVM
    reference the batch MD5 kernel is pinned against. The shingle
    expression is bound once (functions.text.bind) — Spark's interpreted
    higher-order lambdas would otherwise re-evaluate it once per (hash,
    shingle) pair."""
    from faiss_spark.functions.text import bind

    return bind(
        sh_col,
        lambda sh: F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(
                F.transform(
                    sh, lambda s: F.md5(F.concat(i.cast("string"), F.lit("|"), s))
                )
            ),
        ),
    )


def _minhash_hex(batch, num_hashes: int):
    """``(ids, hex)`` of the rows of an Arrow ``(id, sh)`` batch that have
    a shingle: hex is the (m, H, 32) ASCII of min(md5(i|s)) over the
    row's shingles s, for i < H — the numpy MD5 kernel, byte-identical to
    the SQL ``_minhash_array``."""
    valid, dig = K.md5_min_digests(
        batch.column(1), [f"{i}|".encode() for i in range(num_hashes)]
    )
    return K.arrow_i64(batch.column(0))[valid], K.hex_digits(dig[valid])


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES, n: int = SHINGLE_N,
) -> DataFrame:
    """(id, mh array<string>) minhash signature table: codegen'd
    shingles, then one mapInArrow through the numpy MD5 kernel."""

    def sign(batches):
        import pyarrow as pa

        for b in batches:
            ids, hx = _minhash_hex(b, num_hashes)
            mh = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (len(ids) + 1) * num_hashes, num_hashes,
                                   dtype=np.int32)),
                K.ascii_strings(hx.reshape(-1, 32)),
            )
            yield pa.RecordBatch.from_arrays([pa.array(ids), mh], ["id", "mh"])

    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        shingles(F.col(text_col), n).alias("sh"),
    ).mapInArrow(sign, "id bigint, mh array<string>")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    n: int = SHINGLE_N,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.

    Plan shape (the 100 TB path):
      1. shingles: one scan, codegen'd regex, checkpointed once (they
         feed the band keys and both verify joins)
      2. band keys: ONE mapInArrow over (id, sh) runs the numpy MD5
         kernel — H minhashes min(md5(i|s)), then b band keys
         md5(concat of a band's minhashes) — and emits (id, bucket)
         rows; no explode, no per-hash aggregate, nothing persisted
      3. candidate pairs: groupBy bucket → sorted id set → its (a < b)
         pairs, streamed by posexplode + explode → dropDuplicates — one
         shuffle keyed on the md5 band key, never a self-join. Keys
         spread uniformly, but a cluster of k identical documents puts
         all k in the same bucket of every band: that group is one
         task holding k ids and emitting k(k-1)/2 pairs per band (the
         pairs themselves are output, so no plan avoids them)
      4. verify: exact Jaccard on the candidates' shingle sets — touches
         only candidate pairs, never all O(n²) pairs.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    rows = num_hashes // num_bands
    # the md5-minhash projection is CPU-bound: make sure it runs on all
    # cores even when the source is one parquet file (guarded — no
    # shuffle when the scan already yields >= par splits)
    sh = (
        _fan_out(df, id_col)
        .select(
            F.col(id_col).cast("bigint").alias("id"),
            shingles(F.col(text_col), n).alias("sh"),
        )
        # shingle sets feed the band keys AND the two verify joins
        # below; materialize once
        .localCheckpoint(eager=False)
    )

    def band_keys(batches):
        import hashlib

        import pyarrow as pa

        for b in batches:
            ids, hx = _minhash_hex(b, num_hashes)
            # band key b = md5(mh[b*rows] || ... || mh[b*rows+rows-1])
            msgs = hx[:, : num_bands * rows].reshape(-1, rows * 32)
            keys = [hashlib.md5(m).hexdigest() for m in msgs]
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(ids, num_bands)), pa.array(keys, pa.string())],
                ["id", "bucket"],
            )

    # candidates from one grouped pass over the (id, bucket) table: each
    # bucket's sorted id set yields its (a < b) pairs — the band table
    # has one consumer, so it is computed once without being persisted.
    # The pairs are streamed by two explodes (each id against the ids
    # after it), so no row ever holds more than one bucket's id set
    ids = F.col("ids")
    cands = (
        sh.mapInArrow(band_keys, "id bigint, bucket string")
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter(F.size(ids) > 1)
        .select(F.posexplode(ids).alias("i", "id_a"), ids)
        .select("id_a", F.explode(F.slice(ids, F.col("i") + 2, F.size(ids))).alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification joins fetch the shingle sets only for candidate pairs
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    cands = cands.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cands.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = SHINGLE_N,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via a token-postings
    self-join (inverted-index pattern): only doc pairs sharing ≥1 shingle
    are ever materialized. Returns (id_a, id_b, jaccard), id_a < id_b.

    Scale lever: a shingle shared by f docs contributes f² join rows —
    `max_df` drops shingles with document frequency > max_df from
    CANDIDATE GENERATION only (one extra groupBy on the shingle key);
    the jaccard of surviving candidates is still computed on the FULL
    shingle sets, so emitted values are exact. A pair is missed only if
    every shingle it shares is df-hot — near-dup pairs virtually always
    share rare shingles, the same bet MinHash banding makes. max_df=None
    is fully exact (the verification oracle)."""
    sh = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        shingles(F.col(text_col), n).alias("sh"),
    )
    sizes = sh.select("id", F.size("sh").alias("sz"))
    postings = sh.select("id", F.explode("sh").alias("g"))
    if max_df is not None:
        rare = (
            postings.groupBy("g")
            .agg(F.countDistinct("id").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("g")
        )
        cand_postings = postings.join(rare, "g", "left_semi")
    else:
        cand_postings = postings
    a = cand_postings.alias("a")
    b = cand_postings.alias("b")
    if max_df is None:
        # exact path: the join itself counts the full intersection
        inter = (
            a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_inter"))
        )
        sa = sizes.alias("sa")
        sb = sizes.alias("sb")
        return (
            inter.join(sa, F.col("id_a") == F.col("sa.id"))
            .join(sb, F.col("id_b") == F.col("sb.id"))
            .withColumn(
                "jaccard",
                F.col("n_inter").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # pruned path: bare-id candidates from rare shingles, then exact
    # verify on the full shingle sets (the minhash_lsh_pairs shape)
    cands = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter_sz = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union_sz = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", inter_sz / union_sz)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 bands × 8 bits; pigeonhole: hamming ≤ 3 ⇒ a band matches
SIMHASH_HAM_T = 3


def simhash_expr(text_col, bits: int = SIMHASH_BITS, hex_offset: int = 0):
    """SimHash of the token multiset as a BIGINT (bits ≤ 32 so every
    arithmetic step is double-exact and has a byte-identical SQL twin).

    Token hash = 8 md5 hex chars starting at `hex_offset` as an int; bit j
    of the simhash is the sign of Σ_tokens (2·bit_j(h) − 1). Everything
    JVM-side. A 64-bit simhash is two calls with hex_offset 0 and 8
    (independent md5 halves) — wider single words would overflow the
    double-exact range of higher-order-function arithmetic."""
    from faiss_spark.functions.text import bind, tokens

    def build(toks):
        return bind(
            F.transform(
                toks,
                lambda t: F.conv(
                    F.substring(F.md5(t), 1 + hex_offset, 8), 16, 10
                ).cast("long"),
            ),
            lambda hs: F.aggregate(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.when(
                    F.aggregate(
                        hs,
                        F.lit(0).cast("long"),
                        lambda s, h: s
                        + (
                            F.floor(h / F.pow(F.lit(2.0), j)).cast("long") % 2
                        )
                        * 2
                        - 1,
                    )
                    > 0,
                    F.pow(F.lit(2.0), j),
                ).otherwise(F.lit(0.0)),
            ).cast("bigint"),
        )

    return build(tokens(text_col))


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hex_offsets: tuple[int, ...] = (0,),
    names: tuple[str, ...] = ("sh",),
) -> DataFrame:
    """(id, word…) simhash signature table, one 32-bit word per
    hex_offset (md5 hex chars offset+1..offset+8 hash each token).

    This is the codegen formulation of ``simhash_expr``: explode tokens →
    per-bit contributions via shiftright/AND (whole-stage codegen, no
    interpreted lambdas) → 32 sum-aggregates per word. Bit-identical to
    the expression form, ~2× faster, and the groupBy collapses entirely
    map-side (all of a doc's exploded tokens sit in its input task), so
    the shuffle carries one row per doc."""
    from faiss_spark.functions.text import tokens

    posted = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    md5c = F.md5(F.col("token"))
    posted = posted.select(
        "id",
        *[
            F.conv(F.substring(md5c, 1 + off, 8), 16, 10)
            .cast("long")
            .alias(f"__h{w}")
            for w, off in enumerate(hex_offsets)
        ],
    )
    aggs = [
        F.sum(
            F.shiftright(F.col(f"__h{w}"), j).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"__b{w}_{j}")
        for w in range(len(hex_offsets))
        for j in range(32)
    ]
    g = posted.groupBy("id").agg(*aggs)
    words = []
    for w, name in enumerate(names):
        acc = F.lit(0.0)
        for j in range(32):
            acc = acc + F.when(
                F.col(f"__b{w}_{j}") > 0, F.lit(float(1 << j))
            ).otherwise(F.lit(0.0))
        words.append(acc.cast("bigint").alias(name))
    return g.select("id", *words)


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHASH_HAM_T,
    bands: int = SIMHASH_BANDS,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: candidates share ≥1 of `bands`
    byte-bands of the fingerprint (the classic Charikar/Manku dedup
    layout: groupBy band value = one skew-free shuffle), verified with the
    exact Hamming distance ≤ max_hamming. With 4×8-bit bands the
    pigeonhole guarantees every pair with hamming ≤ 3 is found.

    Returns (id_a, id_b, hamming)."""
    band_bits = bits // bands
    # repartition BEFORE the md5 projection: the hash work must spread
    # across cores even when the source is one local file split
    # (guarded on the source's split count — see _fan_out)
    sig = simhash_signatures(
        _fan_out(df.select(F.col(id_col).alias(id_col), F.col(text_col)), id_col),
        text_col,
        id_col,
    )
    band_arr = F.array(
        *[
            (
                F.floor(F.col("sh") / F.lit(float(1 << (band_bits * b)))).cast("long")
                % (1 << band_bits)
                # tag with the band index so band b only matches band b
                + F.lit(b * (1 << band_bits) * 2)
            )
            for b in range(bands)
        ]
    )
    # materialize the banded signature table once: the broadcast
    # self-join otherwise recomputes the explode -> md5 -> 32
    # sum-aggregates subtree on the build side (see the minhash_lsh_pairs
    # NOTE — VERDICT r13 #1; guide §2.4/§5)
    banded = sig.select(
        "id", "sh", F.explode(band_arr).alias("bucket")
    ).persist()
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(
        F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    )
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        # verify BEFORE dedup: hamming is computed map-side in the join
        # task, so the dropDuplicates shuffle carries only the matching
        # pairs (a few k), not every band-collision candidate (tens of
        # millions at 83k docs — the round-1 bench outlier was exactly
        # this shuffle)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash64_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHASH_HAM_T,
) -> DataFrame:
    """64-bit SimHash near-dup pairs as TWO 32-bit words (lo = md5 hex
    chars 1-8, hi = chars 9-16): the two-word layout keeps every
    arithmetic step exact in the DOUBLE-based engines that must
    reproduce it (the DuckDB oracle, and the expression form
    ``simhash_expr``), where a single 64-bit word would lose bits past
    2^53. 8 byte-bands (4 per word) bucket candidates; pigeonhole
    guarantees every pair with hamming ≤ 7 shares a band. Hamming =
    popcount(xor lo) + popcount(xor hi). Same single skew-free shuffle
    as the 32-bit variant. Returns (id_a, id_b, hamming)."""
    sig = simhash_signatures(
        _fan_out(df.select(F.col(id_col).alias(id_col), F.col(text_col)), id_col),
        text_col,
        id_col,
        hex_offsets=(0, 8),
        names=("lo", "hi"),
    )
    bands = []
    for w, col in enumerate(("lo", "hi")):
        for b in range(4):
            bands.append(
                F.floor(F.col(col) / F.lit(float(1 << (8 * b)))).cast("long") % 256
                + F.lit((w * 4 + b) * 512)
            )
    # materialized once — see simhash_neardup_pairs / minhash_lsh_pairs
    banded = sig.select(
        "id", "lo", "hi", F.explode(F.array(*bands)).alias("bucket")
    ).persist()
    a = banded.alias("a")
    b = banded.alias("b")
    ham = (
        F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo")))
        + F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi")))
    )
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        # verify before dedup — see simhash_neardup_pairs
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    cosine similarity ≥ threshold.

    Implementation: cosine range_search of the table against itself
    (broadcast queries — fine to ~1M rows), keeping a < b. The 100 TB
    path buckets by IVF cell first (operators/ivf.py) so only intra-cell
    pairs are scanned."""
    src = embeddings.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    qs = src.select(F.col("id").alias("qid"), "vec")
    # range_search is strict >; emit at a slightly lower radius then apply
    # the inclusive threshold exactly
    pairs = range_search(src, qs, threshold - 1e-12, metric="cosine")
    return (
        pairs.filter((F.col("qid") < F.col("id")) & (F.col("dist") >= threshold))
        .select(
            F.col("qid").alias("id_a"),
            F.col("id").alias("id_b"),
            F.col("dist").alias("cosine"),
        )
    )


def _hot_cell_shards(
    src: DataFrame,
    bc,
    max_cell_rows: int,
    seed: int,
    sample_target: int = 262_144,
) -> tuple[dict[int, int], str]:
    """Hot-cell detection WITHOUT recomputing the assign GEMM over the
    full corpus (VERDICT r9 #3: Catalyst cannot column-prune below
    mapInArrow, so a groupBy(bucket).count() on the assigned frame re-ran
    the whole assignment — one extra full-corpus scan at 100 TB, and the
    +17% on the sf0.1 bench row). Two cheaper levels:

      1. upper bound: nprobe replicates a row to DISTINCT cells, so no
         cell can ever hold more than n_total rows — ``n_total <=
         max_cell_rows`` proves no cell can be hot for the price of one
         column-pruned count (parquet footer metadata, no GEMM);
      2. sampled estimate: assign a seeded ~256k-row sample, emit ONLY
         the bucket column, and scale counts by 1/fraction. A truly hot
         cell (>> max_cell_rows rows) is detected with vanishing relative
         error; a borderline miss costs one uncapped task, never
         correctness — the pair set is sharding-independent (exactness
         pinned by test_bucketed_neardup_hot_cell_split_is_exact).

    Returns ({bucket: nsub}, method) where method ∈ {"skipped", "exact",
    "sampled"} — "exact" when the sample fraction saturates at 1.0."""
    import numpy as np

    from faiss_spark.kernels import pairwise_distances

    n_total = src.count()
    if n_total <= max_cell_rows:
        return {}, "skipped"
    frac = min(1.0, sample_target / max(n_total, 1))
    sample = src if frac >= 1.0 else src.sample(fraction=frac, seed=seed)

    def assign_slim(batches):
        import pyarrow as pa

        from faiss_spark.kernels import arrow_id_vec_blocks

        C_, nprobe_ = bc.value
        for _, X, _ in arrow_id_vec_blocks(batches):
            sims = pairwise_distances(X, C_, "cosine")
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe_]
            yield pa.RecordBatch.from_arrays(
                [pa.array(order.ravel().astype(np.int32), pa.int32())],
                names=["bucket"],
            )

    slim = sample.mapInArrow(assign_slim, schema="bucket int")
    subs = {
        int(r["bucket"]): -(-int(round(int(r["count"]) / frac)) // max_cell_rows)
        for r in slim.groupBy("bucket").count().collect()
        if int(r["count"]) / frac > max_cell_rows
    }
    return subs, ("exact" if frac >= 1.0 else "sampled")


def embedding_neardup_bucketed(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_buckets: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1234,
    nprobe: int = 1,
    max_cell_rows: int | None = 100_000,
) -> DataFrame:
    """The 100 TB path for embedding near-dup: k-means bucket the vectors
    (spherical — cosine cells), then compute cosine pairs ONLY within each
    bucket. Near-identical vectors land in the same cell with very high
    probability, so recall at high thresholds stays ≈1 while the join cost
    drops from O(n²) to Σ |cell|² (the IVF-bucketed similarity join; same
    idea as the reference's knn-graph sharding, benchs/README.md:313).

    Shuffle discipline: one assign pass (broadcast centroids, no shuffle),
    one hash shuffle on bucket id, then a per-bucket vectorized GEMM
    (applyInArrow) that emits only the pairs at/above the threshold —
    the same per-cell kernel shape as graph.knn_graph_bucketed. An
    earlier version scored each candidate pair with an interpreted
    zip_with/aggregate expression; the GEMM does the whole cell in one
    BLAS call instead of one lambda walk per pair.

    Hot-cell skew: AQE skew handling splits JOIN partitions, not
    ``groupBy().applyInArrow`` groups — a hot k-means cell lands in
    exactly ONE task and becomes the straggler/OOM at scale.
    ``max_cell_rows`` bounds that: any cell above the budget is split
    into ``ceil(|cell|/max_cell_rows)`` hash sub-shards (the same salting
    answer as nsg.py's ``max_shard_rows``), and the group key becomes the
    sub-shard PAIR (bucket, i, j) with every row replicated to the nsub
    groups that touch its shard — the classic all-pairs triangle
    partitioning, so every intra-cell pair is still co-grouped exactly
    once by shard (mixed groups re-derive some same-shard pairs; a final
    pair-edge dedup removes them). Each task's rows are bounded by
    ~2·max_cell_rows regardless of how hot the cell is, at the cost of
    replicating only the HOT cells' rows nsub×.

    nprobe > 1 assigns every vector to its nprobe nearest cells
    (symmetric multi-probe, the knn_graph_bucketed recall lever): a pair
    is found whenever the two probe sets overlap, so border pairs recover
    at the cost of an nprobe× bigger bucket shuffle.
    """
    import numpy as np

    from faiss_spark.kernels import pairwise_distances
    from faiss_spark.operators.cluster import KMeans

    src = embeddings.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    km = KMeans(
        k=n_buckets, niter=10, seed=seed, spherical=True
    ).fit(src, vec_col="vec")
    nprobe = max(1, min(nprobe, len(km.centroids)))
    spark = src.sparkSession
    bc = spark.sparkContext.broadcast((km.centroids, nprobe))

    def assign_cells(batches):
        import pyarrow as pa

        from faiss_spark.kernels import arrow_id_vec_blocks

        C_, nprobe_ = bc.value
        f32_list = pa.list_(pa.float32())
        for ids, X, vec_arr in arrow_id_vec_blocks(batches):
            # spherical cells: nearest by cosine similarity
            sims = pairwise_distances(X, C_, "cosine")
            order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe_]
            # declared output schema is array<float>: cast an
            # array<double> input before the zero-copy take pass-through
            if vec_arr.type != f32_list:
                vec_arr = vec_arr.cast(f32_list)
            rep = np.repeat(np.arange(len(ids)), nprobe_)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(order.ravel().astype(np.int32), pa.int32()),
                    pa.array(ids[rep], pa.int64()),
                    # Arrow take replicates the list rows without ever
                    # materializing per-row Python objects
                    vec_arr.take(pa.array(rep, pa.int64())),
                ],
                names=["bucket", "id", "vec"],
            )

    bucketed = src.mapInArrow(
        assign_cells, schema="bucket int, id bigint, vec array<float>"
    )
    thr = float(threshold)

    def local_pairs(tbl):
        # Arrow-native per-cell scan (guide §4.1-4.2): ids and the vector
        # matrix come zero-copy off the group table, the pair emit is one
        # pa.Table from flat arrays — no per-row pandas objects.
        import pyarrow as pa

        from faiss_spark.kernels import arrow_i64, arrow_list_matrix

        empty = pa.table(
            {
                "id_a": pa.array([], pa.int64()),
                "id_b": pa.array([], pa.int64()),
                "cosine": pa.array([], pa.float64()),
            }
        )
        if tbl.num_rows < 2:
            return empty
        ids = arrow_i64(tbl.column("id"))
        X = arrow_list_matrix(tbl.column("vec"))
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        m = len(ids)
        out_a, out_b, out_c = [], [], []
        # block-wise over rows: memory stays O(block × m) in a hot cell
        for lo in range(0, m, 4096):
            hi = min(lo + 4096, m)
            S = Xn[lo:hi] @ Xn.T
            keep = (S >= thr) & (ids[lo:hi][:, None] < ids[None, :])
            r, c = np.nonzero(keep)
            if len(r):
                out_a.append(ids[lo:hi][r])
                out_b.append(ids[c])
                out_c.append(S[r, c])
        if not out_a:
            return empty
        return pa.table(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    subs: dict[int, int] = {}
    if max_cell_rows is not None:
        subs, _ = _hot_cell_shards(src, bc, max_cell_rows, seed)

    if subs:
        bc_subs = spark.sparkContext.broadcast(subs)

        def fan_out(batches):
            import pyarrow as pa

            subs_ = bc_subs.value

            def emit(buckets, gi, gj, ids, vec_rows):
                return pa.RecordBatch.from_arrays(
                    [
                        pa.array(buckets.astype(np.int32), pa.int32()),
                        pa.array(gi.astype(np.int32), pa.int32()),
                        pa.array(gj.astype(np.int32), pa.int32()),
                        pa.array(ids, pa.int64()),
                        vec_rows,
                    ],
                    names=["bucket", "gi", "gj", "id", "vec"],
                )

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                buckets = np.asarray(
                    batch.column(0).to_numpy(zero_copy_only=False), np.int64
                )
                ids_all = np.asarray(
                    batch.column(1).to_numpy(zero_copy_only=False), np.int64
                )
                vec_arr = batch.column(2)
                hot_mask = np.isin(buckets, list(subs_))
                cold = np.flatnonzero(~hot_mask)
                if len(cold):
                    zeros = np.zeros(len(cold), np.int32)
                    yield emit(
                        buckets[cold], zeros, zeros, ids_all[cold],
                        vec_arr.take(pa.array(cold, pa.int64())),
                    )
                hot = np.flatnonzero(hot_mask)
                for b in np.unique(buckets[hot]):
                    rows = hot[buckets[hot] == b]
                    nsub = subs_[int(b)]
                    ids = ids_all[rows]
                    # deterministic vectorized shard hash (Fibonacci mix)
                    s = (
                        (ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15))
                        >> np.uint64(33)
                    ) % np.uint64(nsub)
                    s = s.astype(np.int32)
                    vec_rows = vec_arr.take(pa.array(rows, pa.int64()))
                    bcol = np.full(len(rows), b, np.int64)
                    for t in range(nsub):
                        yield emit(
                            bcol, np.minimum(s, t), np.maximum(s, t), ids,
                            vec_rows,
                        )

        sharded = bucketed.mapInArrow(
            fan_out,
            schema="bucket int, gi int, gj int, id bigint, vec array<float>",
        )
        pairs = sharded.groupBy("bucket", "gi", "gj").applyInArrow(
            local_pairs, schema="id_a bigint, id_b bigint, cosine double"
        )
    else:
        pairs = bucketed.groupBy("bucket").applyInArrow(
            local_pairs, schema="id_a bigint, id_b bigint, cosine double"
        )
    if nprobe > 1 or subs:
        # the same pair surfaces in every cell both members probe (and,
        # under hot-cell sharding, same-shard pairs recur in mixed
        # groups) — dedup on the (tiny) pair edges, never re-shuffling
        # vector payloads
        pairs = pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))
    return pairs

def dedup_components(
    pairs: DataFrame,
    max_iter: int = 20,
    id_a_col: str = "id_a",
    id_b_col: str = "id_b",
) -> DataFrame:
    """Duplicate GROUPS from near-dup pairs: connected components of the
    pair graph, labeled by the smallest member id (the canonical
    representative a dedup pass keeps). Returns (id, rep_id).

    This is the step after any pairer (minhash/simhash/embedding): pairs
    say "a≈b"; components say "keep one of {a,b,c,…}". Algorithm is
    min-label propagation (the map-reduce connected-components loop, à la
    Hash-to-Min): every node repeatedly adopts the smallest label among
    itself and its neighbors, O(diameter) rounds — near-dup clusters are
    tiny (dozens), so this converges in a handful of one-shuffle rounds
    at any corpus size. Each round is checkpointed so lineage stays flat
    (Spark re-executes exponentially otherwise).

    Each round is one join and one aggregate: the edge list carries a
    self-loop per node, so a node's new label min(rep) over its
    neighbourhood and its old label (the self-loop's) come from the same
    group. The first round needs no join (every label is still the node
    itself: rep = least(src, min(dst))). Termination: stop when a round
    changes no label — a flag column on the checkpointed frame, read
    with ``filter(chg).limit(1)``.
    """
    # undirected edge list, both directions + self-loops, from ONE scan
    # of the pairs (they are often an unmaterialized pairer plan)
    a = F.col(id_a_col).cast("bigint")
    b = F.col(id_b_col).cast("bigint")
    edges = (
        pairs.select(
            F.inline(
                F.array(
                    *[
                        F.struct(s.alias("src"), d.alias("dst"))
                        for s, d in ((a, b), (b, a), (a, a), (b, b))
                    ]
                )
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if max_iter < 1:
        # no rounds: every node is its own representative
        return edges.select(F.col("src").alias("id"), F.col("src").alias("rep_id")).distinct()
    # (src, dst, rep = the current label of dst)
    nbr = edges.withColumn("rep", F.col("dst"))
    for _ in range(max_iter):
        labels = (
            nbr.groupBy("src")
            .agg(
                F.min("rep").alias("rep"),
                F.max(F.when(F.col("dst") == F.col("src"), F.col("rep"))).alias("old"),
            )
            .select("src", "rep", (F.col("rep") < F.col("old")).alias("chg"))
            .localCheckpoint(eager=True)
        )
        if labels.filter("chg").limit(1).count() == 0:
            break
        nbr = edges.join(labels.select(F.col("src").alias("dst"), "rep"), "dst")
    return labels.select(F.col("src").alias("id"), F.col("rep").alias("rep_id"))


def decontaminate(
    corpus: "DataFrame",
    benchmark: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
    broadcast_benchmark: bool = True,
):
    """Benchmark decontamination — the eval-integrity step of a
    training-data pipeline: count, per corpus document, how many distinct
    word n-grams it shares with ANY benchmark document, and flag docs at
    ≥ min_hits.

    Plan shape at 100 TB: the benchmark n-gram set is tiny (eval suites),
    so it broadcasts; the corpus side is one scan → explode distinct
    shingles → broadcast-semi-join → per-doc count. The corpus is never
    self-joined and never shuffled by content (only the final per-doc
    count aggregates, keyed on doc id). Set broadcast_benchmark=False to
    fall back to a shuffle join for very large benchmark sets.

    Returns (doc_id, n_hits, contaminated) for every corpus doc."""
    from faiss_spark.functions.text import shingles as _sh

    c = corpus.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.explode(_sh(F.col(text_col), n)).alias("g"),
    )
    b = benchmark.select(
        F.explode(_sh(F.col(text_col), n)).alias("g")
    ).distinct()
    if broadcast_benchmark:
        b = F.broadcast(b)
    hits = c.join(b, "g").groupBy("doc_id").agg(F.count("*").alias("n_hits"))
    ids = corpus.select(F.col(id_col).cast("bigint").alias("doc_id"))
    return (
        ids.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Span-level benchmark decontamination (Lee et al. 2021 §6.2 /
    Gopher A.2's 13-gram overlap test): per corpus document, the
    fraction of TOKENS covered by any ``n``-token window that also
    occurs verbatim in a benchmark document. ``decontaminate`` counts
    distinct shared n-grams (a flag); this measures contamination MASS —
    the threshold signal for "drop docs where > X% of tokens are
    benchmark text" without losing documents over one quoted sentence.

    Returns one row per corpus doc:
      (doc_id, n_tokens, n_windows, n_contam_windows, covered_tokens,
       contam_frac) — covered_tokens is the length of the UNION of the
    matched windows' [pos, pos+n) intervals; contam_frac =
    covered_tokens / n_tokens (0.0 for docs shorter than n tokens).

    Scale shape (100 TB): corpus windows are hashed JVM-side (same
    codegen transform as span_dedup — no explode of raw text before the
    match); the benchmark window set is eval-suite-sized so it
    broadcasts and the match is a map-side semi-join — the corpus is
    never self-joined and never shuffled by content, only the final
    per-doc aggregate shuffles, keyed on doc id. The interval-union is
    one O(W log W) sorted fold per DOCUMENT in codegen (same shape as
    the Gopher char-mass folds). ``hash_fn='xxhash64'`` narrows the
    matched rows exactly as in span_dedup."""
    from faiss_spark.functions.text import tokens

    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    hasher = F.md5 if hash_fn == "md5" else F.xxhash64
    key_t = "array<string>" if hash_fn == "md5" else "array<bigint>"

    def windows(col):
        toks = tokens(col)
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: hasher(F.concat_ws(" ", F.slice(toks, i, n))),
            ),
        ).otherwise(F.array().cast(key_t))

    bench = (
        benchmark.select(F.explode(windows(F.col(text_col))).alias("h"))
        .distinct()
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    cw = corpus.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(windows(F.col(text_col))).alias("pos", "h"),
    )
    matched = cw.join(bench, "h").select("doc_id", "pos")
    # union length of the matched [pos, pos+n) intervals: sorted linear
    # fold, one pass per doc — never a per-interval rescan
    n_lit = F.lit(n).cast("long")
    covered = F.aggregate(
        F.array_sort(F.collect_list(F.col("pos").cast("long"))),
        F.struct(
            F.lit(0).cast("long").alias("cov"),
            F.lit(-1).cast("long").alias("end"),
        ),
        lambda acc, p: F.struct(
            (
                acc["cov"]
                + F.greatest(
                    p + n_lit - F.greatest(p, acc["end"]),
                    F.lit(0).cast("long"),
                )
            ).alias("cov"),
            F.greatest(acc["end"], p + n_lit).alias("end"),
        ),
        lambda acc: acc["cov"],
    )
    per_doc = matched.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_contam_windows"),
        covered.alias("covered_tokens"),
    )
    toks = tokens(F.col(text_col))
    base = corpus.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.greatest(F.size(toks) - (n - 1), F.lit(0)).cast("bigint").alias(
            "n_windows"
        ),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.coalesce("n_contam_windows", F.lit(0)).cast("bigint").alias(
            "n_contam_windows"
        ),
        F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias(
            "covered_tokens"
        ),
        F.round(
            F.coalesce("covered_tokens", F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("contam_frac"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
    normalize: bool = True,
) -> DataFrame:
    """CCNet-style line/paragraph-level exact dedup ACROSS the corpus
    (Wenzek et al. 2019 §3.1; the step RefinedWeb/FineWeb run before
    document-level MinHash): split every document on ``sep``, drop each
    line whose fingerprint already occurred at a smaller (doc_id,
    line_no) anywhere in the corpus, keep the first occurrence, and
    reassemble the surviving lines in order.

    Lines shorter than ``min_chars`` after trimming are exempt (kept
    unconditionally) — CCNet hashes only real paragraphs; deduping ""
    or "*" would shred structure. ``normalize=True`` fingerprints the
    casefolded/whitespace-collapsed line (the operator's
    ``fingerprint``), so lines differing only in case/extra spaces
    dedup together; the KEPT text is always the original bytes.

    Returns one row per input document:
      (doc_id, text, n_lines, n_kept) — ``text`` is the reassembled
    document (possibly empty when every line was a duplicate);
    filtering empties is the caller's policy decision.

    Scale shape (100 TB): the first-occurrence table is a
    map-side-combinable ``groupBy(hash).agg(min(struct(id, pos)))`` —
    NOT a window over the hash (a boilerplate line occurring 10⁹ times
    would serialize one sorted window partition; the agg partial-
    combines in the scan tasks and the subsequent hash join is
    AQE-skew-splittable). Three shuffles total: firsts agg, the
    line⋈firsts hash join, and the doc-id regroup.
    """
    import re as _re

    if not sep:
        raise ValueError("line_dedup: sep must be a non-empty string")
    if min_chars < 0:
        raise ValueError(f"line_dedup: min_chars must be >= 0, got {min_chars}")
    line_key = fingerprint(F.col("line")) if normalize else F.md5(F.col("line"))
    lines = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "pos", "line"
        ),
    ).withColumn("h", line_key)
    exempt = F.length(F.trim(F.col("line"))) < min_chars
    firsts = (
        lines.filter(~exempt)
        .groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("first"))
    )
    kept = (
        lines.join(firsts, "h", "left")
        .filter(
            exempt
            | (
                (F.col("first.id") == F.col("id"))
                & (F.col("first.pos") == F.col("pos"))
            )
        )
        .select("id", "pos", "line")
    )
    n_lines = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.size(F.split(F.col(text_col), _re.escape(sep))).cast("bigint").alias(
            "n_lines"
        ),
    )
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
    )
    return (
        n_lines.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("text", F.lit("")).alias("text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


# ======================================================== substring spans ==


def duplicated_spans(
    df: DataFrame,
    n: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    prefilter: str | None = None,
    max_broadcast_mb: int = 256,
) -> DataFrame:
    """Exact duplicated-substring detection: every window of ``n``
    consecutive tokens is hashed; windows whose hash occurs ≥ min_count
    times corpus-wide are duplicated spans (the exact-substring
    deduplication of large LM corpora — finds boilerplate, licenses,
    templates that whole-document or Jaccard dedup misses).

    Returns (doc_id, pos, span_hash, n_occurrences, keep) — one row per
    occurrence of a duplicated span; ``keep`` marks the corpus-wide first
    occurrence (smallest (doc_id, pos)), the one a remove-duplicates pass
    retains.

    Scale shape: window hashing is JVM codegen (transform over sequence —
    no Python, no explode of raw text); ONE shuffle on the span hash with
    map-side partial counting unavailable (positions needed), so rows
    shuffled = total token windows. At 100 TB, raise n (fewer windows per
    doc duplicated by chance) and set ``prefilter='hot_hash'``: a first
    COUNT-ONLY pass aggregates the same window hashes with no positions
    attached — map-side combinable, and its shuffle rows are just
    (hash, partial count), ~2-4× narrower than the positional rows —
    then only the hashes that reached min_count (with their exact
    counts, already final) join back against the positional windows,
    so the wide exchange carries DUPLICATED windows only. The result is
    byte-identical to the unfiltered operator; what changes is that the
    60-byte-per-window exchange that kept SCALE.md's 905M-window draw
    from fitting this host's spill disk shrinks to the duplicate mass.
    The hot set joins by broadcast while it fits ``max_broadcast_mb``
    (duplicate-hash count × key width); past that it degrades to a
    shuffle join of the same plan — correct, but no longer cheaper, so
    a corpus where most windows repeat should skip the prefilter.
    (A count-min-sketch prefilter was tried first and measured: the
    dense width-proportional accumulator each build task needs either
    thrashes memory at useful widths or saturates into a no-op at
    feasible ones — on Spark the count-only aggregation pass is
    strictly better, since the map-side hash aggregate IS the sketch,
    sized to the data per task.) hash_fn picks the span key: 'md5' (default)
    is 128-bit — collision-free at any corpus size and byte-exact
    against the DuckDB oracle; 'xxhash64' shrinks the shuffled key from
    a 32-char string to 8 bytes (~2.5× narrower shuffle rows, cheaper
    hashing) at a ~W²/2⁶⁵ false-duplicate risk — negligible below ~10⁹
    windows, so prefer it for throughput and keep md5 when a 100 TB
    corpus (10¹³ windows ⇒ ~10⁶ spurious pairs) must be exact."""
    from faiss_spark.functions.text import tokens

    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    hasher = F.md5 if hash_fn == "md5" else F.xxhash64
    key_t = "array<string>" if hash_fn == "md5" else "array<bigint>"
    if prefilter not in (None, "hot_hash"):
        raise ValueError(
            f"prefilter must be None or 'hot_hash', got {prefilter!r}"
        )
    toks = tokens(F.col(text_col))
    # Spark's sequence(1, 0) yields a DESCENDING [1, 0] — guard short
    # docs (< n tokens) to an empty window list explicitly
    windows = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: hasher(F.concat_ws(" ", F.slice(toks, i, n))),
        ),
    ).otherwise(F.array().cast(key_t))
    spans = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(windows).alias("pos", "span_hash"),
    )
    if prefilter == "hot_hash":
        import warnings

        # pass 1: exact counts with NO positions — map-side combinable,
        # narrowest possible shuffle rows; the surviving counts are
        # final, so the positional pass (2) needs no re-count.
        # NOTE: this branch runs ONE eager Spark job at construction
        # time (the bounded collect below) — the broadcast-vs-shuffle
        # decision is a plan-time choice, so it cannot be deferred to
        # the caller's action. No persisted/checkpointed state is left
        # behind (ADVICE r7): the broadcast path ships the collected
        # rows, and the fallback path re-derives ``hot`` lazily inside
        # the final plan.
        hot = (
            df.select(F.explode(windows).alias("span_hash"))
            .groupBy("span_hash")
            .agg(F.count("*").alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= min_count)
        )
        key_bytes = 56 if hash_fn == "md5" else 24
        budget_rows = (max_broadcast_mb << 20) // key_bytes
        # one job: fetch up to budget+1 rows — both the size probe and
        # (when it fits) the broadcast payload in a single pass. Arrow
        # both ways (toArrow / createDataFrame-from-Arrow): near the
        # budget ceiling this is millions of rows, which as Python Row
        # objects would cost ~10× the nominal broadcast size on the
        # driver
        hot_tbl = hot.limit(budget_rows + 1).toArrow()
        if hot_tbl.num_rows <= budget_rows:
            spark = df.sparkSession
            hot_local = spark.createDataFrame(hot_tbl, schema=hot.schema)
            dups = spans.join(F.broadcast(hot_local), "span_hash")
        else:
            warnings.warn(
                f"hot_hash prefilter: >{budget_rows} duplicated hashes "
                f"exceed the {max_broadcast_mb} MB broadcast budget — "
                "falling back to a shuffle join (result identical; if "
                "most windows repeat, skip the prefilter)"
            )
            dups = spans.join(hot, "span_hash")
        w = Window.partitionBy("span_hash")
        first = F.min(F.struct("doc_id", "pos")).over(w)
        return dups.select(
            "doc_id",
            "pos",
            "span_hash",
            "n_occurrences",
            (
                (F.col("doc_id") == first["doc_id"])
                & (F.col("pos") == first["pos"])
            ).alias("keep"),
        )
    # both aggregates run over an ORDER-free window: count needs no
    # order, and "first occurrence" is the window MIN of (doc_id, pos).
    # row_number() would add (doc_id, pos) to the window sort key —
    # Spark sorts window partitions by (partition key ⧺ order key), so
    # the min-compare form shortens the 10⁸-row sort key to the hash
    # alone (measured ~10% at 81M windows; identical output, pinned by
    # the span tests and the byte-exact oracle)
    w = Window.partitionBy("span_hash")
    first = F.min(F.struct("doc_id", "pos")).over(w)
    return (
        spans.withColumn("n_occurrences", F.count("*").over(w))
        .withColumn(
            "keep",
            (F.col("doc_id") == first["doc_id"]) & (F.col("pos") == first["pos"]),
        )
        .filter(F.col("n_occurrences") >= min_count)
        .select("doc_id", "pos", "span_hash", "n_occurrences", "keep")
    )


def span_dedup_stats(
    df: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    prefilter: str | None = None,
    max_broadcast_mb: int = 256,
) -> DataFrame:
    """Per-document duplicated-substring profile: total n-token windows,
    windows whose content appears elsewhere in the corpus, and the
    duplicated fraction — the score a span-level dedup pass thresholds
    on. Documents shorter than n tokens have no windows and report 0."""
    from faiss_spark.functions.text import tokens

    dups = duplicated_spans(
        df, n=n, text_col=text_col, id_col=id_col, hash_fn=hash_fn,
        prefilter=prefilter, max_broadcast_mb=max_broadcast_mb,
    )
    per_doc = dups.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_removable"),
    )
    base = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.greatest(
            F.size(tokens(F.col(text_col))) - (n - 1), F.lit(0)
        ).alias("n_spans"),
    )
    # dup_frac is truncated to 1e-6 via floor(x*1e6)/1e6 — both operands
    # are exact IEEE ops, so Spark and any SQL oracle produce the same
    # double BITS (engine round() implementations differ in ULPs);
    # integer outputs are all bigint for the same cross-engine reason
    frac = F.when(
        F.col("n_spans") > 0,
        F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"),
    ).otherwise(F.lit(0.0))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_spans").cast("bigint").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("n_removable", F.lit(0)).cast("bigint").alias("n_removable"),
            (F.floor(frac * 1e6) / F.lit(1e6)).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    prefilter: str | None = None,
    max_broadcast_mb: int = 256,
) -> DataFrame:
    """The span-removal transform: drop every token covered by a
    NON-FIRST occurrence of a duplicated n-token window (keep-first
    corpus-wide), rebuilding the document from the surviving tokens —
    the rewrite step of exact-substring training-data dedup.

    Returns (doc_id, text, n_tokens, n_tokens_removed). Entirely JVM
    higher-order functions after the one span-hash shuffle: the interval
    mask is evaluated as exists(pos ≤ i < pos+n) per token index, so the
    operator stays whole-stage-codegen with a byte-exact DuckDB twin.
    Docs with no removable spans pass through unchanged."""
    from faiss_spark.functions.text import tokens

    dups = duplicated_spans(
        df, n=n, text_col=text_col, id_col=id_col, hash_fn=hash_fn,
        prefilter=prefilter, max_broadcast_mb=max_broadcast_mb,
    )
    removable = (
        dups.filter(~F.col("keep"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("rm"))
    )
    base = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        tokens(F.col(text_col)).alias("t"),
    )
    joined = base.join(removable, "doc_id", "left").withColumn(
        "rm", F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.transform(
            F.col("t"), lambda tok, i: F.struct(tok.alias("tok"), i.alias("i"))
        ),
        lambda s: ~F.exists(
            F.col("rm"), lambda p: (p <= s["i"]) & (s["i"] < p + n)
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", F.transform(kept, lambda s: s["tok"])).alias("text"),
        F.size("t").alias("n_tokens"),
        (F.size("t") - F.size(kept)).alias("n_tokens_removed"),
    )
