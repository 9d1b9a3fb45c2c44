"""Text-analysis functions for LLM training-data pipelines.

Everything here is a pure Spark SQL Column expression — JVM-side,
whole-stage-codegen'd, zero Python on the hot path — so a 100 TB
documents scan stays a single codegen stage and every function has an
exact ANSI-SQL twin for the DuckDB oracle.

Capabilities: tokenization, token counting, document fingerprinting,
quality scoring (length / punctuation / stopword signals), n-gram
shingling, and a stopword-profile language-ID heuristic. These extend
the reference's scope (faiss is vectors-only) per the engine's
LLM-pipeline mandate; the dedup primitives that consume them live in
operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small deterministic stopword profiles for the language-ID heuristic.
# Order matters: ties resolve to the first language in this list.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "es": ("el", "la", "de", "y", "que", "los", "un"),
    "de": ("der", "die", "und", "das", "ein", "ist", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "est"),
}

STOPWORDS_EN = LANG_PROFILES["en"] + ("it", "for", "on", "with", "as")


def bind(expr: Column, fn) -> Column:
    """Evaluate `expr` ONCE and pass it to `fn` as a bound lambda variable:
    ``element_at(transform(array(expr), x -> fn(x)), 1)``.

    Spark evaluates higher-order-function lambdas interpreted and without
    common-subexpression elimination, so an expression referenced inside a
    nested lambda is re-computed per element — e.g. re-running the
    tokenizer regex once per shingle per hash. Binding through a 1-element
    transform forces single evaluation. (Measured 12× end-to-end on the
    minhash pipeline.)"""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def normalize_text(text: Column) -> Column:
    """Lowercase + whitespace-collapse canonical form (the dedup key)."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def tokens(text: Column) -> Column:
    """Whitespace tokenization of the normalized text -> array<string>."""
    return F.split(normalize_text(text), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (Exact-dedup key; the Spark md5 and DuckDB md5 agree byte-for-byte.)"""
    return F.md5(normalize_text(text))


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; documents shorter than n words get a
    single whole-document shingle (so every doc has ≥1 shingle; NULL text
    gives ``[""]``).

    One codegen'd regex over the normalized text: at every token start
    (string start or after a space) a lookahead captures the next n
    space-separated tokens, so the matches are exactly the n-grams of
    ``tokens(text)``, empty tokens included, in order. Its second branch
    matches only at the start of a text of fewer than n tokens and
    captures all of it."""
    short = "" if n == 1 else f"|^[^ ]*(?: [^ ]*){{0,{n - 2}}}\\z"
    grams = F.regexp_extract_all(
        normalize_text(text),
        F.lit(f"(?<=^| )(?=([^ ]*(?: [^ ]*){{{n - 1}}}{short}))"),
        1,
    )
    return F.coalesce(F.array_distinct(grams), F.array(F.lit("")))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    clean = F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")
    return F.length(clean) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    toks = tokens(text)
    stop = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, low punctuation
    noise, presence of function words. Deterministic; SQL-expressible."""
    ntok = token_count(text).cast("double")
    length_component = F.least(ntok / F.lit(64.0), F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(
        punct_ratio(text) * F.lit(4.0), F.lit(1.0)
    )
    stop_component = F.least(
        stopword_ratio(text) * F.lit(8.0), F.lit(1.0)
    )
    return (
        F.lit(0.4) * length_component
        + F.lit(0.3) * punct_component
        + F.lit(0.3) * stop_component
    )


def lang_hits(text: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of `lang`."""
    toks = tokens(text)
    stop = F.array(*[F.lit(s) for s in LANG_PROFILES[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))


def lang_id(text: Column) -> Column:
    """Stopword-profile language ID: argmax of per-language stopword hits,
    first language in LANG_PROFILES wins ties; 'und' when no hits."""
    langs = list(LANG_PROFILES)
    hits = {l: lang_hits(text, l) for l in langs}
    best = None
    best_hits = None
    for l in langs:
        if best is None:
            best, best_hits = F.lit(l), hits[l]
        else:
            cond = hits[l] > best_hits
            best = F.when(cond, F.lit(l)).otherwise(best)
            best_hits = F.when(cond, hits[l]).otherwise(best_hits)
    return F.when(best_hits > 0, best).otherwise(F.lit("und"))


def rolling_hash_fingerprint(text: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: minimum md5 over word
    `window`-grams — robust to local edits, unlike the exact md5.
    (The classic "document fingerprinting" primitive.)"""
    grams = shingles(text, window)
    return F.array_min(F.transform(grams, F.md5))


# BPE-ish pre-tokenizer pattern (GPT-2 style, ASCII simplification — no
# unicode property classes so the same pattern runs on Java regex and
# RE2/DuckDB identically): contractions, letter runs, digit runs,
# punctuation runs, whitespace runs.
BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """Sub-word-ish token count: number of BPE pre-tokenizer pieces
    (the "BPE-ish regex" token counter for LLM data budgeting — counts
    pieces, not merged BPE ids, which is the standard cheap proxy)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0)))


def term_frequencies(
    df, text_col: str = "text", id_col: str = "doc_id", min_df: int = 1
):
    """Corpus vocabulary statistics: one row per distinct token with
    term frequency (total occurrences) and document frequency (docs
    containing it). The input to tokenizer/vocab training and to
    df-based shingle pruning in the dedup pipeline.

    Plan: explode(tokens) → one hash shuffle keyed on the token with
    map-side partial aggregation; token keys are near-uniform so the
    shuffle is skew-safe (natural-language head tokens like 'the' are
    hot but partial aggregation collapses them map-side first).
    Returns (token, tf, df) with df ≥ min_df."""
    from pyspark.sql import functions as F

    posted = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    return (
        posted.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("id").alias("df"),
        )
        .filter(F.col("df") >= min_df)
    )


def filter_corpus(
    df,
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 8,
    max_tokens: int = 512,
    langs: tuple[str, ...] = ("en",),
):
    """The quality-filtering pipeline step: keep documents that pass the
    composite quality score, a token-count band, and a language allow-
    list — the standard pretraining-corpus gate, as one narrow scan with
    every predicate in whole-stage codegen (filters evaluated before any
    shuffle; at 100 TB this is a map-only job).

    Decisions are made on the 6-dp-ROUNDED quality score so an exact SQL
    twin reaches identical keep/drop choices at float boundaries."""
    from pyspark.sql import functions as F

    q = F.round(quality_score(F.col(text_col)), 6)
    nt = token_count(F.col(text_col))
    lp = lang_id(F.col(text_col))
    return (
        df.withColumn("quality", q)
        .withColumn("ntok", nt)
        .withColumn("lang_pred", lp)
        .filter(
            (F.col("quality") >= min_quality)
            & (F.col("ntok") >= min_tokens)
            & (F.col("ntok") <= max_tokens)
            & F.col("lang_pred").isin(*langs)
        )
    )


def pii_features(text: Column) -> Column:
    """Counts of common PII-shaped patterns — the redaction/filter signal
    of a pretraining pipeline: struct(n_emails, n_urls, n_phones). Pure
    codegen regexes over the normalized text, patterns chosen to count
    identically under Java regex and RE2 (the DuckDB oracle): email =
    user@host.tld tokens, url = http(s) scheme, phone = any ≥7-digit run
    after separators ('-', '(', ')', ' ') are removed — non-overlapping
    counts in both engines."""
    norm = normalize_text(text)
    emails = F.regexp_count(norm, F.lit(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"))
    urls = F.regexp_count(norm, F.lit(r"https?://[^ ]+"))
    phones = F.regexp_count(
        F.regexp_replace(norm, r"[-() ]", ""), F.lit(r"[0-9]{7,}")
    )
    return F.struct(
        emails.cast("int").alias("n_emails"),
        urls.cast("int").alias("n_urls"),
        phones.cast("int").alias("n_phones"),
    )


def repetition_features(text: Column, ns: tuple[int, ...] = (2, 3)) -> Column:
    """Duplicate n-gram fractions — the repetition quality signal of a
    pretraining pipeline (heavily repeated phrases indicate boilerplate
    or degenerate text): for each n, 1 − distinct/total over the doc's
    word n-grams (0 for docs shorter than n words). Pure codegen; struct
    field names are rep_<n>."""

    def one(n: int) -> Column:
        def build(t: Column) -> Column:
            grams = F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
            total = F.size(grams)
            dup = (total - F.size(F.array_distinct(grams))).cast("double")
            return F.when(F.size(t) >= n, F.round(dup / total, 6)).otherwise(
                F.lit(0.0)
            )

        return bind(tokens(text), build).alias(f"rep_{n}")

    return F.struct(*[one(n) for n in ns])


def bigram_frequencies(
    df, text_col: str = "text", id_col: str = "doc_id", min_count: int = 1
):
    """Adjacent-token-pair statistics — the counting step of one
    BPE-style merge iteration lifted to the (whitespace) token level:
    one row per distinct adjacent pair with total occurrences and
    document frequency. The input to merge-rule selection in vocabulary
    induction, and to phrase/collocation mining over a corpus.

    Plan: a codegen window expression builds each doc's pair list (no
    self-join), explode → ONE hash shuffle keyed on the pair with
    map-side partial aggregation — same scale shape as
    ``term_frequencies``. Returns (pair, tf, df) with tf ≥ min_count."""
    from pyspark.sql import functions as F

    toks = tokens(F.col(text_col))
    # guard: Spark's sequence(1, 0) is DESCENDING — short docs (< 2
    # tokens) must yield an empty pair list explicitly
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    posted = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.explode(pairs).alias("pair")
    )
    return (
        posted.groupBy("pair")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("id").alias("df"),
        )
        .filter(F.col("tf") >= min_count)
    )


def char_ngram_counts(
    df, n: int = 3, text_col: str = "text", min_count: int = 1
):
    """Character n-gram statistics over normalized text: one row per
    distinct n-gram with its total occurrence count. The training step
    of a CCNet-style corpus language model (char n-grams stand in for
    the KenLM word model — same shape, stdlib-only).

    Plan: codegen substring expansion per doc, explode → ONE hash
    shuffle keyed on the gram with map-side partial aggregation (the
    term_frequencies scale shape). The result vocabulary is bounded by
    charset^n, not corpus size, so it broadcasts at any corpus scale."""
    norm = normalize_text(F.col(text_col))
    grams = F.when(
        F.length(norm) >= n,
        bind(
            norm,
            lambda s: F.transform(
                F.sequence(F.lit(1), F.length(s) - (n - 1)),
                lambda i: F.substring(s, i, n),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def char_ngram_perplexity(
    df, n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    model=None, carry_cols: tuple = (),
):
    """Per-document bits-per-character under a char n-gram unigram model
    — the CCNet/Wikipedia-LM quality-filter signal of a pretraining
    pipeline (docs whose n-gram distribution diverges from the corpus
    score high and get filtered or down-weighted).

    ``model`` is a (gram, cnt) DataFrame from ``char_ngram_counts``;
    None self-trains on ``df`` (the corpus-perplexity mode — every doc
    gram is then in-vocabulary by construction). Scoring:
    bpc(doc) = −Σ_g log2(cnt_g / total) / n_grams(doc); out-of-vocab
    grams under an external model are dropped from the sum (CCNet drops
    OOV too). Docs shorter than n normalized chars yield no row.

    Scale shape: the model table is bounded by charset^n (NOT corpus
    size) → broadcast hash join against the exploded doc grams; the
    per-doc aggregation re-groups by doc id — one shuffle keyed on the
    id, map-side combinable. ``carry_cols`` names per-doc columns to
    thread through the per-doc groupBy as extra grouping keys (ids are
    unique, so the grouping cardinality is unchanged) — callers that
    need doc attributes downstream (perplexity_buckets' language column)
    avoid a second corpus scan + id-keyed re-join. Returns
    (id, *carry_cols, n_grams, bpc)."""
    from pyspark.sql.functions import broadcast

    if model is None:
        model = char_ngram_counts(df, n=n, text_col=text_col)
    total = model.agg(F.sum("cnt")).first()[0]
    logp = model.select(
        "gram", (F.log2(F.col("cnt").cast("double") / float(total))).alias("lp")
    )
    norm = normalize_text(F.col(text_col))
    grams = F.when(
        F.length(norm) >= n,
        bind(
            norm,
            lambda s: F.transform(
                F.sequence(F.lit(1), F.length(s) - (n - 1)),
                lambda i: F.substring(s, i, n),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    posted = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        *[F.col(c) for c in carry_cols],
        F.explode(grams).alias("gram"),
    )
    return (
        posted.join(broadcast(logp), "gram")
        .groupBy("id", *carry_cols)
        .agg(
            F.count("*").alias("n_grams"),
            (-F.sum("lp") / F.count("*")).alias("bpc"),
        )
    )


def perplexity_buckets(
    df,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    model=None,
    exact: bool = False,
    round_bpc: int = 4,
):
    """CCNet's head/middle/tail split (Wenzek et al. 2019 §4.4): within
    each language, bucket documents into perplexity terciles — "head"
    (lowest perplexity, most Wikipedia-like), "middle", "tail". Training
    recipes then keep head+middle, or sample the tail at a reduced rate.

    Perplexity = ``char_ngram_perplexity`` bits-per-character (self-
    trained corpus model by default; pass ``model`` for an external
    reference model, the true CCNet configuration). bpc is rounded to
    ``round_bpc`` decimals BEFORE thresholding (per-doc log-prob sums are
    order-dependent at ~1e-13; bucket boundaries must not hinge on
    reduction order).

    Scale shape: thresholds are a per-language AGGREGATE — never a
    per-language sorted window (the one-task-per-language straggler
    CCNet's own sample-based thresholds avoid). ``exact=False`` (default,
    the 100 TB path) uses ``percentile_approx`` — a t-digest-style sketch
    aggregate, map-side combinable; ``exact=True`` uses the exact
    interpolated ``percentile`` (what a SQL twin can reproduce). Either
    way the tiny (group, t1, t2) table broadcasts and assignment is
    map-only. The group column rides through char_ngram_perplexity's
    per-doc groupBy as an extra key (carry_cols) — one corpus scan, no
    id-keyed re-join. Returns (id, group, n_grams, bpc, bucket)."""
    grouped = char_ngram_perplexity(
        df.select(
            F.col(id_col), F.col(text_col), F.col(group_col).alias("grp")
        ),
        n=n, text_col=text_col, id_col=id_col, model=model,
        carry_cols=("grp",),
    ).withColumn("bpc", F.round("bpc", round_bpc))
    p1, p2 = 1.0 / 3.0, 2.0 / 3.0
    fn = "percentile" if exact else "percentile_approx"
    thresholds = grouped.groupBy("grp").agg(
        F.round(F.expr(f"{fn}(bpc, {p1!r})"), 9).alias("t1"),
        F.round(F.expr(f"{fn}(bpc, {p2!r})"), 9).alias("t2"),
    )
    return (
        grouped.join(F.broadcast(thresholds), "grp")
        .select(
            "id",
            F.col("grp").alias(group_col),
            "n_grams",
            "bpc",
            F.when(F.col("bpc") <= F.col("t1"), F.lit("head"))
            .when(F.col("bpc") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


# The eight high-frequency English function words the Gopher rules test
# for (Rae et al. 2021, appendix A1.1 "quality filtering"): a document
# should contain at least 2 of them.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    """The published Gopher document-quality rule set (Rae et al. 2021,
    appendix A1.1) as ONE codegen struct — the standard first-pass
    pretraining filter. Fields: n_words, mean_word_len (chars per
    whitespace token), symbol_word_ratio ('#' + '...' + '…' occurrences
    per word), bullet_frac / ellipsis_frac (fraction of newline-split
    raw-text lines starting with a bullet / ending with an ellipsis),
    alpha_word_frac (fraction of tokens containing a letter), stop_hits
    (DISTINCT GOPHER_STOPWORDS present), and `passes` — the conjunction
    of the paper's thresholds (defaults are the paper's values).

    Pure Spark SQL expressions — a 100 TB corpus gate is one map-only
    codegen scan with zero shuffles, and every field has an exact
    DuckDB twin (★gopher_quality). Word stats run over the normalized
    text; line stats run over the RAW text (normalization collapses
    newlines, which would erase the line structure the bullet/ellipsis
    rules inspect)."""

    def build_words(toks: Column) -> Column:
        n_words = F.size(toks)
        nw = F.greatest(n_words, F.lit(1)).cast("double")
        mean_len = (
            F.aggregate(
                toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
            )
            / nw
        )
        alpha_frac = (
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / nw
        )
        stop = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        stop_hits = F.size(
            F.filter(stop, lambda s: F.array_contains(toks, s))
        )
        return F.struct(
            n_words.alias("n_words"),
            mean_len.alias("mean_word_len"),
            alpha_frac.alias("alpha_word_frac"),
            stop_hits.alias("stop_hits"),
        )

    def build_lines(lines: Column) -> Column:
        n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
        bullet = F.size(
            F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]"))
        )
        ellipsis = F.size(
            F.filter(
                lines,
                lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"),
            )
        )
        return F.struct(
            (bullet / n_lines).alias("bullet_frac"),
            (ellipsis / n_lines).alias("ellipsis_frac"),
        )

    w = bind(tokens(text), build_words)
    li = bind(F.split(text, "\n"), build_lines)
    symbols = (
        F.regexp_count(text, F.lit("#"))
        + F.regexp_count(text, F.lit(r"\.\.\."))
        + F.regexp_count(text, F.lit("…"))
    )
    # evaluate both sub-structs once
    def assemble(pair: Column) -> Column:
        ws, ls = pair["w"], pair["l"]
        symbol_ratio = pair["sym"] / F.greatest(
            ws["n_words"], F.lit(1)
        ).cast("double")
        passes = (
            (ws["n_words"] >= min_words)
            & (ws["n_words"] <= max_words)
            & (ws["mean_word_len"] >= min_mean_word_len)
            & (ws["mean_word_len"] <= max_mean_word_len)
            & (symbol_ratio <= max_symbol_word_ratio)
            & (ls["bullet_frac"] <= max_bullet_frac)
            & (ls["ellipsis_frac"] <= max_ellipsis_frac)
            & (ws["alpha_word_frac"] >= min_alpha_word_frac)
            & (ws["stop_hits"] >= min_stop_hits)
        )
        return F.struct(
            ws["n_words"].alias("n_words"),
            F.round(ws["mean_word_len"], 6).alias("mean_word_len"),
            F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
            F.round(ls["bullet_frac"], 6).alias("bullet_frac"),
            F.round(ls["ellipsis_frac"], 6).alias("ellipsis_frac"),
            F.round(ws["alpha_word_frac"], 6).alias("alpha_word_frac"),
            ws["stop_hits"].alias("stop_hits"),
            passes.alias("passes"),
        )

    return bind(
        F.struct(
            w.alias("w"), li.alias("l"), symbols.cast("double").alias("sym")
        ),
        assemble,
    )


def _sliding_grams(toks: Column, n: int) -> Column:
    """NON-distinct sliding word n-grams (repetition analysis needs the
    multiplicities that `shingles` deliberately discards)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_ngram_char_frac(text: Column, n: int) -> Column:
    """Fraction of the normalized text's characters attributable to the
    single most frequent word n-gram (Gopher A1.1 repetition signal for
    n in {2,3,4}): count(top gram) · len(top gram) / len(text), capped
    at 1.0 (occurrences of a sliding gram may overlap). Ties break to
    the lexicographically smallest gram, so the value is deterministic.

    Plan: sort the gram list once, then ONE linear `aggregate` fold
    over the sorted runs — O(G log G) per document in codegen, no
    quadratic distinct×total rescan, no shuffle."""

    def build(pair: Column) -> Column:
        s, norm_len = pair["s"], pair["nl"]
        init = F.struct(
            F.lit("").alias("cur"),
            F.lit(0).alias("curn"),
            F.lit("").alias("best"),
            F.lit(0).alias("bestn"),
        )

        def merge(acc: Column, g: Column) -> Column:
            curn = F.when(g == acc["cur"], acc["curn"] + 1).otherwise(
                F.lit(1)
            )
            # strict > keeps the FIRST (lexicographically smallest,
            # since the list is sorted) gram on count ties
            better = curn > acc["bestn"]
            return F.struct(
                g.alias("cur"),
                curn.alias("curn"),
                F.when(better, g).otherwise(acc["best"]).alias("best"),
                F.when(better, curn).otherwise(acc["bestn"]).alias("bestn"),
            )

        top = F.aggregate(s, init, merge)
        frac = (
            top["bestn"].cast("double")
            * F.length(top["best"]).cast("double")
            / F.greatest(norm_len, F.lit(1)).cast("double")
        )
        return F.when(
            F.size(s) > 0, F.round(F.least(frac, F.lit(1.0)), 6)
        ).otherwise(F.lit(0.0))

    return bind(
        F.struct(
            F.array_sort(_sliding_grams(tokens(text), n)).alias("s"),
            F.length(normalize_text(text)).alias("nl"),
        ),
        build,
    )


def dup_ngram_char_frac(text: Column, n: int) -> Column:
    """Fraction of the normalized text's characters attributable to word
    n-grams occurring MORE THAN ONCE in the document (Gopher A1.1 uses
    this for n in {5..10}): Σ_{g: count(g)≥2} count(g)·len(g) / len(text),
    capped at 1.0. An occurrence is duplicated iff it equals a neighbor
    in the sorted gram list, so the sum is one linear codegen pass —
    O(G log G) per document, map-only at any corpus scale."""

    def build(pair: Column) -> Column:
        s, norm_len = pair["s"], pair["nl"]
        mass = F.aggregate(
            F.sequence(F.lit(1), F.greatest(F.size(s), F.lit(1))),
            F.lit(0.0),
            # element_at is evaluated eagerly on BOTH Or branches, and
            # index 0 throws even under try_ — clamp the left-neighbor
            # index to 1 and let the (i > 1) conjunct void that case
            lambda acc, i: acc
            + F.when(
                (
                    (i > 1)
                    & (
                        F.try_element_at(s, i)
                        == F.try_element_at(s, F.greatest(i - 1, F.lit(1)))
                    )
                )
                | (F.try_element_at(s, i) == F.try_element_at(s, i + 1)),
                F.length(F.try_element_at(s, i)).cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        frac = mass / F.greatest(norm_len, F.lit(1)).cast("double")
        return F.when(
            F.size(s) > 0, F.round(F.least(frac, F.lit(1.0)), 6)
        ).otherwise(F.lit(0.0))

    return bind(
        F.struct(
            F.array_sort(_sliding_grams(tokens(text), n)).alias("s"),
            F.length(normalize_text(text)).alias("nl"),
        ),
        build,
    )
